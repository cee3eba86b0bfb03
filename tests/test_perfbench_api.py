"""The benchmark under ``perfbench/`` imports ``hlld_spark`` names inside
its functions, so a rename breaks it only when it runs. Resolve every
such import here, statically from the source."""

import ast
import glob
import importlib
import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _hlld_imports():
    out = []
    for path in sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read(), filename=path)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 0 and (node.module or "").startswith("hlld_spark"):
                out += [(os.path.basename(path), node.module, a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                out += [(os.path.basename(path), a.name, None) for a in node.names if a.name.startswith("hlld_spark")]
    return out


IMPORTS = _hlld_imports()


def test_perfbench_imports_hlld_spark():
    assert len(IMPORTS) >= 10


@pytest.mark.parametrize("where, module, name", IMPORTS, ids=lambda x: str(x))
def test_perfbench_import_resolves(where, module, name):
    mod = importlib.import_module(module)
    if name is not None:
        assert hasattr(mod, name) or importlib.util.find_spec(f"{module}.{name}"), (
            f"perfbench/{where} imports {name} from {module}, which no longer defines it"
        )


def test_perfbench_accumulator_surface():
    """The kernel replay drives each accumulator through these calls."""
    from hlld_spark.core.accumulator import HllSpec, accumulator_for, new_builder
    from hlld_spark.core.bloom import BloomSpec
    from hlld_spark.core.cms import CmsSpec
    from hlld_spark.core.kll import KllSpec
    from hlld_spark.core.tdigest import TDigestSpec

    for spec in (HllSpec(12), KllSpec(), TDigestSpec(), CmsSpec(), BloomSpec(bits=64, hashes=2)):
        acc = accumulator_for(spec)
        for method in ("zero", "prepare_batch", "update_prepared", "merge", "serialize", "estimate"):
            assert callable(getattr(acc, method, None)), (spec.kind, method)
        builder = new_builder(acc, spec)
        assert callable(builder.add_prepared) and callable(builder.finish)
