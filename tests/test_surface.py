"""The ``hlld_spark/`` surface holds only what its traffic reaches.

An AST reachability walk, no Spark and no imports of the package:

* roots are every identifier in the code (not the docstrings) of the
  Spark entry point and its queries (``__spark_entry__.py``), the
  bench leaves (``bench.py``, ``bench_extra.py``), ``scripts/``,
  ``perfbench/`` and ``examples/``; the module-level statements of ``hlld_spark/`` other
  than definitions and imports (``register_accumulator(...)``,
  ``if __name__ == "__main__"``); and every identifier inside a
  backtick span of COVERAGE.md (a capability with a COVERAGE row stays);
* names resolve conservatively, by name: a reached name reaches every
  top-level definition of that name, and a reached definition reaches
  every name in its body (so a reached class reaches all its methods).

A top-level def, class or assigned name under ``hlld_spark/`` that the
walk does not reach must be on ``KEEP`` with its reason, or be deleted
with its tests. A second check fails on a module-level import that its
module, under ``hlld_spark/`` or ``tests/``, never uses, unless the
import carries ``# noqa``.
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "hlld_spark")
TRAFFIC = ("__spark_entry__.py", "bench.py", "bench_extra.py", "scripts", "perfbench", "examples")

_ORACLE = "test oracle for live code"
_SUPPORT = "test support"
_FINGERPRINTS = "feeds hot_fingerprints (COVERAGE: hot fingerprints)"
_TEXT_SQL = "documented API: README.md's register_text_functions"

#: Unreachable definitions that stay, keyed ``<module path>.<name>``.
KEEP = {
    "operators.multimodal.extract_audio_features": _ORACLE + ": the reference for multimodal_features_parquet",
    "sources.indexed_dataset.read_indexed_dataset": _ORACLE + ": the writer's round-trip reader",
    "sources.indexed_dataset.read_shard": _ORACLE + ": the writer's round-trip reader",
    "sources.indexed_dataset._DTYPES": _ORACLE + ": the round-trip reader's dtype codes",
    "operators.text.with_fingerprint": _FINGERPRINTS,
    "operators.text._rolling_fingerprints": _FINGERPRINTS,
    "operators.text.fingerprint_overlap_pairs": _FINGERPRINTS,
    "plans.explain_tools.executed_plan": _SUPPORT + ": plan-shape assertions",
    "plans.explain_tools.formatted_plan": _SUPPORT + ": plan-shape assertions",
    "plans.explain_tools.exchange_inputs": _SUPPORT + ": plan-shape assertions",
    "plans.explain_tools.read_columns": _SUPPORT + ": plan-shape assertions",
    "plans.explain_tools.scan_info": _SUPPORT + ": plan-shape assertions",
    "operators.multimodal.generate_assets": _SUPPORT + ": the synthetic multimodal asset table",
    "sources.warc.parse_warc_records": _SUPPORT + ": whole-buffer wrapper over the streaming record parser",
    "sources.warc._gunzip_members": _SUPPORT + ": whole-buffer wrapper over the streaming gzip-member reader",
    "functions.text_sql.register_text_functions": _TEXT_SQL,
    "functions.text_sql._lang_id": _TEXT_SQL + " registers it",
    "functions.text_sql._lang_id_profiles": _TEXT_SQL + " registers it",
    "operators.dsir.dsir_default_logratio": "documented API: dsir_logratio_table's docstring names it "
    "as the way to set with_importance_weights(default_logratio=)",
}


def _py_files(path: str):
    if path.endswith(".py"):
        yield path
        return
    for d, _, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _parse(path: str) -> ast.Module:
    """The module's AST with every module, class and function docstring
    removed, so a name mentioned only in prose reaches nothing."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant) \
                    and isinstance(body[0].value.value, str):
                node.body = body[1:] or [ast.Pass()]
    return tree


def _identifiers(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
    return out


def _assigned_names(st: ast.stmt) -> list[str] | None:
    """The names a module-level ``X = ...`` / ``X: T = ...`` defines."""
    if isinstance(st, ast.Assign):
        targets = st.targets
    elif isinstance(st, ast.AnnAssign):
        targets = [st.target]
    else:
        return None
    if all(isinstance(t, ast.Name) for t in targets):
        return [t.id for t in targets]
    return None


def _package_modules():
    for path in _py_files(PACKAGE):
        rel = os.path.relpath(path, PACKAGE)[: -len(".py")]
        yield rel.replace(os.sep, "."), path


def _walk():
    """(definitions, reached): every top-level definition under the
    package as ``{qualified name: (name, node)}``, and the set of names
    the walk reaches."""
    by_name: dict[str, list[ast.AST]] = {}
    defs = {}
    roots = set()
    for mod, path in _package_modules():
        for st in _parse(path).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [st.name]
            else:
                names = _assigned_names(st)
            if names:
                for name in names:
                    by_name.setdefault(name, []).append(st)
                    defs[f"{mod}.{name}"] = (name, st)
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                roots |= _identifiers(st)
    for entry in TRAFFIC:
        for path in _py_files(os.path.join(REPO, entry)):
            roots |= _identifiers(_parse(path))
    with open(os.path.join(REPO, "COVERAGE.md")) as f:
        for span in re.findall(r"`([^`\n]+)`", f.read()):
            roots |= set(re.findall(r"[A-Za-z_]\w*", span))

    reached = set()
    todo = [n for n in roots if n in by_name]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for node in by_name[name]:
            todo.extend(n for n in _identifiers(node) if n in by_name and n not in reached)
    return defs, reached


def test_every_unreachable_def_is_kept_with_a_reason():
    defs, reached = _walk()
    unreachable = {q for q, (name, _) in defs.items() if name not in reached}
    dead = sorted(unreachable - KEEP.keys())
    assert not dead, (
        "no __spark_entry__ query, bench leaf, script, perfbench or example reaches these, "
        "and COVERAGE.md names none of them; delete them with their tests, or add "
        f"each to KEEP with its reason: {dead}"
    )
    stale = sorted(KEEP.keys() - unreachable)
    assert not stale, f"KEEP names defs that are gone or now reached; drop them from KEEP: {stale}"
    assert all(reason.strip() for reason in KEEP.values())


def _module_level_imports(tree: ast.Module):
    """Imports outside any def or class (inside module-level ``if`` and
    ``try`` blocks too)."""
    todo = list(tree.body)
    while todo:
        st = todo.pop()
        if isinstance(st, (ast.Import, ast.ImportFrom)):
            yield st
        elif not isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            todo.extend(c for c in ast.iter_child_nodes(st) if isinstance(c, ast.stmt))


def test_no_unused_module_level_import():
    unused = []
    test_modules = [(os.path.relpath(p, REPO), p) for p in _py_files(os.path.join(REPO, "tests"))]
    for mod, path in [*_package_modules(), *test_modules]:
        with open(path) as f:
            src = f.read()
        lines = src.splitlines()
        tree = ast.parse(src, path)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for st in _module_level_imports(tree):
            if isinstance(st, ast.ImportFrom) and st.module == "__future__":
                continue
            if any("noqa" in line for line in lines[st.lineno - 1 : st.end_lineno]):
                continue
            for alias in st.names:
                bound = (alias.asname or alias.name).split(".")[0]
                if bound not in used:
                    unused.append(f"{mod}:{st.lineno} {bound}")
    assert not unused, f"unused module-level imports (delete them, or mark a side-effect import # noqa): {unused}"
