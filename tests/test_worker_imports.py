"""``import hlld_spark`` guards ``zipimporter.invalidate_caches`` (Python
< 3.12): an unchanged archive's directory is not re-read, a changed one
is. A reused PySpark worker calls ``importlib.invalidate_caches()``
before every task, so this is what keeps pyspark.zip's directory from
being re-parsed per task."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import hlld_spark  # noqa: F401  (installs the guard)


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="3.12+ re-reads zip directories lazily")
def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("a", "b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import a

    assert a.X == 1
    # the importer's first invalidate records the archive's signature
    importlib.invalidate_caches()

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert str(archive) not in reads

    _write_zip(archive, {"a": "X = 1\n", "b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    import b

    assert b.Y == 2


@pytest.mark.spark
def test_reused_worker_skips_zip_directory_reads(spark):
    """A task on a worker that already ran a hlld_spark task reads no zip
    directory in ``invalidate_caches()``; pyspark.zip is still imported
    through zipimporters, so the guard is what skips the reads."""

    # nested, so it is pickled by value and does not import hlld_spark itself
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        reused = "hlld_spark" in sys.modules
        import hlld_spark  # noqa: F401

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        pyspark_zips = sum(
            isinstance(f, zipimport.zipimporter) and f.archive.endswith("pyspark.zip")
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"reused": [reused], "reads": [len(reads)], "pyspark_zips": [pyspark_zips]}
        )

    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, n, 1, n)
    schema = "reused boolean, reads long, pyspark_zips long"
    df.mapInArrow(probe, schema).collect()  # every idle worker imports hlld_spark
    rows = df.mapInArrow(probe, schema).collect()
    reused = [r for r in rows if r["reused"]]
    assert reused
    assert [r["reads"] for r in reused] == [0] * len(reused)
    assert all(r["pyspark_zips"] > 0 for r in reused)
