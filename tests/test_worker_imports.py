"""The lazy zip invalidation that ``ocr_documents_spark`` installs.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; on CPython < 3.13 each zip importer then re-reads its whole
archive directory.  Importing the package makes that call re-read only an
archive that changed since it was last read.
"""

import importlib
import sys
import zipfile
import zipimport

import ocr_documents_spark  # noqa: F401  (installs the lazy invalidation)


def _write_module(archive, source: str) -> None:
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("m.py", source)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_module(archive, "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "m", raising=False)
    import m
    assert m.X == 1
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or read(a))
    try:
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_module(archive, "X = 22\n")
        importlib.invalidate_caches()
        assert importlib.reload(m).X == 22
        assert reads == [str(archive)]

        archive.unlink()
        importlib.invalidate_caches()
    finally:
        sys.modules.pop("m", None)
        sys.path_importer_cache.pop(str(archive), None)


def test_warm_spark_worker_rereads_no_archive(spark):
    P = spark.sparkContext.defaultParallelism

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        fresh = "ocr_documents_spark" not in sys.modules
        import ocr_documents_spark  # noqa: F401
        if fresh:
            # the one read a worker pays before the package is installed
            importlib.invalidate_caches()
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"importers": [importers], "reads": [len(reads)]})

    rows = (spark.range(0, P, 1, P)
            .mapInArrow(probe, "importers long, reads long").collect())
    assert len(rows) == P
    assert all(r.importers > 0 for r in rows), rows
    assert all(r.reads == 0 for r in rows), rows
