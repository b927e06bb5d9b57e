"""``importlib.invalidate_caches()`` re-reads a zip archive on sys.path
only when the archive changed. pyspark's worker makes that call at the
start of every task, so an unchanged ``pyspark.zip`` or Spark jar must
not be re-read each time (``tsf/__init__.py``)."""

import importlib
import sys
import zipfile
import zipimport

import tsf  # noqa: F401  (importing tsf installs the check)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        for name, src in modules.items():
            z.writestr(f"zpkg/{name}.py", src)


def test_unchanged_archive_read_once_changed_archive_reread(
        tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zpkg", raising=False)
    try:
        from zpkg.a import X
        assert X == 1
        reads = []
        read = zipimport._read_directory

        def counting(path):
            if path == archive:
                reads.append(path)
            return read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        for _ in range(5):
            importlib.invalidate_caches()
        assert len(reads) <= 1, reads

        # a rewritten archive is re-read and its new module imports
        _write_zip(archive, {"a": "X = 1\n", "b": "Y = 2\n"})
        reads.clear()
        importlib.invalidate_caches()
        from zpkg.b import Y
        assert Y == 2
        assert len(reads) >= 1
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache
                    if k.startswith(archive)]:
            del sys.path_importer_cache[key]


def test_worker_task_start_rereads_no_archive(spark):
    """In a Python worker that has imported tsf, the per-task
    ``importlib.invalidate_caches()`` reads no zip directory; without
    the check it re-reads ``pyspark.zip`` and the Spark jar ~16 times."""
    import pandas as pd

    def body(batches):
        import importlib
        import zipimport

        import tsf  # noqa: F401  (what unpickling any tsf UDF does)
        importlib.invalidate_caches()  # the task start after the import
        reads = []
        read = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()  # the next task start
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)]})

    got = (spark.range(4, numPartitions=2)
           .mapInPandas(body, "reads long").toPandas())
    assert len(got) == 2 and (got.reads == 0).all(), got
