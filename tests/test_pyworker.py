"""Cheaper reused Spark Python workers (``lucene_plugin_spark/pyworker.py``):
``importlib.invalidate_caches()`` re-reads a zip archive's directory only
after the archive changed, in the test process and in Spark's Python
workers, and a worker's heap is frozen for the daemon's per-task
``gc.collect()``."""

import importlib
import os
import sys
import zipfile
import zipimport

import lucene_plugin_spark  # noqa: F401  (installs the wrapper)


def _write_zip(path, body, mtime_ns):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyworker_probe.py", body)
    os.utime(path, ns=(mtime_ns, mtime_ns))


def test_invalidate_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    zp = str(tmp_path / "mods.zip")
    _write_zip(zp, "VALUE = 1\n", 1_000_000_000 * 10**9)
    monkeypatch.syspath_prepend(zp)
    monkeypatch.delitem(sys.modules, "pyworker_probe", raising=False)
    import pyworker_probe
    assert pyworker_probe.VALUE == 1
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real(p))
    importlib.invalidate_caches()  # the first call records each stamp
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(zp, "VALUE = 22  # rewritten\n", 1_000_000_002 * 10**9)
    importlib.invalidate_caches()
    assert reads == [zp]
    del sys.modules["pyworker_probe"]
    import pyworker_probe as again
    assert again.VALUE == 22


def test_spark_workers_carry_the_wrapper(spark):
    def _probe(batches):
        """Runs in a Spark Python worker: whether the wrapper is in place,
        how many zip importers the worker holds, how many archive
        directories a second ``invalidate_caches`` re-reads, and how many
        objects are frozen."""
        import gc
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        import lucene_plugin_spark  # noqa: F401  (what any kernel's import does)
        for _ in batches:
            pass
        importlib.invalidate_caches()
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "wrapped": [hasattr(zipimport.zipimporter.invalidate_caches,
                                "__wrapped__")],
            "zips": [len(zips)], "rereads": [len(reads)],
            "frozen": [gc.get_freeze_count()]})

    rows = (spark.range(4).repartition(4)
            .mapInPandas(_probe, "pid long, wrapped boolean, zips long, "
                                 "rereads long, frozen long").collect())
    assert len(rows) == 4
    assert all(r["wrapped"] for r in rows)
    assert all(r["rereads"] == 0 for r in rows)
    assert all(r["zips"] > 0 for r in rows)  # workers import pyspark.zip
    assert all(r["frozen"] > 0 for r in rows)
