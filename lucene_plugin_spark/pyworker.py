"""Cheaper reused Spark Python workers: the fixed CPU a worker spends
between two tasks, before the next task's function starts.

Measured at ``local[4]`` on a 4-vCPU host, a reused worker spent 183-277 ms
of CPU between two trivial tasks, in two places:

- PySpark's worker calls ``importlib.invalidate_caches()`` before every
  task (``worker_util.setup_spark_files``).  On Python 3.11 each
  ``zipimport.zipimporter`` then re-reads its whole archive directory at
  once, and a worker that imports pyspark from ``pyspark.zip`` holds about
  16 of them (pyspark.zip and its package dirs, the py4j zip, the
  spark-core jar).  :func:`install` wraps ``invalidate_caches`` so it
  re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs from
  the one recorded at its last re-read (or it has none): an importer still
  sees its archive's current directory, at the cost of one ``stat`` per
  importer.
- PySpark's daemon runs a full ``gc.collect()`` after every task of a
  reused worker, about 40 ms over the objects of the modules a worker has
  imported (pyspark, pandas, pyarrow, this package).  Inside a Spark task,
  :func:`install` collects once and then ``gc.freeze()``\\ s what is left, so
  later collections scan only the objects created after it.  Frozen objects
  are still freed when their reference count drops; only a cycle among
  them would never be collected.

Every kernel of this package runs in a worker that imports the package, so
the package calls :func:`install` when it is imported; in the driver it
only wraps ``invalidate_caches``.  With both, the CPU between two trivial
tasks on a reused worker fell to about 3 ms.
"""

from __future__ import annotations

import gc
import os
import zipimport

#: archive path -> (st_mtime_ns, st_size) when it was last re-read
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` and, inside a Spark
    task, freeze the collected heap (once per process)."""
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "__wrapped__", None) is not None:
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None \
                and _stamps.get(self.archive) == stamp:
            self._files = files  # what a re-read of the unchanged archive gives
            return
        reread(self)
        _stamps[self.archive] = stamp

    invalidate_caches.__wrapped__ = reread
    invalidate_caches.__doc__ = reread.__doc__
    cls.invalidate_caches = invalidate_caches

    from pyspark import TaskContext
    if TaskContext.get() is not None:
        gc.collect()
        gc.freeze()
