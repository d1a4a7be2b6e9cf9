"""SparkSession factory with scale-appropriate defaults.

Tuned for correctness tests on local[N] but with every knob chosen the way a
1000-executor / 100 TB deployment would want it: AQE on (runtime re-plan +
skew-join splitting), Arrow transfers on (all hot kernels are pandas UDFs),
shuffle partitions sized to cores locally (set explicitly per-job at scale).

Every session the library builds -- ``get_spark`` and the spark-submit
tools through ``session_builder`` -- turns off PySpark's DataFrame call-site
capture (``spark.python.sql.dataFrameDebugging.enabled=false``, from
``SESSION_CONF``).  With it on, the PySpark 4.1 default, every wrapped
PySpark call (``F.col``, ``select``, ``where``, ...) walks the Python stack,
runs ``import IPython`` and makes about 11 extra py4j round trips to set and
clear its origin: ``F.col("id")`` took 1.6-1.9 ms and 14-15 py4j calls with
capture on, 0.45 ms and 3 calls with it off.  The first such call loads
IPython, traitlets, pygments, parso and jedi, which stay resident for the
life of the process: after the perfbench ``index_refresh`` set-up (a 10k-doc
facade build) the driver read 165.6 MB RSS with capture on and 146.1 MB with
it off (4 vCPU, ``local[4]``).  PySpark reads the setting once per process,
from the session active at the first wrapped call, and it is a static conf,
so it is set when the session is built.

What this gives up: a failing DataFrame call's Spark error no longer names
the user-code line that made it.  A caller who passes a session of their
own to the library keeps that session's setting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


# Settings every session the library builds carries, whatever its master.
SESSION_CONF = {"spark.python.sql.dataFrameDebugging.enabled": "false"}


def session_builder(app_name: str) -> SparkSession.Builder:
    """A builder named ``app_name`` with ``SESSION_CONF`` set; the
    spark-submit tools take it as is, ``get_spark`` adds local defaults."""
    return SparkSession.builder.appName(app_name).config(map=SESSION_CONF)


def get_spark(app_name: str = "lucene_plugin_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    b = (
        session_builder(app_name).master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Whole-file scan tasks, exactly one file per task: the query kernel
        # requires task <-> doc-slice alignment (a task must hold ALL of a
        # slice's query-term postings for per-slice top-k to be valid), so a
        # slice file must never SPLIT across tasks.  maxPartitionBytes=4g
        # keeps maxSplitBytes above any file size (no splits); openCost=4g
        # makes Spark's bin-packing close a partition after every file (no
        # multi-file lumping -> scan parallelism = #files).  Predicate
        # pushdown keeps big-file tasks cheap: only matching row groups are
        # read.
        .config("spark.sql.files.maxPartitionBytes", str(4 << 30))
        .config("spark.sql.files.openCostInBytes", str(4 << 30))
        # Local-FS writes skip Hadoop's ChecksumFileSystem: every partitioned
        # write otherwise pays a .crc sidecar per file (open/compute/close/
        # rename), which dominates many-partition commits at small scale
        # (measured 4.7x on the 160-leaf docs ingest: 13.8 -> 2.9 s within
        # one epoch).  Durability is not weakened — the docs table carries
        # its own content_sha256 invariant column, and cluster deployments
        # (HDFS/S3) never route through ChecksumFileSystem anyway.
        .config("spark.hadoop.fs.file.impl",
                "org.apache.hadoop.fs.RawLocalFileSystem")
        .config("spark.driver.host", "127.0.0.1")
    )
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Driver rows (tuples in ``schema``'s column order) as a pandas-backed
    frame, which Spark plans as a ``LocalTableScan``.  A frame made from a
    list plans an RDD scan whose rows a Python worker re-serializes: a
    trivial 2-row ``mapInPandas`` took 0.67–0.77 s from a list and
    0.32–0.40 s from pandas (4 vCPU, local[4])."""
    import pandas as pd
    from pyspark.sql.types import StructType
    st = StructType.fromDDL(schema)
    return spark.createDataFrame(pd.DataFrame(list(rows), columns=st.names), st)
