"""SparkSession factory tuned for the engine.

Local runs use ``local[$SPARK_GRAFT_CPUS]``, by default every CPU this
process may run on; on a real cluster the same configs apply per-executor (AQE handles skew/coalescing at runtime, Arrow
batches feed the pandas-UDF tile kernels).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PYFILES_SENT: set[int] = set()


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship python_fmask_spark to executors (the spark-submit --py-files
    pattern). Required for pandas-UDF kernels when the driver process was
    not started inside the repo; no-op if already shipped or importable
    via a shared filesystem."""
    key = id(spark)
    if key in _PYFILES_SENT:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempfile.gettempdir(),
                         f"python_fmask_spark_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    _PYFILES_SENT.add(key)


def get_spark(
    master: str | None = None,
    app_name: str = "python-fmask-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join splitting (webtext
        # cell-size skew is Zipfian; the kernels' (cell_id, tile) key fans
        # a hot cell out, AQE splits what is left).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's default 64 MB advisory target sizes coalesced partitions
        # for JVM scans; the sorts feeding applyInPandas blow past
        # per-task execution memory at that size (UnsafeRow in-memory is
        # several x the shuffle bytes) and spill. A smaller advisory
        # keeps the per-task sort resident (measured: morphology stage
        # spill 5 GB -> ~0 at rep8192).
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for all pandas UDF exchange (tile kernels).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Parquet pushdown is on by default; keep explicit for the record.
        .config("spark.sql.parquet.filterPushdown", "true")
        # Prefer shuffled-hash over sort-merge for equi-joins: the
        # classify join-back (slim kernel output x pass-1 identity on
        # (cell_id, r, c)) otherwise sorts BOTH 41M-row sides; with the
        # 16 MB advisory partitions the per-partition hash build is
        # small and SHJ removes both sorts (measured in
        # BENCH/BASELINE.md).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # AQE rewrite of planned SortMergeJoins to shuffled-hash at
        # runtime (guide §3.1): the classify/interim join-backs on
        # (cell_id, r, c) are planned from stats-free LogicalRDD leaves,
        # so preferSortMergeJoin=false alone cannot pick SHJ there. With
        # the 16 MB advisory partition target every post-shuffle
        # partition sits far below this threshold, so the rewrite is
        # safe (the hash build is per-partition).
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Stage-level evidence (parsed by perfbench/eventlog.py): shuffle
    # bytes, spill, GC per stage.
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        builder = (builder.config("spark.eventLog.enabled", "true")
                   .config("spark.eventLog.dir", f"file:{ev_dir}")
                   .config("spark.eventLog.compress", "false"))
    return builder.getOrCreate()
