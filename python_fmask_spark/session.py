"""SparkSession factory tuned for the engine.

Local runs use ``local[$SPARK_GRAFT_CPUS]``, by default every CPU this
process may run on. Under ``spark-submit`` the Python process attaches
to a driver JVM that is already running, so the master spark-submit was
given stands. On a real cluster the same configs apply per executor
(AQE handles skew and coalescing at runtime, Arrow batches feed the
pandas-UDF tile kernels).

JIT mode. The CLI's unit of work is one process, one cold classify job,
then exit. HotSpot's tiered compilation spends a third or more of such
a job's CPU in C2 (optimizing) compiler threads, on code the job stops
running before the compiled code pays back. So a driver JVM started by
``get_spark`` compiles with C1 only (``ONE_SHOT_DRIVER_JAVA_OPTIONS``).
On a 4-core VM (perfbench medians) this took the cold whole-mode job's
CPU from 63 s to 29.5 s and set-up from 13.3 s to 6.7 s, and the cold
job's wall time fell a little. The price is speed once the process is
warm: repeated jobs ran about 45% slower (median over 5 seeds),
and the test suite took 591 s instead of 466 s. Processes that run many
jobs (the test session, the 76-query board) pass ``long_lived=True``
and keep tiered compilation. Only the driver JVM gets the flag; a
cluster's executors, where the per-row work runs, keep tiered
compilation.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PYFILES_SENT: set[int] = set()

# HotSpot flags for a driver JVM that runs one job and exits (module
# docstring). spark.driver.defaultJavaOptions is prepended to any
# caller's spark.driver.extraJavaOptions, so both apply.
# scripts/spark_submit_classify.sh passes the same string to
# spark-submit, which starts the driver JVM before Python runs.
ONE_SHOT_DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"


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
    long_lived: bool = False,
) -> SparkSession:
    """The engine's session. ``long_lived=True`` keeps the driver JVM's
    tiered JIT for a process that runs many jobs; the default compiles
    with C1 only, for a one-shot job (module docstring)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = SparkSession.builder.appName(app_name)
    # spark-submit sets PYSPARK_GATEWAY_PORT for the Python process it
    # starts; its JVM already runs under the master it was given
    if master or "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(master or f"local[{cpus}]")
    if not long_lived:
        builder = builder.config("spark.driver.defaultJavaOptions",
                                 ONE_SHOT_DRIVER_JAVA_OPTIONS)
    builder = (
        builder
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
