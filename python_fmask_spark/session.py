"""SparkSession factory tuned for the engine.

Local runs use ``local[$SPARK_GRAFT_CPUS]``, by default every CPU this
process may run on. Under ``spark-submit`` the Python process attaches
to a driver JVM that is already running, so the master spark-submit was
given stands. On a real cluster the same configs apply per executor
(AQE handles skew and coalescing at runtime, Arrow batches feed the
pandas-UDF tile kernels).

One-shot JVM options: JIT and collector. The CLI's unit of work is one
process, one cold classify job, then exit, and a driver JVM started by
``get_spark`` is tuned for that (``ONE_SHOT_DRIVER_JAVA_OPTIONS``).

- JIT: C1 only. HotSpot's tiered compilation spends a third or more of
  such a job's CPU in C2 (optimizing) compiler threads, on code the job
  stops running before the compiled code pays back. On a 4-core VM
  (perfbench medians) C1 only took the cold whole-mode job's CPU from
  63 s to 29.5 s and set-up from 13.3 s to 6.7 s, and the cold job's
  wall time fell a little. The price is speed once the process is
  warm: repeated jobs ran about 45% slower (median over 5 seeds), and
  the test suite took 591 s instead of 466 s.
- Collector: Parallel. G1, the default, suits a long-lived,
  latency-bound service; it lets its young generation grow to 60% of
  the heap, and a cold job touches all of that Eden before its first
  collection. Parallel's ergonomic young generation is a third of the
  heap, and its young collections run on every core. Under a fixed
  2 GB heap (``-Xms2g``, as perfbench runs) this cut a cold job's peak
  memory by 35-38% (perfbench medians), all of it in the driver JVM.
  Two collector flags stop a JVM from starting, so a launch that
  already names a collector keeps it and gets no collector flag from
  here (``one_shot_java_options``).

Class-data sharing. Most of a one-shot driver JVM's start-up CPU went
to loading classes (6.8-7.2 s of 7-9 s in a probe). ``driver_launch``
gives the launch a JDK 17 dynamic AppCDS archive
(``-XX:SharedArchiveFile -Xshare:auto``) from the per-user cache
(``cache.cache_dir``, not the temp dir, which a runner may empty every
run), named by a hash of the JVM build, the Spark version and the jar
list. The JVM then maps about 14.6k of the 15.8k classes a CLI job
loads. JDK 17 refuses such an archive when a non-empty directory is on
the classpath, and Spark's launcher puts the conf dir first, so the
launch points ``SPARK_CONF_DIR`` at an empty directory; it does so only
when the real conf dir holds just ``*.template`` files and no
``HADOOP_CONF_DIR``/``YARN_CONF_DIR`` adds to the classpath, and
otherwise launches as without the archive. A missing archive is built
at first use by one training child that the launch waits for (a small
whole-mode classify with the sink, on a JVM that writes its classes at
a normal exit: about 50 s once per machine, one stderr line), because
the job's own JVM may be killed and then writes nothing. A stale,
foreign or damaged archive is skipped by the JVM, and the ``cds`` log
tags are off, since the driver JVM shares stdout with the caller. On a
4-core VM (perfbench medians, 12 alternating pairs per workload, the
build run included) set-up CPU fell from 9.3 to 5.1 s
(``skewed_distributed``) and from 8.9 to 5.2 s (``uniform_whole``),
the cold job's CPU from 42.4 to 36.4 s and from 32.4 to 28.8 s, and
peak memory by 102 and 44 MB.

Processes that run many jobs (the test session, the 76-query board)
pass ``long_lived=True`` and keep the JVM's defaults: tiered
compilation, G1 and no archive. Only the driver JVM gets these flags;
a cluster's executors, where the per-row work runs, keep the defaults
too.
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import re
import shlex
import shutil
import subprocess
import sys
import tempfile
import weakref
import zipfile

from pyspark.sql import SparkSession

from .cache import cache_dir

# sessions that have the package zip: the objects, not id(spark), whose
# integer a new session can reuse after the old one is collected
_PYFILES_SENT: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()

# HotSpot flags for a driver JVM that runs one job and exits (module
# docstring). spark.driver.defaultJavaOptions is prepended to any
# caller's spark.driver.extraJavaOptions, so both apply.
# scripts/spark_submit_classify.sh passes driver_launch()'s options to
# spark-submit, which starts the driver JVM before Python runs.
ONE_SHOT_DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:+UseParallelGC"

# a HotSpot collector choice: -XX:+UseG1GC, -XX:-UseParallelGC, ...
_GC_FLAG = re.compile(r"-XX:[+-]Use\w*GC\b")

# CDS's warnings go to stdout, which the driver JVM shares with the
# caller's output (the CLI's JSON line); a JVM that cannot map the
# archive starts without it (-Xshare:auto) and says nothing
_CDS_QUIET = "-Xlog:cds*=off"


def _conf_dir() -> str:
    """The Spark conf directory a driver launch puts first on the JVM's
    classpath."""
    from pyspark.find_spark_home import _find_spark_home

    return os.environ.get("SPARK_CONF_DIR") or os.path.join(
        _find_spark_home(), "conf")


def _caller_java_options() -> list[str]:
    """The JVM options a driver launch gets from its caller: the
    environment the java launcher and the JVM read, spark-submit's
    SPARK_SUBMIT_OPTS, and spark.driver.extraJavaOptions from
    PYSPARK_SUBMIT_ARGS or spark-defaults.conf."""
    opts = [os.environ.get(v, "") for v in (
        "JDK_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS", "SPARK_SUBMIT_OPTS")]
    args = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    for flag, val in zip(args, args[1:]):
        if flag == "--driver-java-options":
            opts.append(val)
        elif flag == "--conf" and val.startswith(
                "spark.driver.extraJavaOptions="):
            opts.append(val.split("=", 1)[1])
    try:
        with open(os.path.join(_conf_dir(), "spark-defaults.conf")) as f:
            opts += re.findall(
                r"^\s*spark\.driver\.extraJavaOptions[\s=:]+(.*)$",
                f.read(), re.M)
    except OSError:
        pass
    return opts


def one_shot_java_options() -> str:
    """ONE_SHOT_DRIVER_JAVA_OPTIONS, less its collector flag when the
    caller's launch already names a collector: a JVM given two stops at
    start ("Multiple garbage collectors selected")."""
    if not any(_GC_FLAG.search(o) for o in _caller_java_options()):
        return ONE_SHOT_DRIVER_JAVA_OPTIONS
    return " ".join(f for f in ONE_SHOT_DRIVER_JAVA_OPTIONS.split()
                    if not _GC_FLAG.fullmatch(f))


def _java() -> str:
    """The java binary spark-class runs: $JAVA_HOME's, else PATH's."""
    home = os.environ.get("JAVA_HOME")
    return (os.path.join(home, "bin", "java") if home
            else shutil.which("java") or "java")


def _cds_paths() -> tuple[str, str]:
    """The class-data archive for this JVM build and Spark install, and
    the empty conf directory that launches using it put first on the
    classpath, both under cache_dir("cds"). The archive is named by a
    hash of what JDK 17 checks before it maps one: the JVM build (the
    java binary and its libjvm.so: path, size, mtime), pyspark's version
    and the $SPARK_HOME/jars list (names, sizes, mtimes). Raises OSError
    when a file is missing or no cache directory can be made."""
    from pyspark import __version__
    from pyspark.find_spark_home import _find_spark_home

    java = os.path.realpath(_java())
    jars = os.path.join(_find_spark_home(), "jars")
    digest = hashlib.sha256(__version__.encode())
    for path in [java, os.path.join(os.path.dirname(os.path.dirname(java)),
                                    "lib", "server", "libjvm.so")] + sorted(
            os.path.join(jars, n) for n in os.listdir(jars)):
        st = os.stat(path)
        digest.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    cds = cache_dir("cds")
    conf = os.path.join(cds, "conf")
    os.makedirs(conf, exist_ok=True)
    return os.path.join(cds, f"driver_{digest.hexdigest()[:16]}.jsa"), conf


def _build_archive(archive: str, conf: str, opts: str) -> bool:
    """Build ``archive`` unless it exists: one training child (``_train``)
    runs a small job on a driver JVM that dumps its loaded classes at
    exit, and the dump is renamed into place. The parent waits for it,
    so no process outlives the build. A lock file makes concurrent
    launches wait for one build; a failed build leaves
    ``<archive>.failed`` (the child's stderr), and later launches skip
    the build while it exists. True when the archive exists."""
    failed = f"{archive}.failed"
    with open(f"{archive}.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(archive) or os.path.exists(failed):
            return os.path.exists(archive)
        print(f"python_fmask_spark: building the driver JVM's class-data "
              f"archive {archive} (once per machine, about a minute)",
              file=sys.stderr, flush=True)
        dump = f"{archive}.{os.getpid()}"
        with tempfile.TemporaryDirectory() as tmp:
            env = {k: v for k, v in os.environ.items() if k not in (
                "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT",
                "PYSPARK_GATEWAY_SECRET", "SPARK_GRAFT_EVENTLOG")}
            env.update(SPARK_CONF_DIR=conf, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
                       SPARK_GRAFT_DRIVER_MEM="1g")
            train = ("import sys; sys.path.insert(0, sys.argv[1]); "
                     "from python_fmask_spark.session import _train; "
                     "_train(*sys.argv[2:])")
            java_options = (f"{opts} -XX:ArchiveClassesAtExit={dump} "
                            f"-Djava.io.tmpdir={tmp} {_CDS_QUIET}")
            try:
                res = subprocess.run(
                    [sys.executable, "-c", train, os.path.dirname(
                        os.path.dirname(os.path.abspath(__file__))),
                     tmp, java_options],
                    cwd=tmp, env=env, stdout=subprocess.DEVNULL,
                    stderr=subprocess.PIPE, text=True, timeout=300)
                err = "" if res.returncode == 0 else res.stderr
            except subprocess.TimeoutExpired:
                err = "the training job ran over 300 s"
        if not err and os.path.exists(dump):
            os.replace(dump, archive)
            return True
        if os.path.exists(dump):
            os.remove(dump)
        with open(failed, "w") as f:
            f.write(err[-8000:] or "the JVM wrote no archive")
        print(f"python_fmask_spark: the archive build failed, see {failed}; "
              "launching without it", file=sys.stderr, flush=True)
        return False


def _train(tmp: str, java_options: str) -> None:
    """_build_archive's training job, in a process of its own: the CLI's
    whole-mode classify, with the mask sink, over a small made-up
    documents table in ``tmp``, on a driver JVM started with
    ``java_options``; then a normal JVM exit, at which the JVM writes
    the archive. Exits with the JVM's status."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import SparkContext

    from . import pipeline
    from .plans.sinks import write_mask
    from .sources import register_views

    words = "spark window merge table column vector value data join".split()
    texts = [" ".join(words[(i + k * k) % len(words)]
                      for k in range(8 + i % 64)) for i in range(512)]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts,
        "lang": [("en", "zh", "es", "fr", "de")[i % 5]
                 for i in range(len(texts))],
        "source": [f"src{i % 16}" for i in range(len(texts))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(tmp, "documents.parquet"))
    spark = (_builder(None, "fmask-cds-training", None)
             .config("spark.driver.defaultJavaOptions", java_options)
             .getOrCreate())
    ensure_package_on_executors(spark)
    register_views(spark, tmp, ("documents",))
    out = pipeline.classify(spark)
    write_mask(out, "cds_training")
    out.groupBy("fmask_class").count().collect()
    jvm = SparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits normally on EOF
    sys.exit(jvm.wait())


def driver_launch() -> tuple[str, str | None]:
    """The java options and the SPARK_CONF_DIR of a one-shot driver JVM
    launch (module docstring): one_shot_java_options() plus the
    class-data archive, built first if it is missing, and the empty conf
    directory the archive needs. Where the archive cannot apply (the
    real conf directory holds more than ``*.template`` files, or
    HADOOP_CONF_DIR or YARN_CONF_DIR adds to the classpath) or cannot be
    had, it is one_shot_java_options() and None: launch as without it."""
    opts = one_shot_java_options()
    try:
        active = [f for f in os.listdir(_conf_dir())
                  if not f.endswith(".template")]
    except OSError:
        active = []
    if (active or os.environ.get("HADOOP_CONF_DIR")
            or os.environ.get("YARN_CONF_DIR")):
        return opts, None
    try:
        archive, conf = _cds_paths()
        if not (os.path.exists(archive)
                or _build_archive(archive, conf, opts)):
            return opts, None
    except OSError:
        return opts, None
    return (f"{opts} -XX:SharedArchiveFile={archive} -Xshare:auto "
            f"{_CDS_QUIET}", conf)


def _package_zip() -> str:
    """This checkout's package (its .py files) as a zip named by their
    content hash, in cache_dir("pyfiles"): a zip is never reused for
    other code, and one code version leaves one zip. The write is
    atomic (a pid-named temp file, then a rename), as _native.py's
    build is, so concurrent processes race benignly."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    files = []
    digest = hashlib.sha256()
    for root, _dirs, names in sorted(os.walk(pkg_dir)):
        for fn in sorted(names):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                with open(full, "rb") as f:
                    data = f.read()
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                digest.update(f"{rel}\0{len(data)}\0".encode() + data)
                files.append((rel, data))
    zpath = os.path.join(cache_dir("pyfiles"),
                         f"python_fmask_spark_{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(zpath):
        tmp = f"{zpath}.{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as z:
            for rel, data in files:
                z.writestr(rel, data)
        os.replace(tmp, zpath)
    return zpath


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship python_fmask_spark to executors (the spark-submit --py-files
    pattern) as _package_zip(). Required for pandas-UDF kernels when the
    driver process was not started inside the repo; no-op if already
    shipped or importable via a shared filesystem."""
    if spark in _PYFILES_SENT:
        return
    spark.sparkContext.addPyFile(_package_zip())
    _PYFILES_SENT.add(spark)


def get_spark(
    master: str | None = None,
    app_name: str = "python-fmask-spark",
    shuffle_partitions: int | None = None,
    long_lived: bool = False,
) -> SparkSession:
    """The engine's session. ``long_lived=True`` keeps the driver JVM's
    defaults for a process that runs many jobs; the default is a
    one-shot JVM, C1 only, the Parallel collector and the class-data
    archive (module docstring, driver_launch)."""
    builder = _builder(master, app_name, shuffle_partitions)
    # spark-submit sets PYSPARK_GATEWAY_PORT for the Python process it
    # starts: its JVM already runs (scripts/spark_submit_classify.sh
    # launches it with driver_launch())
    if long_lived or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()
    opts, conf = driver_launch()
    builder = builder.config("spark.driver.defaultJavaOptions", opts)
    if conf is None:
        return builder.getOrCreate()
    # the launcher reads SPARK_CONF_DIR when getOrCreate starts the JVM
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _builder(master: str | None, app_name: str,
             shuffle_partitions: int | None) -> SparkSession.Builder:
    """get_spark's session settings, apart from the driver JVM's."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = SparkSession.builder.appName(app_name)
    # under spark-submit the JVM already runs under the master it was
    # given
    if master or "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(master or f"local[{cpus}]")
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
    return builder
