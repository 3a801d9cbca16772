"""session.get_spark's launch settings and the entry points that use it.

A one-shot driver JVM (the default) compiles with C1 only, runs the
Parallel collector, unless its caller names a collector, and maps the
class-data archive from the per-user cache, built at first use; the
test session runs ``long_lived`` and keeps the JVM's defaults. The CLI
and the spark-submit wrapper must start the same session the engine
tunes.
"""

from __future__ import annotations

import glob
import json
import os
import pathlib
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import SparkSession

from python_fmask_spark import _native, pipeline, session
from python_fmask_spark.session import (ONE_SHOT_DRIVER_JAVA_OPTIONS,
                                        driver_launch, get_spark,
                                        one_shot_java_options)
from python_fmask_spark.sources import register_views

REPO = pathlib.Path(__file__).resolve().parents[1]
ONE_SHOT_FLAGS = ONE_SHOT_DRIVER_JAVA_OPTIONS.split()
PARALLEL_GC = {"PS Scavenge", "PS MarkSweep"}
# the launch settings a caller can name a collector in
CALLER_OPTION_ENV = ("JDK_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS",
                     "SPARK_SUBMIT_OPTS", "PYSPARK_SUBMIT_ARGS",
                     "SPARK_CONF_DIR")
# settings that put more than Spark's jars on the driver's classpath
CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR")
BUILD_LINE = "building the driver JVM's class-data archive"


class _Context:
    def __init__(self):
        self.sent: list[str] = []

    def addPyFile(self, path: str) -> None:
        self.sent.append(path)


class _Session:
    """A stand-in session: records the files it is asked to ship."""

    def __init__(self):
        self.sparkContext = _Context()


def _builder_options(monkeypatch, **kw) -> dict:
    """get_spark's builder settings, and under "SPARK_CONF_DIR" the conf
    directory its launch would see, without starting a JVM."""
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: {
        **self._options, "SPARK_CONF_DIR": os.environ.get("SPARK_CONF_DIR")})
    return get_spark(**kw)


@pytest.fixture
def clean_launch(monkeypatch, tmp_path):
    """A launch environment naming no caller options, with the per-user
    cache under ``tmp_path/cache``; returns the cache's archive
    directory (not made)."""
    for v in CALLER_OPTION_ENV + CLASSPATH_ENV:
        monkeypatch.delenv(v, raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return tmp_path / "cache" / "python_fmask_spark" / "cds"


@pytest.fixture
def seeded_archive(clean_launch):
    """clean_launch with a placeholder file at the keyed archive path, so
    that a launch finds an archive and builds none; returns the archive
    and the empty conf directory."""
    archive, conf = session._cds_paths()
    pathlib.Path(archive).write_bytes(b"placeholder")
    return archive, conf


def test_one_shot_is_the_default_and_long_lived_keeps_tiered(
        monkeypatch, seeded_archive):
    archive, conf = seeded_archive
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    one_shot = _builder_options(monkeypatch)
    assert one_shot["spark.master"] == "local[3]"
    opts = one_shot.pop("spark.driver.defaultJavaOptions")
    assert opts == driver_launch()[0]
    assert opts.startswith(ONE_SHOT_DRIVER_JAVA_OPTIONS + " ")
    assert f"-XX:SharedArchiveFile={archive}" in opts.split()
    # the launch saw the empty conf dir; the process's own is restored
    assert one_shot.pop("SPARK_CONF_DIR") == conf
    assert "SPARK_CONF_DIR" not in os.environ
    long_lived = _builder_options(monkeypatch, long_lived=True)
    assert "spark.driver.defaultJavaOptions" not in long_lived
    assert long_lived.pop("SPARK_CONF_DIR") is None
    # everything else is the same session
    assert one_shot == long_lived


def test_spark_submit_keeps_its_master(monkeypatch):
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert "spark.master" not in _builder_options(monkeypatch)
    # a caller's explicit master still wins
    assert _builder_options(monkeypatch, master="local[2]")[
        "spark.master"] == "local[2]"


def _jvm_flags_and_collectors(mx) -> tuple[list[str], set[str]]:
    """A driver JVM's input arguments and garbage-collector MXBeans."""
    return (list(mx.getRuntimeMXBean().getInputArguments()),
            {b.getName() for b in mx.getGarbageCollectorMXBeans()})


def _one_shot_jvm(tmp_path, **env) -> tuple[list[str], set[str]]:
    """_jvm_flags_and_collectors of a one-shot get_spark session started
    in a fresh process under ``env``."""
    probe = (
        "import json, sys\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "from python_fmask_spark.session import get_spark\n"
        "s = get_spark(master='local[1]')\n"
        "mx = s.sparkContext._jvm.java.lang.management.ManagementFactory\n"
        "print(json.dumps([list(mx.getRuntimeMXBean().getInputArguments()),\n"
        "  [b.getName() for b in mx.getGarbageCollectorMXBeans()]]))\n"
        "s.range(10).count()\n"
        "s.stop()\n")
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g", **env}
    res = subprocess.run([sys.executable, "-c", probe], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    flags, collectors = json.loads(res.stdout.strip().splitlines()[-1])
    return flags, set(collectors)


def test_driver_jvm_runs_c1_and_parallel_gc_unless_long_lived(spark,
                                                             tmp_path):
    """A one-shot driver JVM compiles with C1 only and runs the
    Parallel collector; the suite's long-lived session has neither."""
    flags, collectors = _one_shot_jvm(tmp_path)
    assert all(f in flags for f in ONE_SHOT_FLAGS), flags
    assert collectors == PARALLEL_GC, collectors
    flags, collectors = _jvm_flags_and_collectors(
        spark.sparkContext._jvm.java.lang.management.ManagementFactory)
    assert not any(f in flags for f in ONE_SHOT_FLAGS), flags
    assert not collectors & PARALLEL_GC, collectors


def test_caller_collector_wins(tmp_path):
    """A caller who names a collector in spark.driver.extraJavaOptions
    gets a session that starts and runs that collector: two collector
    flags would stop the JVM at start."""
    flags, collectors = _one_shot_jvm(tmp_path, PYSPARK_SUBMIT_ARGS=(
        "--conf 'spark.driver.extraJavaOptions=-XX:+UseSerialGC' "
        "pyspark-shell"))
    assert "-XX:+UseSerialGC" in flags and "-XX:+UseParallelGC" not in flags
    assert "-XX:TieredStopAtLevel=1" in flags, flags
    assert collectors == {"Copy", "MarkSweepCompact"}, collectors


@pytest.mark.parametrize("var, value", [
    ("JDK_JAVA_OPTIONS", "-XX:+UseG1GC"),
    ("JAVA_TOOL_OPTIONS", "-Xss4m -XX:+UseZGC"),
    ("SPARK_SUBMIT_OPTS", "-XX:-UseParallelGC"),
    ("PYSPARK_SUBMIT_ARGS", "--driver-java-options -XX:+UseSerialGC "
                            "pyspark-shell"),
    ("SPARK_CONF_DIR", "spark.driver.extraJavaOptions -XX:+UseSerialGC\n"),
])
def test_one_shot_options_drop_the_collector_a_caller_names(
        monkeypatch, tmp_path, var, value):
    for v in CALLER_OPTION_ENV:
        monkeypatch.delenv(v, raising=False)
    monkeypatch.setenv("SPARK_HOME", str(tmp_path / "no_spark_home"))
    assert one_shot_java_options() == ONE_SHOT_DRIVER_JAVA_OPTIONS
    # flags that only mention GC are not a collector choice
    monkeypatch.setenv("JAVA_TOOL_OPTIONS",
                       "-XX:+UseGCOverheadLimit "
                       "-XX:+UseDynamicNumberOfGCThreads")
    assert one_shot_java_options() == ONE_SHOT_DRIVER_JAVA_OPTIONS
    monkeypatch.delenv("JAVA_TOOL_OPTIONS")
    if var == "SPARK_CONF_DIR":
        (tmp_path / "spark-defaults.conf").write_text(value)
        value = str(tmp_path)
    monkeypatch.setenv(var, value)
    assert one_shot_java_options() == "-XX:TieredStopAtLevel=1"


def test_submit_script_passes_the_session_java_options(
        monkeypatch, tmp_path, sf_small, seeded_archive):
    """The wrapper launches as get_spark does, with
    session.driver_launch()'s java options and conf dir (here the
    seeded archive's), and leaves every Spark SQL setting to get_spark
    and shipping the package to classify_job.py: no --py-files, and
    nothing left under its TMPDIR. A collector named in
    spark-defaults.conf keeps the wrapper's collector flag and the
    archive out. It has no default input."""
    archive, empty_conf = seeded_archive
    stub = tmp_path / "bin" / "spark-submit"
    stub.parent.mkdir()
    stub.write_text('#!/bin/sh\necho "SPARK_CONF_DIR=$SPARK_CONF_DIR"\n'
                    'printf "%s\\n" "$@"\n')
    stub.chmod(0o755)
    run_tmp = tmp_path / "tmp"
    run_tmp.mkdir()
    env = {**os.environ, "PATH": f"{stub.parent}:{os.environ['PATH']}",
           "PYSPARK_PYTHON": sys.executable, "TMPDIR": str(run_tmp)}
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text(
        "spark.driver.extraJavaOptions=-XX:+UseSerialGC\n")
    launch = driver_launch()
    assert launch[1] == empty_conf
    assert launch[0].startswith(ONE_SHOT_DRIVER_JAVA_OPTIONS + " ")
    assert f"-XX:SharedArchiveFile={archive}" in launch[0].split()
    for extra, (want, want_conf) in (
            ({}, launch),
            ({"SPARK_CONF_DIR": str(conf_dir)},
             ("-XX:TieredStopAtLevel=1", str(conf_dir)))):
        res = subprocess.run(
            ["bash", str(REPO / "scripts" / "spark_submit_classify.sh"),
             "local[1]", sf_small],
            env={**env, **extra}, capture_output=True, text=True,
            timeout=120)
        assert res.returncode == 0, res.stderr
        seen_conf, *argv = res.stdout.splitlines()
        assert seen_conf == f"SPARK_CONF_DIR={want_conf}"
        confs = [argv[i + 1] for i, a in enumerate(argv) if a == "--conf"]
        assert confs == [f"spark.driver.defaultJavaOptions={want}"]
        assert "--py-files" not in argv
        assert argv[-2:] == [str(REPO / "scripts" / "classify_job.py"),
                             sf_small]
        assert not list(run_tmp.iterdir())
    # no default input: SF_DIR is required
    res = subprocess.run(
        ["bash", str(REPO / "scripts" / "spark_submit_classify.sh"),
         "local[1]"], env=env, capture_output=True, text=True, timeout=120)
    assert res.returncode != 0 and "SF_DIR" in res.stderr


def test_cli_counts_match_in_process_classify(spark, sf_oracle, tmp_path):
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "2g"}
    cli = subprocess.Popen(
        [sys.executable, str(REPO / "scripts" / "classify_job.py"),
         sf_oracle, "--mode", "whole"],
        cwd=tmp_path, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    # the in-process job runs while the CLI's JVM starts
    try:
        register_views(spark, sf_oracle)
        want = {str(r.fmask_class): r["count"] for r in pipeline.classify(
            spark).groupBy("fmask_class").count().collect()}
        out, err = cli.communicate(timeout=600)
    finally:
        cli.kill()
    assert cli.returncode == 0, err[-2000:]
    assert json.loads(out.strip().splitlines()[-1])["class_counts"] == want


def test_cli_rejects_a_missing_input(tmp_path):
    """The CLI has no default input: an SF_DIR without documents.parquet
    is a usage error naming the missing file, raised before a Spark
    session starts."""
    res = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "classify_job.py"),
         str(tmp_path)],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert res.returncode == 2
    assert str(tmp_path / "documents.parquet") in res.stderr
    assert "SparkContext" not in res.stderr


def test_package_ships_to_each_new_session():
    """ensure_package_on_executors sends the package zip once per
    session object. A session made after an earlier one was collected
    must still get it, also when it reuses the collected one's id()."""
    import gc

    from python_fmask_spark.session import ensure_package_on_executors

    for _ in range(20):
        s = _Session()
        ensure_package_on_executors(s)
        ensure_package_on_executors(s)
        assert len(s.sparkContext.sent) == 1
        assert s.sparkContext.sent[0].endswith(".zip")
        del s
        gc.collect()


def test_package_zip_is_the_current_code(monkeypatch, tmp_path):
    """The zip shipped to executors holds this checkout's files, also
    when a zip from an earlier process with the same pid (other code)
    sits at the temp path the zip used to be named by."""
    import zipfile

    from python_fmask_spark.session import ensure_package_on_executors

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    stale = tmp_path / f"python_fmask_spark_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as z:
        z.writestr("python_fmask_spark/pipeline.py", "raise ImportError\n")

    sessions = [_Session(), _Session()]
    for s in sessions:
        ensure_package_on_executors(s)
    (sent,), (again,) = (s.sparkContext.sent for s in sessions)
    # one zip per code version, under the per-user cache directory
    assert sent == again and sent.startswith(str(tmp_path / "cache"))
    with zipfile.ZipFile(sent) as z:
        shipped = z.read("python_fmask_spark/pipeline.py")
    assert shipped == (REPO / "python_fmask_spark" / "pipeline.py").read_bytes()


# --- the class-data archive ----------------------------------------------


@pytest.fixture(scope="module")
def small_counts(spark, sf_small):
    """sf_small's class counts from the suite's in-process session."""
    register_views(spark, sf_small)
    return {str(r.fmask_class): r["count"] for r in pipeline.classify(
        spark).groupBy("fmask_class").count().collect()}


def _cli(cwd, sf_dir, **env) -> tuple[dict, str]:
    """The CLI's class counts and stderr, run in a fresh process under
    ``env``. Its stdout must be its one JSON line: the driver JVM shares
    it, and no CDS log line may reach it."""
    res = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "classify_job.py"),
         str(sf_dir), "--mode", "whole"],
        cwd=cwd, env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g", **env},
        capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    line, = res.stdout.splitlines()
    return json.loads(line)["class_counts"], res.stderr


def test_cli_reads_only_the_documents_table(tmp_path, sf_small,
                                            small_counts):
    """Classify reads only the documents table, and the CLI registers
    only that one: a corrupt orders.parquet beside it does not stop the
    job."""
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    (sf_dir / "documents.parquet").write_bytes(
        pathlib.Path(sf_small, "documents.parquet").read_bytes())
    (sf_dir / "orders.parquet").write_bytes(b"not a parquet file")
    counts, _ = _cli(tmp_path, sf_dir)
    assert counts == small_counts


def test_missing_archive_is_built_once_and_used(
        clean_launch, monkeypatch, tmp_path, sf_small, small_counts):
    """A launch that finds no archive builds it once, says so on stderr,
    and maps it: most of its classes come from the archive's top layer.
    The job's counts match the in-process ones; a later launch takes the
    archive as it is, without a training job."""
    classes = tmp_path / "classes.txt"
    counts, err = _cli(tmp_path, sf_small, PYSPARK_SUBMIT_ARGS=(
        "--conf spark.driver.extraJavaOptions="
        f"-Xlog:class+load=info:file={classes} pyspark-shell"))
    assert counts == small_counts
    assert err.count(BUILD_LINE) == 1, err[-2000:]
    archive, = glob.glob(str(clean_launch / "driver_*.jsa"))
    assert archive in err
    from_top = classes.read_text().count("source: shared objects file (top)")
    assert from_top > 5000, from_top
    assert sorted(glob.glob(str(clean_launch / "driver_*"))) == [
        archive, f"{archive}.lock"]
    monkeypatch.setattr(session.subprocess, "run", None)  # no training
    opts, conf = driver_launch()
    assert f"-XX:SharedArchiveFile={archive}" in opts.split()
    assert conf == str(clean_launch / "conf")


def test_failed_build_is_not_retried(clean_launch, monkeypatch, capsys):
    """A training job that fails leaves no archive and a .failed note,
    the launch goes on without the archive, and later launches do not
    build again."""
    runs = []

    def failing(*args, **kw):
        runs.append(args)
        return subprocess.CompletedProcess(args, 1, "", "training failed")

    monkeypatch.setattr(session.subprocess, "run", failing)
    for _ in range(2):
        assert driver_launch() == (ONE_SHOT_DRIVER_JAVA_OPTIONS, None)
    assert len(runs) == 1
    archive, _ = session._cds_paths()
    assert not os.path.exists(archive)
    assert open(f"{archive}.failed").read() == "training failed"
    err = capsys.readouterr().err
    assert err.count(BUILD_LINE) == 1 and "build failed" in err


def _foreign_archive(path: str) -> None:
    """A real dynamic archive at ``path``, dumped by a JVM whose
    classpath is Spark's launcher jar alone, so no driver can map it."""
    from pyspark.find_spark_home import _find_spark_home

    launcher, = glob.glob(os.path.join(_find_spark_home(), "jars",
                                       "spark-launcher_*.jar"))
    subprocess.run([session._java(), f"-XX:ArchiveClassesAtExit={path}",
                    "-Xlog:cds*=off", "-cp", launcher,
                    "org.apache.spark.launcher.Main",
                    "org.apache.spark.deploy.SparkSubmit", "--version"],
                   capture_output=True, timeout=120)
    assert os.path.getsize(path) > 0


@pytest.mark.parametrize("kind", ["garbage", "foreign"])
def test_bad_archive_still_starts(clean_launch, tmp_path, sf_small,
                                  small_counts, kind):
    """An archive the JVM cannot map (random bytes, or one dumped for
    another classpath) is passed, skipped by the JVM without a word on
    stdout, and the job classifies correctly; nothing is rebuilt."""
    archive, _ = session._cds_paths()
    if kind == "garbage":
        pathlib.Path(archive).write_bytes(os.urandom(4096))
    else:
        _foreign_archive(archive)
    before = pathlib.Path(archive).read_bytes()
    counts, err = _cli(tmp_path, sf_small)
    assert counts == small_counts
    assert BUILD_LINE not in err
    assert pathlib.Path(archive).read_bytes() == before


def test_unwritable_cache_falls_back_to_the_temp_dir(
        clean_launch, monkeypatch, tmp_path, sf_small, small_counts):
    """With no cache directory to be made, the archive, the package zip
    and the compiled kernel go under the temp dir, and the CLI runs
    correctly; with no temp dir either, a launch goes on without the
    archive."""
    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file" / "cache"))
    run_tmp = tmp_path / "tmp"
    run_tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(run_tmp))
    archive, _ = session._cds_paths()
    fallback = run_tmp / f"python_fmask_spark_{os.getuid()}"
    assert archive.startswith(str(fallback))
    pathlib.Path(archive).write_bytes(b"placeholder")  # no 50 s build
    counts, err = _cli(tmp_path, sf_small, TMPDIR=str(run_tmp))
    assert counts == small_counts and BUILD_LINE not in err
    assert glob.glob(str(fallback / "pyfiles" / "*.zip"))
    assert glob.glob(str(fallback / "native" / "*.so"))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "file"))
    assert driver_launch() == (ONE_SHOT_DRIVER_JAVA_OPTIONS, None)


def test_native_kernel_falls_back_without_a_cache(monkeypatch, tmp_path):
    """No writable cache directory: the fill kernel runs the Python
    queue instead of raising."""
    import numpy as np

    from python_fmask_spark.operators import kernels

    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file" / "cache"))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "file"))
    monkeypatch.setattr(_native, "_LIB", [])
    assert _native.get_hq_fill() is None
    img = np.random.RandomState(3).randint(0, 50, (16, 8)).astype(np.int64)
    null = np.zeros(img.shape, bool)
    got = np.full(img.shape, 49, np.int64)
    got[0] = img[0]
    want = got.copy()
    kernels.hq_fill(img, null, got, 0, 49)
    kernels._hq_fill_py(img, null, want, 0, 49)
    assert (got == want).all()


def test_archive_key_follows_the_jar_list(clean_launch, monkeypatch,
                                          tmp_path):
    """The archive is named by Spark's jar list: adding a jar or
    rewriting one names another archive; an unchanged list the same."""
    jars = tmp_path / "spark" / "jars"
    jars.mkdir(parents=True)
    (jars / "a.jar").write_bytes(b"a")
    monkeypatch.setenv("SPARK_HOME", str(tmp_path / "spark"))
    first, conf = session._cds_paths()
    assert session._cds_paths() == (first, conf)
    (jars / "b.jar").write_bytes(b"b")
    second, _ = session._cds_paths()
    (jars / "a.jar").write_bytes(b"a2")
    third, _ = session._cds_paths()
    assert len({first, second, third}) == 3
    assert all(p.startswith(str(clean_launch)) for p in (first, second, third))


@pytest.mark.parametrize("case", ["spark-defaults.conf", "HADOOP_CONF_DIR",
                                  "YARN_CONF_DIR", "long_lived"])
def test_launch_without_the_archive_where_it_cannot_apply(
        clean_launch, monkeypatch, tmp_path, case):
    """A conf directory with active files, or another conf directory on
    the classpath, keeps today's launch: the one-shot options alone and
    SPARK_CONF_DIR as the caller set it, with no archive built. A
    long-lived launch never touches the archive."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-env.sh.template").write_text("")
    if case == "spark-defaults.conf":
        (conf_dir / case).write_text("spark.ui.showConsoleProgress false\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    if case.endswith("_CONF_DIR"):
        monkeypatch.setenv(case, str(tmp_path))
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    opts = _builder_options(monkeypatch, long_lived=case == "long_lived")
    assert opts["SPARK_CONF_DIR"] == str(conf_dir)
    assert opts.get("spark.driver.defaultJavaOptions") == (
        None if case == "long_lived" else ONE_SHOT_DRIVER_JAVA_OPTIONS)
    assert not clean_launch.exists()
