"""session.get_spark's launch settings and the entry points that use it.

A one-shot driver JVM (the default) compiles with C1 only and runs the
Parallel collector, unless its caller names a collector; the test
session runs ``long_lived`` and keeps the JVM's defaults. The CLI and
the spark-submit wrapper must start the same session the engine tunes.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

import pytest
from pyspark.sql import SparkSession

from python_fmask_spark import pipeline
from python_fmask_spark.session import (ONE_SHOT_DRIVER_JAVA_OPTIONS,
                                        get_spark, one_shot_java_options)
from python_fmask_spark.sources import register_views

REPO = pathlib.Path(__file__).resolve().parents[1]
ONE_SHOT_FLAGS = ONE_SHOT_DRIVER_JAVA_OPTIONS.split()
PARALLEL_GC = {"PS Scavenge", "PS MarkSweep"}
# the launch settings a caller can name a collector in
CALLER_OPTION_ENV = ("JDK_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS",
                     "SPARK_SUBMIT_OPTS", "PYSPARK_SUBMIT_ARGS",
                     "SPARK_CONF_DIR")


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
    """get_spark's builder settings, without starting a JVM."""
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    return get_spark(**kw)


def test_one_shot_is_the_default_and_long_lived_keeps_tiered(monkeypatch):
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    one_shot = _builder_options(monkeypatch)
    assert one_shot["spark.master"] == "local[3]"
    assert (one_shot["spark.driver.defaultJavaOptions"]
            == ONE_SHOT_DRIVER_JAVA_OPTIONS)
    long_lived = _builder_options(monkeypatch, long_lived=True)
    assert "spark.driver.defaultJavaOptions" not in long_lived
    # everything else is the same session
    del one_shot["spark.driver.defaultJavaOptions"]
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


def test_submit_script_passes_the_session_java_options(tmp_path, sf_small):
    """The wrapper passes session.one_shot_java_options() and leaves
    every Spark SQL setting to get_spark; a collector named in
    spark-defaults.conf keeps the wrapper's collector flag out. It has
    no default input."""
    stub = tmp_path / "bin" / "spark-submit"
    stub.parent.mkdir()
    stub.write_text('#!/bin/sh\nprintf "%s\\n" "$@"\n')
    stub.chmod(0o755)
    env = {**{k: v for k, v in os.environ.items()
              if k not in CALLER_OPTION_ENV},
           "PATH": f"{stub.parent}:{os.environ['PATH']}",
           "PYSPARK_PYTHON": sys.executable, "TMPDIR": str(tmp_path)}
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text(
        "spark.driver.extraJavaOptions=-XX:+UseSerialGC\n")
    for extra, want in (
            ({}, ONE_SHOT_DRIVER_JAVA_OPTIONS),
            ({"SPARK_CONF_DIR": str(conf_dir)}, "-XX:TieredStopAtLevel=1")):
        res = subprocess.run(
            ["bash", str(REPO / "scripts" / "spark_submit_classify.sh"),
             "local[1]", sf_small],
            env={**env, **extra}, capture_output=True, text=True,
            timeout=120)
        assert res.returncode == 0, res.stderr
        argv = res.stdout.splitlines()
        confs = [argv[i + 1] for i, a in enumerate(argv) if a == "--conf"]
        assert confs == [f"spark.driver.defaultJavaOptions={want}"]
        assert argv[-2:] == [str(REPO / "scripts" / "classify_job.py"),
                             sf_small]
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
    import tempfile
    import zipfile

    from python_fmask_spark.session import ensure_package_on_executors

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stale = tmp_path / f"python_fmask_spark_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as z:
        z.writestr("python_fmask_spark/pipeline.py", "raise ImportError\n")

    sessions = [_Session(), _Session()]
    for s in sessions:
        ensure_package_on_executors(s)
    (sent,), (again,) = (s.sparkContext.sent for s in sessions)
    # one zip per code version, under the per-user cache directory
    assert sent == again and sent.startswith(str(tmp_path))
    with zipfile.ZipFile(sent) as z:
        shipped = z.read("python_fmask_spark/pipeline.py")
    assert shipped == (REPO / "python_fmask_spark" / "pipeline.py").read_bytes()
