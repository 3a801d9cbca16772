"""One benchmark Spark process (started by run.py, never by hand).

``python3 perfbench/worker.py CONFIG.json``

Starts the session the way every engine entry point does
(session.get_spark + ensure_package_on_executors) and prints ``READY``
the moment it is usable, so run.py can time set-up from process spawn.
Then it runs classify jobs one after another on one driver thread
(closed loop, one client), starting jobs until ``seconds`` have passed
since the first one started, so the first job is the cold one. Every job replays
scripts/classify_job.py for its mode on a fresh input directory and
ends in the counts/digest aggregate (reference.spark_digest).

Traced jobs wrap each call into a layer in a span (name, start, end,
parent, job) and tag the Spark jobs it starts with a job group
``j<k>:<span>`` so run.py can attribute event-log stage metrics. The
last stdout line is ``RESULT <json>``.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import shutil
import sys
import time
import traceback

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
sys.path[:0] = [REPO, BENCH]

import proctree  # noqa: E402
from python_fmask_spark.session import (  # noqa: E402
    ensure_package_on_executors, get_spark)


def _load_cli():
    spec = importlib.util.spec_from_file_location(
        "classify_job", os.path.join(REPO, "scripts", "classify_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Tracer:
    """In-memory spans; a disabled tracer records nothing and never
    touches the job group."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.job = ""
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def _group(self, name: str) -> None:
        self.sc.setJobGroup(f"{self.job}:{name}", name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._group(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append({"name": name, "start": t0, "end": t1,
                               "parent": parent, "job": self.job})
            if parent is None:
                self.sc.setJobGroup("untraced", "")
            else:
                self._group(parent)


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def run_job(spark, cfg: dict, cli, tr: Tracer, k: int) -> dict:
    from python_fmask_spark import pipeline
    from python_fmask_spark.operators.scene import FmaskParams
    from python_fmask_spark.operators.scene_dist import classify_distributed
    from python_fmask_spark.plans.lineage import StageRunner
    from python_fmask_spark.plans.sinks import write_mask
    from python_fmask_spark.sources import register_views

    import reference

    job_dir = os.path.join(cfg["jobs_root"], f"job{k}")
    os.makedirs(job_dir)
    # a fresh directory per job: each job is a new input to the engine,
    # so no session-cached pass-1 leaf carries over between jobs
    shutil.copyfile(cfg["base_input"],
                    os.path.join(job_dir, "documents.parquet"))
    argv = [job_dir, "--mode", cfg["mode"]]
    if cfg["mode"] == "distributed":
        argv += ["--tempdir", os.path.join(job_dir, "stages")]
    if cfg["sink"]:
        argv += ["-o", "bench_mask"]
    args = cli.get_cmdargs(argv)
    params = cli.params_from_cmdargs(args)
    if params != FmaskParams():
        raise ValueError(f"the reference assumes engine defaults: {params}")
    kw = dict(params=params, sensor=args.sensor, s2_offsets=None,
              tile_meta=None, s2_cdi=args.parallaxtest)

    tr.job = f"j{k}"
    rec = {"k": k, "error": None, "digest": None}
    runner = None
    cpu0 = proctree.cpu_s(os.getpid())
    t0 = time.perf_counter()
    try:
        with tr.span("job"):
            with tr.span("sources.register"):
                register_views(spark, args.sf_dir)
            if args.mode == "distributed":
                with tr.span("scene_dist.classify"):
                    runner = StageRunner(spark, args.tempdir, run_id="cli")
                    out = classify_distributed(spark, "documents",
                                               runner=runner, **kw)
            else:
                if tr.enabled:
                    # classify() makes these same session-cached calls;
                    # calling them first only gives them their own spans
                    snow = params.snow_kwargs()
                    with tr.span("pipeline.pass1"):
                        pipeline.materialize_pass1(spark, **snow)
                    with tr.span("pipeline.thresholds"):
                        pipeline.materialize_thresholds(spark, **snow)
                with tr.span("pipeline.classify_plan"):
                    out = pipeline.classify(spark, **kw)
            if args.output:
                with tr.span("sinks.write"):
                    write_mask(out, args.output)
            with tr.span("aggregate"):
                rec["digest"] = reference.spark_digest(out)
    except Exception:
        rec["error"] = traceback.format_exc(limit=4)
    rec["wall_s"] = time.perf_counter() - t0
    rec["cpu_s"] = proctree.cpu_s(os.getpid()) - cpu0
    if tr.enabled and rec["error"] is None:
        rec.update(_job_extras(spark, args, runner))
    return rec


def _job_extras(spark, args, runner) -> dict:
    """Per-layer figures read after the timed job (outside its wall)."""
    from python_fmask_spark import pipeline

    ex = {"scan_splits": spark.read.parquet(
        os.path.join(args.sf_dir, "documents.parquet"))
        .rdd.getNumPartitions()}
    t0 = time.perf_counter()
    spark.sql(pipeline.pass1_sql_text())
    ex["pass1_sql_analyze_s"] = time.perf_counter() - t0
    if runner is not None:
        ex["lineage"] = [r.asDict() for r in runner.lineage().collect()]
    if args.output:
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        ex["sink_files"], ex["sink_bytes"] = _dir_stats(
            os.path.join(wh, args.output))
    return ex


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    spark = get_spark(master=f"local[{cfg['nproc']}]")
    ensure_package_on_executors(spark)
    print(f"READY {proctree.cpu_s(os.getpid())}", flush=True)

    cli = _load_cli()
    tr = Tracer(spark.sparkContext, cfg["trace"])
    t0 = time.perf_counter()
    deadline = t0 + cfg["budget_s"]
    jobs = []
    while True:
        jobs.append(run_job(spark, cfg, cli, tr, len(jobs)))
        now = time.perf_counter()
        if now - t0 >= cfg["seconds"] or now + jobs[-1]["wall_s"] > deadline:
            break
    if cfg["trace"]:
        spark.stop()  # flushes the event log run.py reads next
    print("RESULT " + json.dumps({"jobs": jobs, "spans": tr.spans}),
          flush=True)
    # run.py ends the process group (JVM included) once RESULT is read


if __name__ == "__main__":
    main()
