"""The repository benchmark: seeded, reference-checked classify jobs.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --self-check SF_DIR

Run from the repository root. Workloads and metrics are described in
perfbench/README.md. One run:

  1. builds the workload's input from the seed (gen.py) and its
     expected digest (reference.py, no Spark) -- both cached per seed
     under .perfbench_work/ and outside every timed window;
  2. starts one fresh Spark process (worker.py), timing its set-up,
     and runs classify jobs in it, starting jobs until ``--seconds``
     have passed since the first (cold) one started, while sampling
     the process tree's memory;
  3. checks every job's digest against the reference and prints each
     metric as ``name value unit`` followed by one JSON line.

``--trace 1`` runs the same jobs traced, with the event log on, and
prints the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import proctree

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORK = os.path.join(REPO, ".perfbench_work")

# Bumped whenever gen.py or reference.py change what they produce, so
# cached inputs and digests from an older benchmark are not reused.
DATA_VERSION = 3

WORKLOADS = {
    # scripts/classify_job.py --mode whole -o T
    "uniform_whole": dict(mode="whole", sink=True, n_docs=4000,
                          n_sources=400, zipf_s=0.0, min_per_source=10),
    # scripts/classify_job.py --mode distributed --tempdir D
    "skewed_distributed": dict(mode="distributed", sink=False,
                               n_docs=1000, n_sources=25, zipf_s=1.2,
                               min_per_source=5),
}

# a run must end well inside 180 s; jobs stop being started past this
RUN_BUDGET_S = 165
DRIVER_MEM = "2g"

LINEAGE_STAGES = ("pass1", "dist_p3", "dist_flags", "dist_px",
                  "dist_windows", "dist_bands")

# in the result JSON with --trace 0; the timings are CPU seconds (see
# proctree.cpu_s), which the host's steal time does not inflate
END_TO_END = (("setup_s", "s"), ("cold_job_cpu_s", "s"),
              ("peak_pss_mb", "MB"))
# printed with them: the same run's wall-clock figures
WALL = (("setup_wall_s", "s"), ("cold_job_s", "s"), ("docs_per_s", "1/s"))

PER_LAYER = (
    ("session.start_s", "s"),
    ("sources.register_s", "s"), ("sources.scan_splits", "count"),
    ("pipeline.pass1_s", "s"), ("pipeline.pass1_sql_analyze_s", "s"),
    ("pipeline.pass1_spark_jobs", "count"),
    ("pipeline.thresholds_s", "s"),
    ("pipeline.thresholds_spark_jobs", "count"),
    ("pipeline.classify_plan_s", "s"),
    ("scene.exec_s", "s"), ("scene.spark_jobs", "count"),
    ("scene.task_ms_p50", "ms"), ("scene.task_ms_max", "ms"),
    ("scene.shuffle_write_mb", "MB"), ("scene.spill_mb", "MB"),
    ("scene.gc_ms", "ms"),
    ("kernels.scene_us_per_px", "us"),
    ("scene_dist.classify_s", "s"), ("scene_dist.aggregate_s", "s"),
    ("scene_dist.unstaged_s", "s"), ("scene_dist.shuffle_write_mb", "MB"),
    ("scene_dist.spark_jobs", "count"),
    *((f"lineage.{st}_{m}", u) for st in LINEAGE_STAGES
      for m, u in (("s", "s"), ("skew", "ratio"))),
    ("sinks.write_s", "s"), ("sinks.bytes_written", "bytes"),
    ("sinks.files_written", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.task_s_sum", "s"),
    ("spark.core_utilization", "ratio"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.gc_ms", "ms"),
    ("trace.overhead_s", "s"), ("trace.span_coverage", "ratio"),
)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def require_program() -> None:
    for rel in ("python_fmask_spark/pipeline.py", "scripts/classify_job.py",
                "scripts/independent_oracle.py"):
        if not os.path.exists(os.path.join(REPO, rel)):
            fail(f"{rel} not found: run from a full checkout of the "
                 f"repository")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_ticks() readings."""
    return 100 * (after[0] - before[0]) / max(after[1] - before[1], 1)


# ---------------------------------------------------------------------------
# inputs and reference
# ---------------------------------------------------------------------------


def prepare_input(workload: str, seed: int) -> tuple[str, dict]:
    """(input dir, expected digest), built once per (workload, seed)."""
    import gen
    import reference

    spec = WORKLOADS[workload]
    d = os.path.join(WORK, "inputs", f"v{DATA_VERSION}-{workload}-{seed}")
    exp_path = os.path.join(d, "expected.json")
    if os.path.exists(exp_path):
        with open(exp_path) as f:
            return d, json.load(f)
    gen.write_input(d, seed, spec["n_docs"], spec["n_sources"],
                    spec["zipf_s"], spec["min_per_source"])
    p3 = reference.pass3_frame(d)
    p3.to_parquet(os.path.join(d, "pass3.parquet"), index=False)
    expected = reference.expected_digest(p3)
    with open(exp_path + ".tmp", "w") as f:
        json.dump(expected, f)
    os.replace(exp_path + ".tmp", exp_path)
    return d, expected


def kernel_us_per_px(input_dir: str) -> float:
    """operators.scene.classify_scene over every cell of the input's
    pass-3 frame, on this one thread with no Spark; median of 3 passes."""
    import pandas as pd

    from python_fmask_spark.operators.scene import (FmaskParams,
                                                     classify_scene)

    p3 = pd.read_parquet(os.path.join(input_dir, "pass3.parquet"))
    cells = [pdf.reset_index(drop=True)
             for _, pdf in p3.groupby("cell_id", sort=True)]
    params = FmaskParams()
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        for pdf in cells:
            classify_scene(pdf, params)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) / len(p3) * 1e6


# ---------------------------------------------------------------------------
# worker processes
# ---------------------------------------------------------------------------


def worker_env(run_dir: str, trace: bool) -> dict:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    env.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
        + " pyspark-shell",
        OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1",
    )
    if trace:
        env["SPARK_GRAFT_EVENTLOG"] = os.path.join(run_dir, "eventlog")
    return env


class Worker:
    """One worker.py process with the JVM and Python workers below it;
    memory sampling and the final kill cover that whole tree."""

    def __init__(self, cfg: dict, run_dir: str, trace: bool, tag: str):
        cfg_path = os.path.join(run_dir, f"{tag}.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        self.log = open(os.path.join(run_dir, f"{tag}.log"), "w")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH, "worker.py"), cfg_path],
            stdout=subprocess.PIPE, stderr=self.log, text=True,
            cwd=run_dir, env=worker_env(run_dir, trace))
        self.ready_s = None
        self.ready_cpu_s = None
        self.result = None
        self.peak_pss_mb = 0.0
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("READY "):
                self.ready_s = time.perf_counter() - self.t_spawn
                self.ready_cpu_s = float(line.split()[1])
            elif line.startswith("RESULT "):
                self.result = json.loads(line[len("RESULT "):])

    def wait(self, deadline: float, until_exit: bool) -> None:
        """Sample PSS until RESULT arrives (or, with ``until_exit``, until
        the worker exits). A sample reads every process's smaps_rollup
        (tens of ms of CPU), so it is taken twice a second, not more."""
        while self.proc.poll() is None and time.perf_counter() < deadline \
                and (until_exit or self.result is None):
            self.peak_pss_mb = max(self.peak_pss_mb,
                                   proctree.pss_mb(self.proc.pid))
            time.sleep(0.5)

    def stop(self) -> None:
        """Kill whatever is left of the tree and wait until it is gone."""
        if self.log.closed:
            return
        pids = proctree.tree(self.proc.pid)
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.proc.wait()
        self._reader.join(timeout=5)
        t_end = time.perf_counter() + 10
        while any(map(proctree.alive, pids)) and time.perf_counter() < t_end:
            time.sleep(0.1)
        self.log.close()


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, str]:
    """Highest percentile with at least 10 samples beyond it (nearest
    rank); the maximum when there are too few samples for that."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], f"max, n={n}"
    p = (n - 10) * 100 // n
    return v[max(0, -(-p * n // 100) - 1)], f"p{p}, n={n}"


def end_to_end(spec: dict, w: "Worker", jobs: list[dict]) -> dict:
    cold = jobs[0]
    walls = [j["wall_s"] for j in jobs]
    return {
        "setup_s": w.ready_cpu_s,
        "cold_job_cpu_s": cold["cpu_s"],
        "peak_pss_mb": w.peak_pss_mb,
        "setup_wall_s": w.ready_s,
        "cold_job_s": cold["wall_s"],
        "docs_per_s": spec["n_docs"] * len(walls) / sum(walls),
    }


def untraced_cold_job_cpu_s(workload: str, n_docs: int) -> float | None:
    """Median cold_job_cpu_s of this checkout's earlier untraced runs of
    the workload (the baseline for the tracing overhead). CPU seconds,
    not wall, so the host's steal time does not swamp the difference."""
    vals = []
    for name in os.listdir(os.path.join(WORK, "results")):
        with open(os.path.join(WORK, "results", name)) as f:
            r = json.load(f)
        st = r["stamp"]
        cpu = r["end_to_end"].get("cold_job_cpu_s")
        if st["workload"] == workload and not st["trace"] \
                and st["docs_per_job"] == n_docs and cpu is not None:
            vals.append(cpu)
    return statistics.median(vals) if vals else None


def per_layer(workload: str, worker: Worker, run_dir: str,
              input_dir: str) -> dict:
    import eventlog

    spec = WORKLOADS[workload]
    spans = worker.result["spans"]
    groups = eventlog.by_group(os.path.join(run_dir, "eventlog"))
    traced = [j for j in worker.result["jobs"] if j["ok"]]
    if not traced:
        return {}
    n = nproc()

    def one(job: dict) -> dict:
        tag = f"j{job['k']}"
        sp = {s["name"]: s["end"] - s["start"]
              for s in spans if s["job"] == tag}
        children = sum(s["end"] - s["start"] for s in spans
                       if s["job"] == tag and s["parent"] == "job")

        def grp(name: str) -> dict:
            return groups.get(f"{tag}:{name}") or eventlog.empty()

        total = eventlog.merge(g for k, g in groups.items()
                               if k.startswith(f"{tag}:"))
        whole = spec["mode"] == "whole"
        scene = grp("aggregate") if whole else eventlog.empty()
        dist = grp("scene_dist.classify")
        lin = {r["stage"]: r for r in job.get("lineage", [])}
        staged = sum(r["wall_ms"] for r in lin.values()) / 1e3
        m = {
            "sources.register_s": sp["sources.register"],
            "sources.scan_splits": job["scan_splits"],
            "pipeline.pass1_s": (sp.get("pipeline.pass1", 0.0) if whole
                                 else lin.get("pass1", {}).get(
                                     "wall_ms", 0) / 1e3),
            "pipeline.pass1_sql_analyze_s": job["pass1_sql_analyze_s"],
            "pipeline.pass1_spark_jobs": grp("pipeline.pass1")["jobs"],
            "pipeline.thresholds_s": sp.get("pipeline.thresholds", 0.0),
            "pipeline.thresholds_spark_jobs":
                grp("pipeline.thresholds")["jobs"],
            "pipeline.classify_plan_s": sp.get("pipeline.classify_plan",
                                               0.0),
            "scene.exec_s": sp["aggregate"] if whole else 0.0,
            "scene.spark_jobs": scene["jobs"],
            "scene.task_ms_p50": (statistics.median(scene["task_ms"])
                                  if scene["task_ms"] else 0.0),
            "scene.task_ms_max": max(scene["task_ms"], default=0),
            "scene.shuffle_write_mb": scene["shuffle_write_b"] / 1e6,
            "scene.spill_mb": scene["spill_b"] / 1e6,
            "scene.gc_ms": scene["gc_ms"],
            "scene_dist.classify_s": sp.get("scene_dist.classify", 0.0),
            "scene_dist.aggregate_s": 0.0 if whole else sp["aggregate"],
            "scene_dist.unstaged_s": (0.0 if whole
                                      else job["wall_s"] - staged),
            "scene_dist.shuffle_write_mb": dist["shuffle_write_b"] / 1e6,
            "scene_dist.spark_jobs": dist["jobs"],
            "sinks.write_s": sp.get("sinks.write", 0.0),
            "sinks.bytes_written": job.get("sink_bytes", 0),
            "sinks.files_written": job.get("sink_files", 0),
            "spark.jobs": total["jobs"],
            "spark.stages": len(total["stages"]),
            "spark.tasks": total["tasks"],
            "spark.task_s_sum": total["run_ms"] / 1e3,
            "spark.core_utilization":
                total["run_ms"] / 1e3 / (job["wall_s"] * n),
            "spark.shuffle_write_mb": total["shuffle_write_b"] / 1e6,
            "spark.spill_mb": total["spill_b"] / 1e6,
            "spark.gc_ms": total["gc_ms"],
            "trace.span_coverage": children / sp["job"],
        }
        for st in LINEAGE_STAGES:
            r = lin.get(st)
            m[f"lineage.{st}_s"] = r["wall_ms"] / 1e3 if r else 0.0
            m[f"lineage.{st}_skew"] = (
                r["max_partition_rows"] / max(r["median_partition_rows"], 1)
                if r else 0.0)
        return m

    per_job = [one(j) for j in traced]
    out = {k: statistics.median(m[k] for m in per_job) for k in per_job[0]}
    out["session.start_s"] = worker.ready_s
    out["kernels.scene_us_per_px"] = kernel_us_per_px(input_dir)
    base = untraced_cold_job_cpu_s(workload, spec["n_docs"])
    out["trace.overhead_s"] = (traced[0]["cpu_s"] - base
                               if traced[0]["k"] == 0 and base else 0.0)
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def run(args) -> int:
    t_run = time.perf_counter()
    spec = WORKLOADS[args.workload]
    n = nproc()
    load_before = loadavg()
    steal_before = cpu_ticks()
    input_dir, expected = prepare_input(args.workload, args.seed)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "jobs"))
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    hard_deadline = t_run + RUN_BUDGET_S
    cfg = {"nproc": n, "mode": spec["mode"], "sink": spec["sink"],
           "base_input": os.path.join(input_dir, "documents.parquet"),
           "jobs_root": os.path.join(run_dir, "jobs"),
           "seconds": args.seconds, "trace": bool(args.trace),
           "budget_s": hard_deadline - time.perf_counter() - 30}
    w = Worker(cfg, run_dir, bool(args.trace), "main")
    try:
        w.wait(hard_deadline, until_exit=bool(args.trace))
    finally:
        w.stop()

    jobs = (w.result or {}).get("jobs", [])
    for j in jobs:
        j["ok"] = j["error"] is None and j["digest"] == expected
        if j["error"]:
            print(f"job {j['k']} raised:\n{j['error']}", file=sys.stderr)
        elif not j["ok"]:
            print(f"job {j['k']} digest {j['digest']} != reference "
                  f"{expected}", file=sys.stderr)
    attempted = max(len(jobs), 1)
    failed = attempted - sum(j["ok"] for j in jobs)
    if not jobs:
        print(f"perfbench: worker ended without a result; see "
              f"{run_dir}/main.log", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": failed, "metrics": {}}))
        return 1

    e2e = end_to_end(spec, w, jobs)
    if args.trace:
        metrics = per_layer(args.workload, w, run_dir, input_dir)
        names = PER_LAYER if metrics else ()
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(w.result["spans"], f)
    else:
        metrics, names = e2e, END_TO_END
    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": n, "master": f"local[{n}]",
        "loadavg_1m_before": load_before, "loadavg_1m_after": loadavg(),
        "steal_pct": steal_pct(steal_before, cpu_ticks()),
        "python": platform.python_version(),
        "spark": _version("pyspark"), "numpy": _version("numpy"),
        "docs_per_job": spec["n_docs"], "jobs": len(jobs),
        "run_s": time.perf_counter() - t_run,
    }
    for k, v in stamp.items():
        print(f"# {k} {v}")
    for name, unit in END_TO_END + WALL:
        print(f"{name} {e2e[name]:.6g} {unit}")
    print(f"failed_ratio {failed / attempted:.6g} ratio "
          f"({failed} of {attempted} jobs)")
    warm = [j["wall_s"] for j in jobs[1:]]
    if warm:
        t, label = tail(warm)
        print(f"job_s_p50 {statistics.median(warm):.6g} s (warm, "
              f"n={len(warm)})")
        print(f"job_s_tail {t:.6g} s ({label})")
    for name, unit in (PER_LAYER if args.trace and metrics else ()):
        print(f"{name} {metrics[name]:.6g} {unit}")
    with open(os.path.join(WORK, "results", f"{args.workload}-{args.seed}-"
                           f"t{args.trace}-{time.time_ns()}.json"),
              "w") as f:
        json.dump({"stamp": stamp, "end_to_end": e2e, "metrics": metrics,
                   "jobs": [{k: j[k] for k in ("k", "wall_s", "ok")}
                            for j in jobs]},
                  f, indent=1)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in names}}))
    return 0


def _version(mod: str) -> str:
    try:
        return __import__(mod).__version__
    except Exception:
        return "?"


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-check", metavar="SF_DIR",
                   help="check the reference against the repository's "
                        "sf0.01 shadow-chain fixture and exit")
    args = p.parse_args()
    # a terminated run still ends its worker tree (run's finally clause)
    signal.signal(signal.SIGTERM, lambda sig, _frame: sys.exit(128 + sig))
    require_program()
    sys.path[:0] = [REPO, BENCH]
    if args.self_check:
        import reference
        ok = reference.self_check(args.self_check)
        print(f"reference self-check at {args.self_check}: "
              f"{'PASS' if ok else 'FAIL'}")
        sys.exit(0 if ok else 1)
    if not args.workload:
        p.error("--workload is required")
    sys.exit(run(args))


if __name__ == "__main__":
    main()
