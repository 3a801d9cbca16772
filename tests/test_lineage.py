"""Checkpoint-resume + lineage metrics behavior."""

from __future__ import annotations

import os
import tempfile

from python_fmask_spark.plans.lineage import StageRunner
from python_fmask_spark.sources import register_views


def test_stage_runner_resume(spark, sf_small):
    register_views(spark, sf_small)
    with tempfile.TemporaryDirectory() as wd:
        runner = StageRunner(spark, wd, "t1")
        calls = []

        def build():
            calls.append(1)
            return spark.sql("SELECT doc_id, lang FROM documents")

        df1 = runner.run("s1", "fp-a", build)
        n1 = df1.count()
        # resume: same fingerprint -> no rebuild
        df2 = runner.run("s1", "fp-a", build)
        assert df2.count() == n1
        assert len(calls) == 1
        # changed fingerprint -> rebuild
        runner.run("s1", "fp-b", build)
        assert len(calls) == 2
        lin = runner.lineage().collect()
        assert {r.stage for r in lin} == {"s1"}
        assert all(r.rows_out == n1 for r in lin)
        assert all(r.max_partition_rows >= r.median_partition_rows for r in lin)


def _spark_jobs(spark, group: str, action) -> int:
    """Number of Spark jobs ``action()`` launches, counted under a job
    group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_stage_barrier_costs_only_its_write(spark, sf_small):
    """A fresh stage launches exactly the jobs of its own write: row
    counts come from the written footers, the lineage row is written
    without Spark, and the read-back infers no schema. A resumed stage
    launches none."""
    register_views(spark, sf_small)

    def build():
        return spark.sql("SELECT doc_id, lang FROM documents") \
            .repartition(3, "lang")

    with tempfile.TemporaryDirectory() as wd:
        n_write = _spark_jobs(spark, "lin_write", lambda: build().write
                              .parquet(os.path.join(wd, "plain")))
        runner = StageRunner(spark, os.path.join(wd, "run"), "j1")
        assert _spark_jobs(spark, "lin_fresh",
                           lambda: runner.run("s", "fp", build)) == n_write
        assert _spark_jobs(spark, "lin_resume",
                           lambda: runner.run("s", "fp", build)) == 0


def test_lineage_reads_earlier_spark_written_rows(spark, sf_small):
    """A _lineage directory holding a row appended the earlier way (a
    one-row Spark frame) next to pyarrow-written rows reads back as one
    table with the earlier column names and types."""
    register_views(spark, sf_small)
    with tempfile.TemporaryDirectory() as wd:
        lin_dir = os.path.join(wd, "_lineage")
        old_row = {"run_id": "old", "stage": "s0",
                   "input_fingerprint": "fp0", "rows_out": 7,
                   "n_partitions": 2, "max_partition_rows": 4,
                   "median_partition_rows": 4, "wall_ms": 11,
                   "written_at_ms": 12}
        spark.createDataFrame([old_row]).write.parquet(lin_dir)
        old_dtypes = spark.read.parquet(lin_dir).dtypes

        runner = StageRunner(spark, wd, "new")
        n = runner.run("s1", "fp1", lambda: spark.sql(
            "SELECT doc_id, lang FROM documents")).count()
        runner.run("s2", "fp1", lambda: spark.sql(
            "SELECT lang FROM documents"))
        lin = runner.lineage()
        assert lin.dtypes == old_dtypes
        rows = {r.stage: r for r in lin.collect()}
        assert set(rows) == {"s0", "s1", "s2"}
        assert rows["s0"].asDict() == old_row
        assert rows["s1"].rows_out == rows["s2"].rows_out == n
        assert rows["s1"].run_id == "new"


def test_empty_stage_records_zero_rows(spark, sf_small):
    register_views(spark, sf_small)
    with tempfile.TemporaryDirectory() as wd:
        runner = StageRunner(spark, wd, "e")

        def build():
            return spark.sql(
                "SELECT doc_id, lang, n_chars FROM documents WHERE false")

        built = [(f.name, f.dataType) for f in build().schema]
        for _ in range(2):  # build, then resume
            out = runner.run("empty", "fp", build)
            assert [(f.name, f.dataType) for f in out.schema] == built
            assert out.count() == 0
        (row,) = runner.lineage().collect()
        assert row.rows_out == 0
        assert row.max_partition_rows == row.median_partition_rows == 0


def test_distributed_cdi_pass1_is_staged(spark, sf_small):
    """With the CDI displacement test on, the CDI-modified pass-1 frame
    is a stage table like every other barrier: the first runner records
    a pass1 lineage row, and a second runner on the same workdir resumes
    the scene exchange's leaves without running the raw pass 1 or the
    CDI kernel (no Spark job even with the session's leaves dropped),
    writes no lineage rows and returns identical rows."""
    from python_fmask_spark import pipeline
    from python_fmask_spark.operators.scene_dist import classify_distributed
    from python_fmask_spark.oracle import S2_ZERO_OFFSETS

    register_views(spark, sf_small)
    kw = dict(sensor="SENTINEL2", s2_offsets=S2_ZERO_OFFSETS, s2_cdi=True)
    with tempfile.TemporaryDirectory() as wd:
        r1 = StageRunner(spark, wd, "c1")
        out1 = sorted(map(tuple, classify_distributed(
            spark, runner=r1, **kw).collect()))
        assert "pass1" in {r.stage for r in r1.lineage().collect()}

        pipeline.invalidate_pass1_cache(spark)
        r2 = StageRunner(spark, wd, "c2")
        scene = pipeline.Scene(**kw)
        assert _spark_jobs(spark, "cdi_resume", lambda: pipeline
                           .scene_exchange(spark, scene, runner=r2)) == 0
        out2 = sorted(map(tuple, classify_distributed(
            spark, runner=r2, **kw).collect()))
        assert r2.lineage().filter("run_id = 'c2'").count() == 0
        assert out2 == out1


def test_runner_fingerprint_covers_params(spark, sf_small):
    """ADVICE r4: the distributed-classify stage fingerprint folds in
    the FmaskParams fields (and the registered input identity + pass-1
    SQL) — resuming in the same workdir with unchanged params skips
    every stage, while changed params re-run ALL stage tables instead
    of silently reusing stale results."""
    from python_fmask_spark.operators.scene import FmaskParams
    from python_fmask_spark.operators.scene_dist import classify_distributed

    register_views(spark, sf_small)
    with tempfile.TemporaryDirectory() as wd:
        r1 = StageRunner(spark, wd, "f1")
        n1 = classify_distributed(spark, runner=r1).count()
        dist_stages = {"dist_p3", "dist_flags", "dist_px"}
        assert {r.stage for r in r1.lineage()
                .filter("run_id = 'f1'").collect()} == {
                    "pass1", "thresholds", *dist_stages}
        # same params + same input -> full resume, nothing rebuilt
        r2 = StageRunner(spark, wd, "f2")
        assert classify_distributed(spark, runner=r2).count() == n1
        assert r2.lineage().filter("run_id = 'f2'").count() == 0
        # changed FmaskParams -> every distributed stage re-runs
        # (pass1 correctly resumes: it does not depend on FmaskParams)
        r3 = StageRunner(spark, wd, "f3")
        classify_distributed(
            spark, params=FmaskParams(cloud_buffer_px=0,
                                      shadow_buffer_px=0,
                                      min_cloud_size_px=1),
            runner=r3).count()
        rebuilt = {r.stage for r in r3.lineage()
                   .filter("run_id = 'f3'").collect()}
        assert rebuilt >= dist_stages
        assert "pass1" not in rebuilt


def test_runner_fingerprint_covers_pass3_sql(spark, sf_small, monkeypatch):
    """The distributed stage fingerprint hashes the rendered pass-3
    exchange SQL: after a change to the pass-3 formulas, a resume in the
    same workdir rebuilds dist_p3, while the pass-1 and per-cell leaves
    (which do not depend on pass 3) resume."""
    from python_fmask_spark import derive
    from python_fmask_spark.operators.scene_dist import classify_distributed

    register_views(spark, sf_small)
    with tempfile.TemporaryDirectory() as wd:
        classify_distributed(spark, runner=StageRunner(spark, wd, "p1"))
        pass3_sql = derive.pass3_sql
        monkeypatch.setattr(derive, "pass3_sql", lambda d, sensor="LANDSAT8":
                            pass3_sql(d, sensor=sensor) + " /* edited */")
        r2 = StageRunner(spark, wd, "p2")
        classify_distributed(spark, runner=r2).count()
        rebuilt = {r.stage for r in r2.lineage()
                   .filter("run_id = 'p2'").collect()}
        assert "dist_p3" in rebuilt
        assert not rebuilt & {"pass1", "thresholds"}


def test_dist_p3_holds_only_the_exchange(spark, sf_small):
    """The dist_p3 stage table is scene_exchange's pixel frame with its
    flags unpacked: no url, no per-cell constants (thresholds, angle
    scalars, cell_rows live once per cell in the ``thresholds`` stage,
    which gets a lineage row of its own)."""
    from python_fmask_spark.operators.scene_dist import classify_distributed

    register_views(spark, sf_small)
    with tempfile.TemporaryDirectory() as wd:
        r = StageRunner(spark, wd, "x")
        classify_distributed(spark, runner=r).count()
        cols = spark.read.parquet(os.path.join(wd, "stage_dist_p3")).columns
        assert cols == ["cell_id", "r", "c", "nir", "bt", "nullmask",
                        "water_test", "snow", "cloud_raw",
                        "sat_az_cdn", "sat_zen_cdn"]
        thr = spark.read.parquet(os.path.join(wd, "stage_thresholds"))
        assert {"tlow", "thigh", "b4_17", "sun_az", "sun_zen",
                "cell_rows"} <= set(thr.columns)
        # no kernel reads the per-cell view angles (each clump averages
        # the per-pixel sat_*_cdn), so the leaf does not carry them
        assert not {"sat_az", "sat_zen"} & set(thr.columns)
        assert thr.count() == thr.select("cell_id").distinct().count()
        assert "thresholds" in {row.stage for row in r.lineage().collect()}


def test_distributed_classify_resumes(spark, sf_small):
    """classify_distributed(runner=...) materializes its five barriers
    (pass1, thresholds, dist_p3, dist_flags, dist_px) as fingerprinted
    stage tables. Simulate a mid-job crash by wiping the LAST stage's
    marker: the rerun must (a) skip the completed early stages (their
    stage parquet untouched), (b) rebuild only the tail, (c) produce
    rows identical to the uninterrupted run and to the session-scoped
    localCheckpoint path."""
    import glob
    import os

    from python_fmask_spark.operators.scene_dist import classify_distributed

    register_views(spark, sf_small)
    baseline = sorted(
        map(tuple, classify_distributed(spark).collect()))

    with tempfile.TemporaryDirectory() as wd:
        r1 = StageRunner(spark, wd, "d1")
        out1 = sorted(map(tuple, classify_distributed(
            spark, runner=r1).collect()))
        assert out1 == baseline
        markers = sorted(glob.glob(os.path.join(wd, "stage_*.json")))
        assert {os.path.basename(m) for m in markers} == {
            f"stage_{st}._fingerprint.json" for st in (
                "pass1", "thresholds", "dist_p3", "dist_flags", "dist_px")}

        early = os.path.join(wd, "stage_dist_p3")
        early_mtime = os.path.getmtime(os.path.join(early, "_SUCCESS"))
        # crash simulation: the clump stage never finished
        os.remove(os.path.join(wd, "stage_dist_px._fingerprint.json"))

        r2 = StageRunner(spark, wd, "d2")
        out2 = sorted(map(tuple, classify_distributed(
            spark, runner=r2).collect()))
        assert out2 == baseline
        # completed early stage was NOT rewritten on resume
        assert os.path.getmtime(
            os.path.join(early, "_SUCCESS")) == early_mtime
        # only the torn-down tail stage was rebuilt
        lin = r2.lineage().filter("run_id = 'd2'").collect()
        assert {r.stage for r in lin} == {"dist_px"}
