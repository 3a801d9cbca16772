"""The keyword entry points forward pipeline.Scene's fields, the input
registration keeps the session's pass-1 leaves, and a classify frame
runs its plan once."""

from __future__ import annotations

from collections import Counter

import pytest

from python_fmask_spark import pipeline, sources
from python_fmask_spark.operators.scene import FmaskParams
from python_fmask_spark.operators.scene_dist import classify_distributed
from python_fmask_spark.sources import register_views

# the entry points whose keywords are Scene's fields, forwarded
FORWARDING = {
    "classify": pipeline.classify,
    "classify_auto": pipeline.classify_auto,
    "classify_distributed": classify_distributed,
    "materialize_pass1": pipeline.materialize_pass1,
    "materialize_thresholds": pipeline.materialize_thresholds,
}


@pytest.mark.parametrize("name", sorted(FORWARDING))
def test_misspelled_scene_keyword_is_a_type_error(spark, sf_small, name):
    """A misspelled scene keyword raises TypeError before any Spark job
    runs (every entry point here runs jobs once it gets going)."""
    register_views(spark, sf_small)
    sc = spark.sparkContext
    group = f"kw_{name}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(TypeError, match="sensr"):
            FORWARDING[name](spark, sensr="LANDSAT8")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("name", ["materialize_pass1",
                                  "materialize_thresholds"])
def test_materialize_rejects_params(spark, sf_small, name):
    """The leaf wrappers take the two Eqn-20 floors, not FmaskParams:
    the other fields act after the leaves."""
    register_views(spark, sf_small)
    with pytest.raises(TypeError):
        FORWARDING[name](spark, params=FmaskParams())


def test_load_documents_wide_keeps_the_pass1_cache(spark, sf_small):
    """Loading the wide documents view of the registered directory is
    not an input change: the session's pass-1 leaf stays cached and the
    registered identity (which StageRunner fingerprints fold in) stays
    register_views', file mtimes included."""
    register_views(spark, sf_small)
    ident = sources.registered_input_identity(spark)
    view = pipeline.materialize_pass1(spark)
    sources.load_documents_wide(spark, sf_small)
    assert view in pipeline._PASS1_CACHE.get(spark, set())
    assert sources.registered_input_identity(spark) == ident


# the classify entry points, each with the arguments that make it run
# its whole path on sf0.001 (row_threshold=8 sends cells both ways)
CLASSIFY = {
    "classify": lambda spark: pipeline.classify(spark),
    "classify_auto": lambda spark: pipeline.classify_auto(
        spark, row_threshold=8),
    "classify_distributed": lambda spark: classify_distributed(spark),
}


@pytest.mark.parametrize("name", sorted(CLASSIFY))
def test_classify_runs_its_plan_once(spark, sf_small, name):
    """After one action on a classify frame, a later aggregate over it
    reads the cut's cached rows (an ExistingRDD scan) and runs no
    pandas kernel: the CLI's counts after the sink's write do not run
    the classify plan a second time."""
    register_views(spark, sf_small)
    out = CLASSIFY[name](spark)
    rows = sorted(map(tuple, out.collect()))
    agg = out.groupBy("fmask_class").count()
    counts = {r.fmask_class: r["count"] for r in agg.collect()}
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    for node in ("FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas"):
        assert node not in plan, plan
    assert counts == dict(Counter(r[out.columns.index("fmask_class")]
                                  for r in rows))
    assert sorted(map(tuple, out.collect())) == rows
