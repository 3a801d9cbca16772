"""salted_repartition: skew fan-out without row loss/duplication."""

from __future__ import annotations

import pandas as pd

from python_fmask_spark import tiling


def test_salted_repartition_preserves_rows_and_spreads_hot_key(spark):
    # one Zipf-hot cell (9000 rows) + 10 cold cells (100 each)
    rows = [("u%05d" % i, "hot") for i in range(9000)]
    for c in range(10):
        rows += [("v%d_%03d" % (c, i), f"cold{c}") for i in range(100)]
    pdf = pd.DataFrame(rows, columns=["url", "cell_id"])
    df = spark.createDataFrame(pdf)

    out = tiling.salted_repartition(df, target_rows_per_partition=1000)
    assert out.count() == len(rows)
    assert out.select("url").distinct().count() == len(rows)
    # the hot cell must span multiple partitions
    from pyspark.sql import functions as F
    parts = (out.filter("cell_id = 'hot'")
             .select(F.spark_partition_id().alias("pid"))
             .distinct().count())
    assert parts >= 2, f"hot cell landed in {parts} partition(s)"
