"""ANN recall contracts (DuckDB-only, fast): the documented recall
figures for the IVF multi-assignment index and the banded-LSH variant
hold on the sf0.01 embeddings fixture vs exact brute force."""

from __future__ import annotations

import duckdb
import pytest

from python_fmask_spark.dialect import DUCKDB
from python_fmask_spark.functions import similarity as S


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute("CREATE VIEW embeddings AS SELECT * FROM read_parquet("
              "'/root/testdata/sf0.01/embeddings.parquet')")
    return c


@pytest.fixture(scope="module")
def truth(con):
    bf = con.execute(S.q_ann_bruteforce(DUCKDB)).df()
    t: dict[int, set[int]] = {}
    for r in bf.itertuples():
        t.setdefault(r.query_id, set()).add(r.cand_id)
    return t


def _recall(df, truth):
    hit = tot = 0
    for q, t in truth.items():
        hit += len(set(df[df.query_id == q].cand_id) & t)
        tot += len(t)
    return hit / tot


def test_ivf_recall_with_multi_assignment(con, truth):
    """R=2 multi-assignment at nprobe=8: docstring claims 0.90."""
    df = con.execute(S.q_ann_ivf(DUCKDB)).df()
    assert _recall(df, truth) >= 0.8


def test_lsh_recall(con, truth):
    """Banded LSH: docstring claims 0.97."""
    df = con.execute(S.q_ann_lsh(DUCKDB)).df()
    assert _recall(df, truth) >= 0.9
