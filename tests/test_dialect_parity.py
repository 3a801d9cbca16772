"""Primitive-level Spark <-> DuckDB parity for every dialect.py builder
(the foundation the single-source derivations rest on)."""

from __future__ import annotations

import duckdb
import pytest

from python_fmask_spark import dialect as D

CASES = [
    ("hexint", lambda d: D.hexint("'00ff'", d)),
    ("md5_slice", lambda d: D.md5_slice_int("'abc'", 3, 6, d)),
    ("jitter", lambda d: D.jitter("'seed text'", 7, 9973, d)),
    ("cast_str", lambda d: D.cast_str("12345", d)),
    ("ts_add", lambda d: D.ts_add_seconds(
        "timestamp '2024-06-01 10:00:00'", "98765", d)),
    ("idiv", lambda d: D.idiv("17", "5", d)),
    ("round_even_0.5", lambda d: D.round_half_even("0.5", d)),
    ("round_even_1.5", lambda d: D.round_half_even("1.5", d)),
    ("round_even_2.5", lambda d: D.round_half_even("2.5", d)),
    ("round_even_2.3", lambda d: D.round_half_even("2.3", d)),
    ("ln", lambda d: D.log_natural("7.5", d)),
    ("sha256", lambda d: D.sha256_hex("'payload'", d)),
    ("blob_roundtrip", lambda d: D.blob_to_str(D.to_blob("'héllo'", d), d)),
    ("octet_len", lambda d: D.octet_len(D.to_blob("'héllo'", d), d)),
]


@pytest.mark.parametrize("name,builder", CASES, ids=[c[0] for c in CASES])
def test_primitive_parity(spark, name, builder):
    sv = spark.sql(f"SELECT {builder(D.SPARK)} AS v").collect()[0][0]
    dv = duckdb.sql(f"SELECT {builder(D.DUCKDB)} AS v").fetchone()[0]
    assert str(sv) == str(dv), (name, sv, dv)


def test_explode_series_parity(spark):
    s = spark.sql(
        f"SELECT {D.explode_series('1', '5', 'i', D.SPARK)}").collect()
    d = duckdb.sql(
        f"SELECT {D.explode_series('1', '5', 'i', D.DUCKDB)}").fetchall()
    assert sorted(r[0] for r in s) == sorted(r[0] for r in d) == [1, 2, 3, 4, 5]


def test_url_canonicalization_edge_cases_spark(spark):
    """The q_url_canonical normalization chain over literal edge-case
    URLs (fragment, WWW., default ports, trailing slash) — the synthetic
    documents fixture never exercises these, so pin the Spark-dialect
    behavior explicitly (the DuckDB side is pinned by the same literals
    in development and the driver compare covers the fixture corpus)."""
    rows = spark.sql("""
WITH u0 AS (SELECT url, split_part(url, '#', 1) AS nofrag FROM (VALUES
  ('HTTPS://WWW.Ex.com:443/a/b/#frag'),
  ('http://ex.com:80/'),
  ('https://ex.com/a/')) t(url)),
u1 AS (SELECT url, lower(split_part(nofrag,'://',1)) AS scheme,
  lower(split_part(split_part(nofrag,'://',2),'/',1)) AS hostport,
  substr(split_part(nofrag,'://',2),
         length(split_part(split_part(nofrag,'://',2),'/',1))+1) AS pathq
  FROM u0),
u2 AS (SELECT url, scheme,
  (case when hostport LIKE 'www.%' then substr(hostport,5)
        else hostport end) AS h1, pathq FROM u1),
u3 AS (SELECT url, scheme,
  (case when scheme='https' AND h1 LIKE '%:443'
          then substr(h1,1,length(h1)-4)
        when scheme='http' AND h1 LIKE '%:80'
          then substr(h1,1,length(h1)-3) else h1 end) AS host,
  (case when pathq LIKE '%/' AND length(pathq)>1
          then substr(pathq,1,length(pathq)-1)
        when pathq='/' then '' else pathq end) AS path FROM u2)
SELECT url, scheme || '://' || host || path AS canon FROM u3
""").collect()
    got = {r.url: r.canon for r in rows}
    assert got == {
        "HTTPS://WWW.Ex.com:443/a/b/#frag": "https://ex.com/a/b",
        "http://ex.com:80/": "http://ex.com",
        "https://ex.com/a/": "https://ex.com/a",
    }


def test_repetition_one_word_doc_parity(spark):
    """ADVICE r4: q_repetition must not drop documents with a single
    word (they have no bigram rows) — they appear with NULL bigram
    columns, identically in both dialects."""
    import duckdb as _dd

    from python_fmask_spark.functions import text as textfn

    mini = ("SELECT * FROM (VALUES (1, 'loneword', 'src', 'en'), "
            "(2, 'two words words here', 'src', 'en')) "
            "t(doc_id, text, source, lang)")
    spark.sql(mini).createOrReplaceTempView("documents")
    try:
        s_rows = {r.url: (r.n_words, r.n_distinct_words,
                          r.distinct_word_micro, r.top_bigram_n,
                          r.n_bigrams, r.top_bigram_micro)
                  for r in spark.sql(textfn.q_repetition(D.SPARK)).collect()}
        con = _dd.connect()
        con.execute(f"CREATE VIEW documents AS {mini}")
        d_rows = {r[0]: tuple(r[1:])
                  for r in con.execute(
                      textfn.q_repetition(D.DUCKDB)).fetchall()}
    finally:
        spark.catalog.dropTempView("documents")
    assert len(s_rows) == 2  # the one-word doc is present
    one = [u for u in s_rows if u.endswith("/1")][0]
    assert s_rows[one][0] == 1  # n_words
    assert s_rows[one][3] is None  # top_bigram_n NULL, not dropped
    assert {u: tuple(None if v is None else int(v) for v in t)
            for u, t in s_rows.items()} == \
           {u: tuple(None if v is None else int(v) for v in t)
            for u, t in d_rows.items()}
