"""Semantic edge cases for the round-5 LLM-pipeline operators
(paragraph-grain dedup, PII scrub, domain-mix sampling) that the
fixture corpus doesn't exercise; cross-engine value parity over the
real fixture is covered by test_oracle_parity."""

from __future__ import annotations

import duckdb
import pytest

from python_fmask_spark.dialect import DUCKDB, SPARK
from python_fmask_spark.functions import dedup, sampling
from python_fmask_spark.functions import text as textfn

# 17 words -> 3 paragraphs (8 + 8 + 1) for doc 0/1; doc 2 shares doc
# 0's first 8-word paragraph exactly but nothing else.
_D0 = " ".join(f"w{i}" for i in range(17))
_D2 = " ".join(f"w{i}" for i in range(8)) + " unique tail words here"

_DOCS_SQL = f"""
SELECT * FROM (VALUES
  (0, '{_D0}', 'en', 'srcA'),
  (1, '{_D0}', 'en', 'srcB'),
  (2, '{_D2}', 'en', 'srcA')
) AS t(doc_id, text, lang, source)
"""


def _duck():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS {_DOCS_SQL}")
    return con


def test_paragraph_dedup_duplicate_doc_fully_dropped():
    con = _duck()
    rows = {r[0]: r for r in con.execute(
        dedup.q_paragraph_dedup(DUCKDB)).fetchall()}
    # urls sort srcA/p/0 < srcA/p/2 < srcB.../p/1
    keeper = rows["https://srcA.example/p/0"]
    dup = rows["https://srcB.example/p/1"]
    partial = rows["https://srcA.example/p/2"]
    assert keeper[1:4] == (3, 3, 10000)  # n_paras, n_kept, kept_bp
    assert dup[1:4] == (3, 0, 0) and dup[4] is None  # fully deduped
    # doc 2 (12 words -> 2 paragraphs) loses only the shared first one
    assert partial[1:3] == (2, 1)
    # keeper's reassembly is its own full text re-segmented
    md5_full = con.execute(
        f"SELECT md5('{_D0}')").fetchone()[0]
    assert keeper[4] == md5_full


def test_paragraph_dedup_spark_null_for_fully_deduped(spark):
    """Spark's concat_ws('') vs DuckDB's NULL string_agg divergence is
    guarded in the builder — a fully-deduped doc must be NULL in BOTH."""
    spark.sql(_DOCS_SQL).createOrReplaceTempView("documents")
    rows = {r[0]: r for r in spark.sql(
        dedup.q_paragraph_dedup(SPARK)).collect()}
    dup = rows["https://srcB.example/p/1"]
    assert dup[2] == 0 and dup[4] is None
    spark.catalog.dropTempView("documents")


def test_pii_scrub_zero_residuals_and_counts():
    con = _duck()
    rows = con.execute(textfn.q_pii_scrub(DUCKDB)).fetchall()
    assert len(rows) == 3
    for url, n_em, n_ph, res_em, res_ph, clean_md5 in rows:
        assert (n_em, n_ph) == (1, 1), url  # exactly the planted pair
        assert (res_em, res_ph) == (0, 0), url
        assert clean_md5 is not None


def test_pii_scrub_catches_organic_pii():
    """A document that already contains PII-shaped strings: counts see
    them and the scrub removes them too (not just the planted pair)."""
    con = duckdb.connect()
    con.execute("""CREATE VIEW documents AS SELECT * FROM (VALUES
      (0, 'mail me at bob.smith@corp.example or 555-123-4567 today',
       'en', 'srcA')) AS t(doc_id, text, lang, source)""")
    url, n_em, n_ph, res_em, res_ph, _ = con.execute(
        textfn.q_pii_scrub(DUCKDB)).fetchone()
    assert n_em == 2 and n_ph == 2  # organic + planted of each
    assert res_em == 0 and res_ph == 0


def test_domain_mix_sampler_is_deterministic_and_rate_bounded():
    con = _duck()
    q = sampling.q_domain_mix_sample(DUCKDB)
    a = sorted(con.execute(q).fetchall())
    b = sorted(con.execute(q).fetchall())
    assert a == b  # md5 keep-hash: no rand() anywhere
    for url, host, tier, rate_bp, kept in a:
        assert 0 <= tier < sampling.N_TIERS
        assert rate_bp == dict(sampling.MIX_TIERS)[tier]
        assert kept in (0, 1)
    # keep-all tier must keep everything it covers
    for url, host, tier, rate_bp, kept in a:
        if rate_bp == 10000:
            assert kept == 1


def test_domain_mix_sampler_rates_converge():
    """Over the sf0.001 fixture the per-tier kept fraction lands near
    rate_bp/10000 (binomial, n>=75 per tier on this corpus)."""
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                "read_parquet('/root/testdata/sf0.001/documents.parquet')")
    q = sampling.q_domain_mix_sample(DUCKDB)
    for tier, rate_bp, n, k in con.execute(
            f"SELECT tier, rate_bp, count(*), sum(kept) FROM ({q}) "
            "GROUP BY 1, 2").fetchall():
        frac = k / n
        tol = 3 * (rate_bp / 10000 * (1 - rate_bp / 10000) / n) ** 0.5 + 1e-9
        assert abs(frac - rate_bp / 10000) <= max(tol, 0.06), (
            tier, rate_bp, n, k)


# ---------------------------------------------------------------------------
# near-dup clusters + composed curation (round 5)
# ---------------------------------------------------------------------------


def _union_find_clusters(urls, pairs):
    """Third, independent CC implementation (plain Python union-find) —
    neither the Spark label-propagation loop nor the DuckDB recursive
    closure."""
    parent = {u: u for u in urls}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for u in urls:
        comp.setdefault(find(u), []).append(u)
    return {u: min(members) for members in comp.values() for u in members}


def test_minhash_clusters_match_union_find(spark, sf_oracle):
    """The Spark label-propagation components == a plain union-find
    over the same candidate pairs (the oracle-parity test separately
    pins them against DuckDB's recursive closure — three independent
    implementations agreeing)."""
    import duckdb as _duckdb

    from python_fmask_spark.sources import register_views
    con = _duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_oracle}/documents.parquet')")
    pairs = con.execute(dedup.q_minhash_pairs(DUCKDB)).fetchall()
    urls = [r[0] for r in con.execute(
        f"SELECT url FROM ({dedup.q_url_canonical(DUCKDB)}) t").fetchall()]
    expected = _union_find_clusters(urls, pairs)

    register_views(spark, sf_oracle)
    got = {r["url"]: r["cluster_id"]
           for r in dedup.minhash_clusters(spark).collect()}
    assert got == expected
    # every multi-doc cluster's canonical is its earliest (warc_ts, url)
    rows = dedup.minhash_clusters(spark).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    n_multi = 0
    for members in by_cluster.values():
        canon = {m["canonical_url"] for m in members}
        assert len(canon) == 1
        assert sum(1 for m in members if m["is_dup"] == 0) == 1
        if len(members) > 1:
            n_multi += 1
    assert n_multi > 0  # the fixture must actually exercise clusters


def test_corpus_curate_flags_tiny_corpus(spark):
    """Semantics on a controlled corpus: exact dup dropped by warc_ts
    order, quality floor and language allowlist enforced, keep = AND."""
    from python_fmask_spark.functions import curation
    text_good = ("the quick brown fox jumps over the lazy dog and then "
                 "the dog naps in the warm sun near the old barn") * 3
    docs_sql = f"""
SELECT * FROM (VALUES
  (0, '{text_good}', 'en', 'srcA'),
  (1, '{text_good}', 'en', 'srcB'),
  (2, '1234567890 98765 43210 111 222 333 444 555', 'en', 'srcA'),
  (3, '{text_good}x', 'de', 'srcA')
) AS t(doc_id, text, lang, source)
"""
    spark.sql(docs_sql).createOrReplaceTempView("documents")
    rows = {r["url"]: r for r in curation.corpus_curate(spark).collect()}
    a0 = rows["https://srcA.example/p/0"]   # earliest dup copy
    b1 = rows["https://srcB.example/p/1"]   # later exact dup
    a2 = rows["https://srcA.example/p/2"]   # digit soup -> low quality
    a3 = rows["https://srcA.example/p/3"]   # near-dup of 0/1, wrong lang
    assert a0["exact_ok"] == 1 and a0["keep"] == 1
    assert b1["exact_ok"] == 0 and b1["keep"] == 0
    # doc 3 differs by one char: same near-dup cluster, 0 is canonical
    assert a3["neardup_ok"] == 0 or b1["neardup_ok"] == 0
    assert a3["lang_ok"] == 0 and a3["keep"] == 0
    assert a2["quality_ok"] == 0 and a2["keep"] == 0


# ---------------------------------------------------------------------------
# duplicate-span coverage + benchmark decontamination (round-5 additions)
# ---------------------------------------------------------------------------

_SPAN_A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
_SPAN_U = "completely different words that never overlap with anything"
_SPAN_DOCS_SQL = f"""
SELECT * FROM (VALUES
  (0, '{_SPAN_A}', 'en', 'srcA'),
  (1, '{_SPAN_A}', 'en', 'srcB'),
  (2, '{_SPAN_U}', 'en', 'srcA')
) AS t(doc_id, text, lang, source)
"""


def test_dup_span_exact_duplicates_score_1000():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS {_SPAN_DOCS_SQL}")
    rows = {r[0]: r for r in con.execute(
        textfn.q_dup_span_coverage(DUCKDB)).fetchall()}
    # identical docs: every 20-char gram appears in the other copy
    assert rows["https://srcA.example/p/0"][3] == 1000
    assert rows["https://srcB.example/p/1"][3] == 1000
    # the unique doc shares no 20-char span with anything
    u = rows["https://srcA.example/p/2"]
    assert u[2] == 0 and u[3] == 0
    # n_grams == len(text) - 19 for docs longer than one gram
    assert rows["https://srcA.example/p/0"][1] == len(_SPAN_A) - 19


def test_dup_span_partial_overlap_is_fractional():
    con = duckdb.connect()
    # doc 1 = doc 0's text plus a long unique tail: coverage must be
    # strictly between 0 and 1000 for the longer doc
    tail = " plus an entirely unrepeated continuation of words"
    con.execute(f"""CREATE VIEW documents AS
SELECT * FROM (VALUES
  (0, '{_SPAN_A}', 'en', 'srcA'),
  (1, '{_SPAN_A}{tail}', 'en', 'srcB')
) AS t(doc_id, text, lang, source)""")
    rows = {r[0]: r for r in con.execute(
        textfn.q_dup_span_coverage(DUCKDB)).fetchall()}
    longer = rows["https://srcB.example/p/1"]
    assert 0 < longer[3] < 1000


def test_decontaminate_flags_only_training_docs_sharing_eval_ngrams():
    """Deterministic md5(url) eval split at mod 2 over srcA ids 0..5:
    ids {2, 4} are eval, {0, 1, 3, 5} train (pinned by the fixed md5).
    Docs 0-3 share text A -> train copies 0, 1, 3 are contaminated by
    eval copy 2; unique train doc 5 and unique eval doc 4 flag nothing.
    """
    from python_fmask_spark.functions import curation
    text_a = "alpha beta gamma delta epsilon zeta"  # 6 words, 3 4-grams
    con = duckdb.connect()
    con.execute("""CREATE VIEW documents AS
SELECT * FROM (VALUES
  (0, 'alpha beta gamma delta epsilon zeta', 'en', 'srcA'),
  (1, 'alpha beta gamma delta epsilon zeta', 'en', 'srcA'),
  (2, 'alpha beta gamma delta epsilon zeta', 'en', 'srcA'),
  (3, 'alpha beta gamma delta epsilon zeta', 'en', 'srcA'),
  (4, 'nothing here matches the shared corpus text', 'en', 'srcA'),
  (5, 'equally unrelated private training document body', 'en', 'srcA')
) AS t(doc_id, text, lang, source)""")
    rows = {r[0]: r for r in con.execute(
        curation.q_decontaminate(DUCKDB, n=4, eval_mod=2)).fetchall()}
    n_grams_a = len(text_a.split()) - 3  # 3 distinct 4-grams
    assert set(rows) == {f"https://srcA.example/p/{i}" for i in (0, 1, 3)}
    for i in (0, 1, 3):
        url = f"https://srcA.example/p/{i}"
        assert rows[url][1] == n_grams_a  # n_hit_ngrams
        assert rows[url][2] == 1          # n_eval_docs (doc 2 only)


# ---------------------------------------------------------------------------
# reference-corpus likelihood (CCNet-style statistical quality, round 5)
# ---------------------------------------------------------------------------

def _ref_likelihood_python(docs: dict[str, str], ref_mod: int) -> dict:
    """Independent reimplementation of q_ref_likelihood's contract:
    add-one-smoothed average unigram probability vs the md5(url)
    reference split, exact integer micros."""
    import hashlib

    def in_ref(url: str) -> bool:
        return int(hashlib.md5(url.encode()).hexdigest()[:4], 16) \
            % ref_mod == 1

    lm: dict[str, int] = {}
    for url, text in docs.items():
        if in_ref(url):
            for w in text.split(" "):
                lm[w] = lm.get(w, 0) + 1
    n_tot, v = sum(lm.values()), len(lm)
    out = {}
    for url, text in docs.items():
        words = text.split(" ")
        n = len(words)
        hit = sum(lm.get(w, 0) for w in words)
        oov = sum(1 for w in words if w not in lm)
        out[url] = (n, hit, oov,
                    (1000000 * (hit + n)) // (n * (n_tot + v)),
                    (1000000 * oov) // n)
    return out


def test_ref_likelihood_matches_python_reimplementation():
    con = duckdb.connect()
    con.execute("""CREATE VIEW documents AS
SELECT * FROM (VALUES
  (0, 'the quick brown fox jumps over the lazy dog', 'en', 'srcA'),
  (1, 'the lazy dog sleeps under the quick brown fox', 'en', 'srcA'),
  (2, 'zzz qqq xxx www vvv', 'en', 'srcA'),
  (3, 'the the the the', 'en', 'srcB'),
  (4, 'brown dog and quick fox share common words', 'en', 'srcB'),
  (5, 'one more ordinary document about the brown dog', 'en', 'srcB')
) AS t(doc_id, text, lang, source)""")
    texts = {f"https://src{s}.example/p/{i}": t for i, t, s in [
        (0, 'the quick brown fox jumps over the lazy dog', 'A'),
        (1, 'the lazy dog sleeps under the quick brown fox', 'A'),
        (2, 'zzz qqq xxx www vvv', 'A'),
        (3, 'the the the the', 'B'),
        (4, 'brown dog and quick fox share common words', 'B'),
        (5, 'one more ordinary document about the brown dog', 'B'),
    ]}
    # sanity on the fixture itself BEFORE the reimpl (which divides by
    # the LM mass): the mod-2 split must be non-empty
    import hashlib
    ref_n = sum(1 for u in texts
                if int(hashlib.md5(u.encode()).hexdigest()[:4], 16)
                % 2 == 1)
    assert 0 < ref_n, "fixture degenerate: empty reference split"
    expected = _ref_likelihood_python(texts, ref_mod=2)
    rows = {r[0]: tuple(r[1:]) for r in con.execute(
        textfn.q_ref_likelihood(DUCKDB, ref_mod=2)).fetchall()}
    assert rows == expected


def test_ref_likelihood_ranks_oov_gibberish_below_common_text():
    """Semantic check on the real sf0.001 corpus: a planted
    gibberish document must rank below every organic document on
    commonness and carry full OOV."""
    con = duckdb.connect()
    con.execute("""CREATE VIEW documents AS
SELECT doc_id, text, lang, source
FROM read_parquet('/root/testdata/sf0.001/documents.parquet')
UNION ALL
SELECT 999999, 'qzx wvu tsr qpo nml kji hgf', 'en', 'planted'""")
    df = con.execute(textfn.q_ref_likelihood(DUCKDB)).fetchdf()
    planted = df[df.url == "https://planted.example/p/999999"].iloc[0]
    organic = df[df.url != "https://planted.example/p/999999"]
    assert planted["oov_micro"] == 1000000          # every word OOV
    assert planted["hit_mass"] == 0
    assert (organic["commonness_micro"] > planted["commonness_micro"]).all()


def test_ref_likelihood_empty_reference_split_yields_null_scores():
    """With a ref_mod no md5 slice can satisfy, the LM is empty and the
    score is undefined: commonness_micro must be NULL (both dialects —
    the guard exists because unguarded DuckDB // 0 raises where Spark
    div 0 returns NULL), while counts and oov stay well-defined."""
    con = duckdb.connect()
    con.execute("""CREATE VIEW documents AS
SELECT * FROM (VALUES
  (0, 'some words here', 'en', 'srcA'),
  (1, 'other words there', 'en', 'srcB')
) AS t(doc_id, text, lang, source)""")
    # the md5 slice is a 16-bit value, so with mod 2^20 only a slice of
    # exactly 1 would join the split; these two fixed urls hash to
    # 0x5169 and 0xd5bd — the split is provably empty
    df = con.execute(
        textfn.q_ref_likelihood(DUCKDB, ref_mod=1 << 20)).fetchdf()
    assert len(df) == 2
    assert df["commonness_micro"].isna().all()
    assert (df["oov_micro"] == 1000000).all()
    assert (df["hit_mass"] == 0).all()
