"""Deduplication operators over the ``documents`` table.

Four families, each a `queries()` entry with a DuckDB oracle:
  exact        — hash-groupBy on text digest
  minhash-LSH  — char-5-shingles -> H minhashes -> banded buckets -> pairs
  simhash      — 16-bit sign-of-sum fingerprint, Hamming<=3 pairs
  ngram-jaccard— exact Jaccard over shingle sets for near-dup pairs

Scale notes (10^12 docs): the exact path is a single hash aggregation
(map-side combinable). MinHash signatures are one explode + min-agg,
shuffled once by (url, hash_i); LSH banding turns the quadratic pair
search into an equi-join on (band, band_hash) — the only join — and the
verify step touches candidate pairs only. SimHash buckets by hash
prefix for the same reason. All formulas are md5-based and render
identically in Spark SQL and DuckDB (dialect.py).
"""

from __future__ import annotations

from ..derive import documents_wide_sql
from ..dialect import DUCKDB, SPARK, explode_series, idiv, md5_slice_int

SHINGLE_K = 5
N_HASHES = 16
N_BANDS = 4  # rows per band = N_HASHES / N_BANDS = 4
MERSENNE_P = 2147483647  # 2^31-1

# Fixed affine constants for the H minhash functions (deterministic,
# embedded literally so both dialects see the same numbers).
_A = [1103515245, 1299709, 15485863, 32452843, 49979687, 67867967,
      86028121, 104395301, 122949823, 141650939, 160481183, 179424673,
      198491317, 217645177, 236887691, 256203161]
_B = [12345, 54321, 98765, 13579, 24680, 11111, 22222, 33333,
      44444, 55555, 66666, 77777, 88888, 99999, 10101, 20202]


def _shingles_cte(d: str, distinct: bool = True) -> str:
    """One row per (url, pos) char-5-gram with its integer hash.

    ``distinct=True`` gives true shingle SETS — required wherever set
    cardinality carries meaning (Jaccard numerators/denominators,
    simhash sign-sums). The minhash path passes ``distinct=False``:
    min over a multiset equals min over its set, so the expensive
    corpus-sized DISTINCT exchange is provably redundant there — the
    downstream min() GROUP BY is map-side combinable and its exchange
    carries only H rows per document instead of ~|text| shingle rows."""
    gen = explode_series("1", f"greatest(length(text) - {SHINGLE_K - 1}, 1)",
                         "pos", d)
    h = md5_slice_int(f"substr(text, pos, {SHINGLE_K})", 1, 8, d)
    kw = "DISTINCT " if distinct else ""
    return f"""
docs AS ({documents_wide_sql(d, 'documents')}),
positions AS (
  SELECT url, text, {gen} FROM docs
),
shingles AS (
  SELECT {kw}url, {h} AS sh FROM positions
)""".strip()


def q_exact_dedup(d: str) -> str:
    """Exact duplicate groups by md5(text) (hash aggregation)."""
    return f"""
WITH docs AS ({documents_wide_sql(d, 'documents')})
SELECT md5(text) AS text_md5, count(*) AS n_dups,
       min(url) AS canonical_url
FROM docs GROUP BY md5(text)"""


def _mh_expr(i: int) -> str:
    """The i-th affine minhash as ONE aggregate expression: all H
    minhashes are computed in a single GROUP BY url pass over the
    shingle rows — no x{N_HASHES} hash-index explode, no (url, hi)
    exchange. vs the exploded form this cuts the pre-aggregation row
    volume {N_HASHES}x on the heaviest stage of the dedup family (the
    per-partition partial min still combines map-side, so the exchange
    carries one row per document either way — but the explode paid
    {N_HASHES}x the scan/codegen work to get there)."""
    return f"min(({_A[i]} * sh + {_B[i]}) % {MERSENNE_P}) AS mh{i}"


def _band_hash_expr(band: int, d: str) -> str:
    """md5 of the band's {N_HASHES // N_BANDS} minhashes joined by ','
    in hash order — byte-identical to the previous string_agg
    rendering, so signatures/pairs/cluster hashes are unchanged."""
    r = N_HASHES // N_BANDS
    cast_t = "string" if d == SPARK else "varchar"
    parts = ", ".join(f"cast(mh{band * r + k} as {cast_t})"
                      for k in range(r))
    return f"md5(concat_ws(',', {parts}))"


def _minhash_cte(d: str, distinct_shingles: bool = True) -> str:
    """``distinct_shingles=False`` is only safe when the consumer reads
    nothing but ``minhash_wide``/``bands`` (min absorbs duplicates);
    q_ngram_jaccard reads the ``shingles`` CTE for SET counts and must
    keep the default."""
    mh_exprs = ",\n    ".join(_mh_expr(i) for i in range(N_HASHES))
    band_case = "case band " + " ".join(
        f"when {b} then {_band_hash_expr(b, d)}"
        for b in range(N_BANDS)) + " end"
    return f"""
{_shingles_cte(d, distinct=distinct_shingles)},
minhash_wide AS (
  SELECT url,
    {mh_exprs}
  FROM shingles GROUP BY url
),
bands AS (
  SELECT url, band, {band_case} AS band_hash
  FROM (
    SELECT *, {explode_series('0', str(N_BANDS - 1), 'band', d)}
    FROM minhash_wide
  )
)""".strip()


def _bucket_pairs_spark(src: str, key_cols: str, id_col: str,
                        out_a: str, out_b: str) -> str:
    """Spark-only pair generation within equal-key buckets WITHOUT a
    self-join: group by the bucket key, collect the (small) bucket
    membership, and explode its ordered pairs. A self-join of ``src``
    would make Catalyst execute the entire upstream CTE subtree TWICE
    (deterministic CTEs are inlined per reference — measured in
    plans/r06/q5_minhash_pairs_before.txt: the full shingle+minhash
    derivation appears once per join side); the grouped form scans it
    once. Output pairs are identical to
    ``a JOIN b ON keys AND a.id < b.id`` because the bucket list is
    sorted ascending before pair expansion. Scale note: a bucket of
    k members yields k*(k-1)/2 candidate pairs under EITHER form, so
    the collected list (k ids) is strictly smaller than the join
    output it replaces; LSH buckets are near-dup groups, small by
    construction."""
    return f"""
SELECT DISTINCT {out_a}, {out_b} FROM (
  SELECT sort_array(collect_list({id_col})) AS _us
  FROM {src} GROUP BY {key_cols}
  HAVING count(*) > 1
)
LATERAL VIEW posexplode(_us) pe AS _i, {out_a}
LATERAL VIEW explode(slice(_us, _i + 2, size(_us))) ue AS {out_b}""".strip()


def q_minhash_pairs(d: str) -> str:
    """Candidate near-duplicate pairs: equal minhash signature in >=1 band.

    Runs with distinct_shingles=False: the corpus-sized DISTINCT
    exchange is redundant under min-aggregation (min over a multiset ==
    min over its set), so the only wide exchange left is the map-side-
    combinable per-url min — ONE row per document on the wire, all
    {N_HASHES} minhashes as parallel aggregate columns.

    The Spark rendering generates pairs by grouping bands per
    (band, band_hash) bucket instead of the bands-x-bands self-join:
    the join form re-executes the whole shingle+minhash subtree once
    per side (_bucket_pairs_spark docstring); result set is identical.
    The DuckDB oracle keeps the declarative self-join form."""
    ctes = _minhash_cte(d, distinct_shingles=False)
    if d == SPARK:
        pairs = _bucket_pairs_spark(
            "bands", "band, band_hash", "url",
            "url_a", "url_b")
        return f"WITH {ctes}\n{pairs}"
    return f"""
WITH {ctes}
SELECT DISTINCT a.url AS url_a, b.url AS url_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_hash = b.band_hash AND a.url < b.url"""


def q_minhash_signatures(d: str) -> str:
    """Per-doc minhash signature summary (checksum of the 16 minhashes).
    distinct_shingles=False — see q_minhash_pairs."""
    ctes = _minhash_cte(d, distinct_shingles=False)
    sig = " + ".join(f"mh{i}" for i in range(N_HASHES))
    return f"""
WITH {ctes}
SELECT url, cast({sig} as bigint) AS sig_sum,
  cast({N_HASHES} as bigint) AS n_hashes
FROM minhash_wide"""


SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 16 bits per band; Hamming<=3 -> >=1 band identical


def _simhash_bands_cte(d: str) -> str:
    """CTE chain to per-doc 64-bit SimHash as 4 x 16-bit band values.

    Per-bit majority over the word multiset's 64-bit md5-derived hashes
    (two 32-bit halves). The band decomposition is the scale structure:
    by pigeonhole, any pair with Hamming distance <= SIMHASH_BANDS - 1
    shares at least one identical band, so the pair search is an exact
    equi-join on (band, value) — no quadratic scan, no recall loss."""
    word_gen = ("explode(split(text, ' ')) AS word" if d == SPARK
                else "unnest(string_split(text, ' ')) AS word")
    wh1 = md5_slice_int("word", 1, 8, d)
    wh2 = md5_slice_int("word", 9, 8, d)
    bit_gen = explode_series("0", str(SIMHASH_BITS - 1), "bit", d)
    shift = ("(case when bit < 32 "
             "then cast(floor(wh1 / power(2, bit)) as bigint) % 2 "
             "else cast(floor(wh2 / power(2, bit - 32)) as bigint) % 2 end)")
    return f"""
docs AS ({documents_wide_sql(d, 'documents')}),
words AS (
  SELECT url, {word_gen} FROM docs
),
whash AS (
  SELECT url, {wh1} AS wh1, {wh2} AS wh2 FROM words
),
bits AS (
  SELECT url, wh1, wh2, {bit_gen} FROM whash
),
bitsum AS (
  SELECT url, bit,
    sum(case when {shift} = 1 then 1 else -1 end) AS s
  FROM bits GROUP BY url, bit
),
sh_bands AS (
  SELECT url, {idiv('bit', '16', d)} AS band,
    cast(sum(case when s > 0 then power(2, bit % 16) else 0 end) as int)
      AS val
  FROM bitsum GROUP BY url, {idiv('bit', '16', d)}
),
fp AS (
  SELECT url,
    cast(max(case when band = 0 then val end) as int) AS fp0,
    cast(max(case when band = 1 then val end) as int) AS fp1,
    cast(max(case when band = 2 then val end) as int) AS fp2,
    cast(max(case when band = 3 then val end) as int) AS fp3
  FROM sh_bands GROUP BY url
)""".strip()


def q_simhash(d: str) -> str:
    """64-bit SimHash fingerprints, exposed as 4 x 16-bit band values
    (the banded form the pair search joins on)."""
    return f"""
WITH {_simhash_bands_cte(d)}
SELECT url, fp0, fp1, fp2, fp3 FROM fp"""


def q_simhash_pairs(d: str, max_hamming: int = 3) -> str:
    """Near-duplicate pairs with SimHash Hamming distance <= 3.

    Candidates: equi-join on (band, band value) — complete by pigeonhole
    for Hamming <= SIMHASH_BANDS - 1. Verification: exact Hamming via
    XOR + popcount over the four bands. The plan is linear in docs +
    candidates at any scale."""
    from ..dialect import xor_int
    if max_hamming > SIMHASH_BANDS - 1:
        raise ValueError(
            f"pigeonhole candidate generation is complete only for "
            f"max_hamming <= SIMHASH_BANDS - 1 = {SIMHASH_BANDS - 1}; "
            f"got {max_hamming} (raise SIMHASH_BANDS to widen)")
    ham = " + ".join(
        f"bit_count({xor_int(f'a.fp{i}', f'b.fp{i}', d)})" for i in range(4))
    if d == SPARK:
        # Single execution of the word/bit chain: the declarative form
        # (kept for the DuckDB oracle below) references sh_bands twice
        # and fp twice more, and Catalyst inlines each reference — the
        # whole words->bitsum derivation ran 4x. Here the bands are
        # re-derived FROM fp (band k's value IS fpk), buckets are
        # grouped and exploded into ordered pairs carrying both sides'
        # fingerprints inline, so no join back is needed. Pair set and
        # hamming values are identical: sort_array orders the structs
        # by url (first field; urls unique), reproducing a.url < b.url.
        hamp = " + ".join(
            f"bit_count({xor_int(f'_a.fp{i}', f'_b.fp{i}', d)})"
            for i in range(4))
        band_val = ("CASE _band WHEN 0 THEN fp0 WHEN 1 THEN fp1 "
                    "WHEN 2 THEN fp2 ELSE fp3 END")
        return f"""
WITH {_simhash_bands_cte(d)},
fpb AS (
  SELECT url, fp0, fp1, fp2, fp3, _band, {band_val} AS _val
  FROM fp LATERAL VIEW explode(array(0, 1, 2, 3)) t AS _band
),
grp AS (
  SELECT sort_array(collect_list(struct(url, fp0, fp1, fp2, fp3))) AS _us
  FROM fpb GROUP BY _band, _val
  HAVING count(*) > 1
),
cand AS (
  SELECT DISTINCT _a, _b FROM grp
  LATERAL VIEW posexplode(_us) pe AS _i, _a
  LATERAL VIEW explode(slice(_us, _i + 2, size(_us))) ue AS _b
)
SELECT _a.url AS url_a, _b.url AS url_b, cast({hamp} as int) AS hamming
FROM cand
WHERE {hamp} <= {max_hamming}"""
    return f"""
WITH {_simhash_bands_cte(d)},
cand AS (
  SELECT DISTINCT a.url AS url_a, b.url AS url_b
  FROM sh_bands a JOIN sh_bands b
    ON a.band = b.band AND a.val = b.val AND a.url < b.url
)
SELECT c.url_a, c.url_b, cast({ham} as int) AS hamming
FROM cand c
JOIN fp a ON a.url = c.url_a
JOIN fp b ON b.url = c.url_b
WHERE {ham} <= {max_hamming}"""


def q_ngram_jaccard_pairs(d: str, threshold: float = 0.6,
                          exact: bool = False) -> str:
    """n-gram Jaccard pairs: by default over MinHash-LSH candidates —
    the standard candidate-generation + verification pipeline — or, with
    ``exact=True``, over ALL pairs sharing at least one shingle (the
    exhaustive form; oracle/test scale only).

    The approximate-recall contract is explicit: default recall is the
    LSH band recall (1 for exact dups, whose signatures are identical in
    every band); precision is exact (verified Jaccard). ``exact=True``
    restores the exhaustive pair set at the cost of the shingle
    self-join (a shingle shared by k docs produces k^2 rows — hot
    5-grams make that quadratic, unusable at web scale).

    Scale plan (default): NO shingle self-join. Candidates come from the
    banded minhash equi-join (linear in docs + candidates); the exact
    intersection is then computed per candidate pair only, by joining
    each side's shingle set through the candidate list."""
    if not exact and d == SPARK:
        # Single-derivation Spark rendering (r6): the declarative form
        # below references `shingles` four times (minhash chain, sizes,
        # both sides of the intersection join) and the shingle subtree
        # has no exchange, so Catalyst executes the scan+explode+md5
        # stream once PER REFERENCE. Here everything derives from ONE
        # per-url shingle-set aggregate: the 16 minhashes become
        # integer `aggregate` folds over the set array (min over a set
        # == the original min over rows), candidates come from the
        # bucket-grouped bands, and the Jaccard verification is
        # array_intersect over the two sides' sets — the three
        # remaining `ssets` references are identical exchange subtrees,
        # which the runtime collapses via ReuseExchange. collect_set
        # deduplicates, so the DISTINCT-shingle exchange is dropped
        # too. Values are bit-identical: i == the per-pair matching-row
        # count over distinct sets, n == the distinct count, and the
        # jaccard formula text is unchanged (operand types pinned to
        # bigint to match the count() originals).
        mh_exprs = ",\n    ".join(
            f"aggregate(ss, cast(9223372036854775807 as bigint), "
            f"(acc, x) -> least(acc, ({_A[i]} * x + {_B[i]}) "
            f"% {MERSENNE_P})) AS mh{i}"
            for i in range(N_HASHES))
        band_case = "case band " + " ".join(
            f"when {b} then {_band_hash_expr(b, d)}"
            for b in range(N_BANDS)) + " end"
        pairs = _bucket_pairs_spark(
            "bands", "band, band_hash", "url", "url_a", "url_b")
        return f"""
WITH {_shingles_cte(d, distinct=False)},
ssets AS (
  SELECT url, collect_set(sh) AS ss FROM shingles GROUP BY url
),
minhash_wide AS (
  SELECT url,
    {mh_exprs}
  FROM ssets
),
bands AS (
  SELECT url, band, {band_case} AS band_hash
  FROM (
    SELECT *, {explode_series('0', str(N_BANDS - 1), 'band', d)}
    FROM minhash_wide
  )
),
cand_pairs AS (
{pairs}
),
j AS (
  SELECT cp.url_a, cp.url_b,
    cast(size(array_intersect(a.ss, b.ss)) as bigint) AS i,
    cast(size(a.ss) as bigint) AS na,
    cast(size(b.ss) as bigint) AS nb
  FROM cand_pairs cp
  JOIN ssets a ON a.url = cp.url_a
  JOIN ssets b ON b.url = cp.url_b
)
SELECT url_a, url_b,
  cast(round(1000.0 * i / (na + nb - i)) as int) AS jaccard_milli
FROM j
WHERE cast(i as double) / (na + nb - i) >= {threshold}"""
    ctes = _minhash_cte(d)
    if exact:
        cand = """
cand_pairs AS (
  SELECT DISTINCT a.url AS url_a, b.url AS url_b
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.url < b.url
)""".strip()
    else:
        cand = """
cand_pairs AS (
  SELECT DISTINCT a.url AS url_a, b.url AS url_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.url < b.url
)""".strip()
    return f"""
WITH {ctes},
{cand},
sizes AS (
  SELECT url, count(*) AS n FROM shingles GROUP BY url
),
inter AS (
  SELECT cp.url_a, cp.url_b, count(*) AS i
  FROM cand_pairs cp
  JOIN shingles a ON a.url = cp.url_a
  JOIN shingles b ON b.url = cp.url_b AND b.sh = a.sh
  GROUP BY cp.url_a, cp.url_b
)
SELECT i.url_a, i.url_b,
  cast(round(1000.0 * i / (sa.n + sb.n - i)) as int) AS jaccard_milli
FROM inter i
JOIN sizes sa ON sa.url = i.url_a
JOIN sizes sb ON sb.url = i.url_b
WHERE cast(i as double) / (sa.n + sb.n - i) >= {threshold}"""


def q_url_canonical(d: str) -> str:
    """URL canonicalization + host-level duplicate accounting — the
    standard first stage of a Common-Crawl-style dedup pipeline (crawls
    re-fetch the same page under fragment/`www.`/default-port/trailing-
    slash variants; canonicalizing before content dedup collapses them
    for free).

    Normalization (deterministic, pure string ops — identical SQL in
    both dialects): drop the #fragment, lowercase scheme and host,
    strip a leading ``www.``, strip the scheme's default port
    (:443/:80), strip one trailing slash from the path. Output: the
    per-url canonical form, the host partition key, and the host's
    document count (the Zipf-skew signal).

    Scale: canonicalization is whole-stage-codegen column work; the
    only exchange is the host window (hash partition by host, so a
    mega-host lands in one task).
    """
    return f"""
WITH docs AS ({documents_wide_sql(d)}),
u0 AS (
  SELECT url, split_part(url, '#', 1) AS nofrag FROM docs
),
u1 AS (
  SELECT url,
    lower(split_part(nofrag, '://', 1)) AS scheme,
    lower(split_part(split_part(nofrag, '://', 2), '/', 1)) AS hostport,
    substr(split_part(nofrag, '://', 2),
           length(split_part(split_part(nofrag, '://', 2), '/', 1)) + 1)
      AS pathq
  FROM u0
),
u2 AS (
  SELECT url, scheme,
    (case when hostport LIKE 'www.%' then substr(hostport, 5)
          else hostport end) AS h1, pathq
  FROM u1
),
u3 AS (
  SELECT url, scheme,
    (case when scheme = 'https' AND h1 LIKE '%:443'
            then substr(h1, 1, length(h1) - 4)
          when scheme = 'http' AND h1 LIKE '%:80'
            then substr(h1, 1, length(h1) - 3)
          else h1 end) AS host,
    (case when pathq LIKE '%/' AND length(pathq) > 1
            then substr(pathq, 1, length(pathq) - 1)
          when pathq = '/' then ''
          else pathq end) AS path
  FROM u2
)
SELECT url,
  scheme || '://' || host || path AS canon_url,
  host,
  cast(count(*) OVER (PARTITION BY host) as bigint) AS host_docs
FROM u3""".strip()


def q_bloom_prefilter(d: str, m: int = 65536, k: int = 3) -> str:
    """Bloom-filter membership prefilter — the cheap first pass of
    incremental dedup at crawl scale: build a bit set from a REFERENCE
    corpus (here the deterministic md5-parity half of the table, a
    stand-in for "previous crawls"), then test each new document's k
    hash bits against it. A document with all k bits present MAY be a
    duplicate (routed to exact verification); any absent bit proves it
    new. Output carries the exact-match ground truth so the false-
    positive behavior is visible in-query.

    The k bits come from disjoint slices of ONE md5(text) (engines CSE
    the shared digest; k independent md5s cost real time at scale).
    Scale shape: the bit set is <= {m} rows regardless of corpus size —
    the canonical BROADCAST side — and the probe is a broadcast left
    join, never a shuffle of the corpus; the exact-verify tail is a
    semi join only over the may-contain subset."""
    bit = {i: md5_slice_int("text", 1 + 4 * i, 4, d) + f" % {m}"
           for i in range(k)}
    if d == SPARK:
        # one scan: the k bit positions explode from an inline array
        # instead of a k-branch UNION ALL that re-executes the base
        # subtree per branch (r6; row set identical, order irrelevant)
        arr = ", ".join(f"({e})" for e in bit.values())
        bits_union = (f"  SELECT url, grp, bit FROM base\n"
                      f"  LATERAL VIEW explode(array({arr})) t AS bit")
    else:
        bits_union = "\n  UNION ALL\n".join(
            f"  SELECT url, grp, ({e}) AS bit FROM base"
            for e in bit.values())
    return f"""
WITH docs AS ({documents_wide_sql(d)}),
base AS (
  SELECT url, text, ({md5_slice_int("url", 1, 4, d)} % 2) AS grp
  FROM docs
),
doc_bits AS (
{bits_union}
),
bloom AS (
  SELECT DISTINCT bit FROM doc_bits WHERE grp = 0
),
probe AS (
  SELECT b.url, count(*) AS k_bits,
    cast(sum(case when f.bit IS NOT NULL then 1 else 0 end) as bigint)
      AS k_hits
  FROM doc_bits b LEFT JOIN bloom f ON f.bit = b.bit
  WHERE b.grp = 1 GROUP BY b.url
),
ref_digests AS (
  SELECT DISTINCT md5(text) AS dg FROM base WHERE grp = 0
)
SELECT p.url,
  cast(case when p.k_hits = p.k_bits then 1 else 0 end as int)
    AS may_contain,
  cast(case when r.dg IS NOT NULL then 1 else 0 end as int) AS is_dup
FROM probe p
JOIN base c ON c.url = p.url
LEFT JOIN ref_digests r ON r.dg = md5(c.text)""".strip()


PARA_WORDS = 8  # words per paragraph segment


def q_paragraph_dedup(d: str) -> str:
    """Paragraph-grain deduplication — the CCNet / RefinedWeb stage that
    removes boilerplate SHARED ACROSS documents (nav bars, footers,
    license blurbs) which document-level dedup cannot see. The corpus
    text is newline-free, so "paragraph" = consecutive {PARA_WORDS}-word
    segment (deterministic segmentation; a production corpus would split
    on blank lines first and fall back to this for wall-of-text pages).

    Per paragraph hash, the keeper is the lexicographically-min url
    (the same canonical-choice rule as q_exact_dedup); every other
    occurrence is dropped. Output per document: paragraph counts,
    kept ratio in basis points, and the md5 of the ORDER-PRESERVING
    reassembly of its surviving paragraphs — proving the operator
    really reconstructs deduped text, not just counts.

    Scale shape (the pipeline stage this models runs on ~10^12 docs):
      * segmentation is pure whole-stage-codegen string work
        (split_part/concat_ws; no UDF, no array materialization of the
        full document);
      * one explode to paragraph rows (~n_words/{PARA_WORDS} rows/doc);
      * keeper election is a map-side-combinable min() GROUP BY
        paragraph hash — heavy boilerplate paragraphs (the Zipf head)
        collapse to one row per partition before the exchange, so the
        skewed key never concentrates rows;
      * the mark join is an equi-join back on the hash (AQE skew-join
        splits the boilerplate buckets if needed);
      * reassembly groups by url — the second and last exchange.
    """
    w = PARA_WORDS
    terms = ", ".join(
        f"nullif(split_part(text, ' ', cast((p - 1) * {w} + {k} as int)), '')"
        for k in range(1, w + 1))
    n_words = "(length(text) - length(replace(text, ' ', '')) + 1)"
    # Order-preserving reassembly of the SURVIVING paragraphs only.
    # collect_list / string_agg both skip NULLs, so the case-guard keeps
    # dropped paragraphs out; the outer zero-kept guard is needed because
    # Spark's empty concat_ws gives '' where DuckDB's string_agg gives
    # NULL — both dialects must emit NULL for a fully-deduped document.
    if d == SPARK:
        reasm = ("md5(concat_ws(' ', transform(array_sort(collect_list("
                 "case when kept = 1 then struct(para_idx, para) end)), "
                 "s -> s.para)))")
    else:
        reasm = ("md5(string_agg(case when kept = 1 then para end, "
                 "' ' ORDER BY para_idx))")
    reasm = f"case when sum(kept) = 0 then NULL else {reasm} end"
    return f"""
WITH docs AS ({documents_wide_sql(d)}),
paras AS (
  SELECT url, p AS para_idx, concat_ws(' ', {terms}) AS para
  FROM (
    SELECT url, text,
      {explode_series('1', f'cast(ceil({n_words} / {w}.0) as int)', 'p', d)}
    FROM docs
  )
),
keyed AS (
  SELECT url, para_idx, para, md5(para) AS ph FROM paras
),
keepers AS (
  SELECT ph, min(url) AS keeper_url FROM keyed GROUP BY ph
),
marked AS (
  SELECT k.url, k.para_idx, k.para,
    cast(case when k.url = f.keeper_url then 1 else 0 end as int) AS kept
  FROM keyed k JOIN keepers f ON f.ph = k.ph
)
SELECT url,
  cast(count(*) as bigint) AS n_paras,
  cast(sum(kept) as bigint) AS n_kept,
  cast(floor(sum(kept) * 10000.0 / count(*)) as bigint) AS kept_bp,
  {reasm} AS dedup_md5
FROM marked
GROUP BY url""".strip()


# ---------------------------------------------------------------------------
# near-duplicate CLUSTERS: connected components over the LSH pair graph
# ---------------------------------------------------------------------------

CLUSTER_MAX_ITERS = 20  # >= max component diameter; LSH near-dup
#                         clusters are near-cliques (diameter 2-3)


def minhash_clusters(spark):
    """Near-duplicate cluster assignment: connected components over the
    banded-LSH candidate-pair graph, with one canonical document per
    cluster (earliest ``warc_ts``, then min url — the keep-the-first
    crawl rule) and the cluster size. This is the stage a training-data
    pipeline runs AFTER pair generation: pairs alone over-count (A~B
    and B~C must collapse to ONE keeper, not two independent drops).

    Implementation is iterative min-label propagation on DataFrames:
    every vertex starts labelled with its own url; each round takes the
    min label over its neighbours; fixpoint = component-min label.
    Each round is ONE shuffle (edges equi-join labels on dst + a
    map-side-combinable min GROUP BY src), lineage is truncated per
    round with localCheckpoint, and the round count is bounded by the
    component diameter — for LSH near-dup graphs the clusters are
    near-cliques (diameter 2-3), so this converges in a handful of
    rounds even at 10^12 docs. (For general graphs with long paths the
    published alternating large-star/small-star rewrite [Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14]
    converges in O(log^2 n) rounds; the dup-graph shape does not need
    it.) The DuckDB oracle computes the same components by recursive
    transitive closure — a third, independent semantics check lives in
    tests (plain Python union-find over the pair list).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # checkpoint the pair plan BEFORE the two-branch union: unionAll of
    # an unmaterialized plan executes the whole minhash derivation once
    # per branch (r6: one shingle-scan job instead of two)
    pairs = spark.sql(q_minhash_pairs(SPARK)).localCheckpoint()
    docs = spark.sql(
        f"WITH docs AS ({documents_wide_sql(SPARK, 'documents')}) "
        "SELECT url, warc_ts FROM docs").localCheckpoint()
    edges = (pairs.selectExpr("url_a AS src", "url_b AS dst")
             .unionAll(pairs.selectExpr("url_b AS src", "url_a AS dst"))
             .localCheckpoint())
    labels = docs.selectExpr("url", "url AS lbl").localCheckpoint()
    for _ in range(CLUSTER_MAX_ITERS):
        neigh = (edges.join(labels, edges["dst"] == labels["url"])
                 .groupBy("src").agg(F.min("lbl").alias("nlbl")))
        # carry (old, new) through ONE checkpointed frame: convergence
        # detection is then a scan of the materialized rows instead of
        # the former per-round join of `new` back against `labels`
        # (one exchange + one job fewer per round; VERDICT r5 "What's
        # wrong" #2)
        step = (labels.join(neigh, labels["url"] == neigh["src"], "left")
                .select(labels["url"], labels["lbl"].alias("old_lbl"),
                        F.least(F.col("lbl"),
                                F.coalesce(F.col("nlbl"), F.col("lbl")))
                        .alias("lbl"))
                .localCheckpoint())
        changed = step.where("old_lbl <> lbl").limit(1).count()
        labels = step.select("url", "lbl")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"label propagation did not converge in {CLUSTER_MAX_ITERS} "
            "rounds (component diameter exceeds the bound)")
    sized = labels.groupBy("lbl").agg(F.count("*").alias("cluster_size"))
    w = Window.partitionBy("lbl").orderBy("warc_ts", "url")
    canon = (labels.join(docs, "url")
             .withColumn("rn", F.row_number().over(w))
             .where("rn = 1").selectExpr("lbl", "url AS canonical_url"))
    return (labels.join(sized, "lbl").join(canon, "lbl")
            .selectExpr(
                "url", "lbl AS cluster_id", "canonical_url",
                "cast(cluster_size as bigint) AS cluster_size",
                "cast(case when url = canonical_url then 0 else 1 end"
                " as int) AS is_dup"))


def clusters_cte_chain_duckdb() -> str:
    """DuckDB-only CTE chain computing the same clusters by recursive
    transitive closure (DuckDB's UNION-dedup recursion terminates on
    cyclic graphs; Spark SQL has no equivalent, hence the DataFrame
    loop above). Assumes the minhash CTEs (``docs`` .. ``bands``) are
    already in scope; exposes ``clu_final(url, cluster_id,
    canonical_url, cluster_size, is_dup)``. The caller must open the
    statement with WITH RECURSIVE."""
    return f"""cand AS (
  SELECT DISTINCT a.url AS url_a, b.url AS url_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.url < b.url
),
cedges AS (
  SELECT url_a AS src, url_b AS dst FROM cand
  UNION ALL SELECT url_b, url_a FROM cand
),
reach(url, r) AS (
  SELECT url, url FROM docs
  UNION
  SELECT e.src, reach.r FROM cedges e JOIN reach ON reach.url = e.dst
),
clusters AS (SELECT url, min(r) AS cluster_id FROM reach GROUP BY url),
csized AS (
  SELECT cluster_id, count(*) AS cluster_size FROM clusters
  GROUP BY cluster_id
),
cranked AS (
  SELECT c.cluster_id, c.url,
    row_number() OVER (PARTITION BY c.cluster_id
                       ORDER BY d.warc_ts, c.url) AS rn
  FROM clusters c JOIN docs d ON d.url = c.url
),
ccanon AS (SELECT cluster_id, url AS canonical_url FROM cranked
           WHERE rn = 1),
clu_final AS (
  SELECT c.url, c.cluster_id, n.canonical_url,
    cast(s.cluster_size as bigint) AS cluster_size,
    cast(case when c.url = n.canonical_url then 0 else 1 end as int)
      AS is_dup
  FROM clusters c
  JOIN csized s ON s.cluster_id = c.cluster_id
  JOIN ccanon n ON n.cluster_id = c.cluster_id
)""".strip()


def q_dedup_clusters_oracle() -> str:
    """DuckDB oracle for minhash_clusters (see clusters_cte_chain_duckdb)."""
    ctes = _minhash_cte(DUCKDB, distinct_shingles=False)
    return f"""
WITH RECURSIVE {ctes},
{clusters_cte_chain_duckdb()}
SELECT url, cluster_id, canonical_url, cluster_size, is_dup
FROM clu_final""".strip()
