"""Similarity search over the ``embeddings`` table (vec_id, embedding
float[], label).

Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
variant is the scale path (random-hyperplane signs -> bucket equi-join ->
exact re-rank inside buckets only).

Determinism across engines: float arrays are quantized to integer
micro-units first, so dot products are exact integer arithmetic; the
final cosine is derived from those ints by IEEE-deterministic ops
(sqrt/div/round), identical in Spark and DuckDB.

Scale notes (10^9+ vectors): brute force is a broadcast of the (small)
query set against a scan of the corpus — no shuffle until the per-query
top-k (window over query_id). The LSH path buckets the corpus once
(linear), joins queries to matching buckets only, and re-ranks
candidates — the cross product never materializes.
"""

from __future__ import annotations

from ..dialect import SPARK, explode_series, idiv, md5_slice_int

N_QUERIES = 20
TOP_K = 5
N_PLANES = 8


def _intvec_cte(d: str) -> str:
    """Quantized int vectors: one row per (vec_id, dim, int value).

    posexplode / zipped-unnest of the array itself — no self-join of the
    embeddings table to recover positions. cast float32 -> double BEFORE
    scaling: Spark would otherwise multiply in float32 while DuckDB
    promotes to double, making the quantized ints differ by +-1."""
    if d == SPARK:
        return """
iv AS (
  SELECT vec_id, label, pos AS i,
    cast(round(cast(col as double) * 1000000) as bigint) AS v
  FROM (SELECT vec_id, label, posexplode(embedding) FROM embeddings)
)""".strip()
    return """
iv AS (
  SELECT vec_id, label, idx - 1 AS i,
    cast(round(cast(fv as double) * 1000000) as bigint) AS v
  FROM (SELECT vec_id, label, unnest(embedding) AS fv,
               unnest(generate_series(1, len(embedding))) AS idx
        FROM embeddings)
)""".strip()


def _intvec_wide_cte(d: str) -> str:
    """Spark-only: quantized int vectors kept as ARRAYS (one row per
    vector) with the squared norm inline — no posexplode, no per-dim
    join, no GROUP BY to reassemble. The element values are identical
    to ``iv``'s (same cast-to-double-then-round expression applied
    per element), and the integer aggregate sums are order-fixed by the
    array, so dot products / norms match the exploded form exactly."""
    assert d == SPARK
    return """
vx AS (
  SELECT vec_id, label, iv,
    aggregate(iv, cast(0 as bigint), (acc, x) -> acc + x * x) AS nrm
  FROM (
    SELECT vec_id, label,
      transform(embedding,
                x -> cast(round(cast(x as double) * 1000000) as bigint))
        AS iv
    FROM embeddings
    WHERE embedding IS NOT NULL AND size(embedding) > 0
  )
)""".strip()


_DOT = "aggregate(zip_with(q.iv, c.iv, (a, b) -> a * b), cast(0 as bigint), (acc, x) -> acc + x)"


def q_ann_bruteforce(d: str) -> str:
    """Exact cosine top-k for the first N_QUERIES vectors (brute force).

    Spark rendering: array-native — ONE pass over the corpus with the
    (tiny, filter-pushed) query side broadcast; dot product and norms
    are integer ``aggregate``/``zip_with`` over the quantized array, so
    no posexplode, no join on the 64-value dimension index, and no
    (query, cand) reassembly GROUP BY. The before-plan
    (plans/r06/q6_ann_bruteforce_before.txt) paid 4 parquet scans and
    3 shuffles for the same arithmetic. Values are bit-identical: the
    per-element quantization expression is unchanged and integer sums
    are order-independent. The DuckDB oracle keeps the exploded form."""
    if d == SPARK:
        return f"""
WITH {_intvec_wide_cte(d)},
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
    {_DOT} AS dot,
    q.nrm AS qnrm, c.nrm AS cnrm
  FROM vx q JOIN vx c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT query_id, cand_id,
    cast(round(1000000.0 * dot / (sqrt(qnrm) * sqrt(cnrm))) as bigint)
      AS cosine_micro,
    row_number() OVER (
      PARTITION BY query_id
      ORDER BY cast(dot as double) / (sqrt(qnrm) * sqrt(cnrm)) DESC,
               cand_id) AS rank
  FROM dots
)
SELECT query_id, cand_id, rank, cosine_micro
FROM ranked WHERE rank <= {TOP_K}"""
    return f"""
WITH {_intvec_cte(d)},
norms AS (
  SELECT vec_id, sum(v * v) AS nrm FROM iv GROUP BY vec_id
),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
    sum(q.v * c.v) AS dot
  FROM iv q JOIN iv c ON q.i = c.i AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
  GROUP BY q.vec_id, c.vec_id
),
ranked AS (
  SELECT d.query_id, d.cand_id,
    cast(round(1000000.0 * d.dot / (sqrt(nq.nrm) * sqrt(nc.nrm))) as bigint)
      AS cosine_micro,
    row_number() OVER (
      PARTITION BY d.query_id
      ORDER BY cast(d.dot as double) / (sqrt(nq.nrm) * sqrt(nc.nrm)) DESC,
               d.cand_id) AS rank
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.cand_id
)
SELECT query_id, cand_id, rank, cosine_micro
FROM ranked WHERE rank <= {TOP_K}"""


NEARDUP_BANDS = 4  # 2 planes per band (N_PLANES / NEARDUP_BANDS)

# ann_lsh band structure: more bands -> higher recall, more candidates.
# See q_ann_lsh for the measured tradeoff on this fixture.
ANN_PLANES = 16
ANN_BANDS = 8


def _bands_cte(d: str, n_planes: int = N_PLANES,
               n_bands: int = NEARDUP_BANDS) -> str:
    """Banded random-hyperplane LSH: per-vector (band, sign-bits) rows.
    Banding beats a single monolithic bucket on recall: a pair collides
    if ANY band's sign bits agree."""
    pgen = explode_series("0", f"{n_planes - 1}", "p", d)
    planes_per_band = n_planes // n_bands
    return f"""
planes AS (
  SELECT i_all.i, {pgen}
  FROM (SELECT DISTINCT i FROM iv) i_all
),
signs AS (
  SELECT p, i, {_plane_sign(d)} AS s FROM planes
),
proj AS (
  SELECT iv.vec_id, s.p, sum(iv.v * s.s) AS dp
  FROM iv JOIN signs s ON s.i = iv.i
  GROUP BY iv.vec_id, s.p
),
vbands AS (
  SELECT vec_id, {idiv('p', str(planes_per_band), d)} AS band,
    cast(sum(case when dp > 0 then power(2, p % {planes_per_band})
             else 0 end) as int) AS bval
  FROM proj GROUP BY vec_id, {idiv('p', str(planes_per_band), d)}
)""".strip()


def _bands_wide_cte(d: str, n_planes: int = N_PLANES,
                    n_bands: int = NEARDUP_BANDS) -> str:
    """Spark-only: vbands from the array-kept vectors (``vx``) — the
    hyperplane sign array is built once per plane and the projections
    are integer ``aggregate``/``zip_with`` dot products, replacing the
    (vector-row x sign-row) dimension-index equi-join + GROUP BY of the
    exploded form. Sign values, projections and band values are
    bit-identical (same md5-derived sign expression per (p, i), integer
    sums order-independent, same power-of-two band packing)."""
    assert d == SPARK
    planes_per_band = n_planes // n_bands
    # lambda var i shadows nothing; matches the exploded form's i values
    sgn = _plane_sign(d)
    return f"""
nd AS (SELECT max(size(iv)) AS n FROM vx),
planes AS (
  SELECT p, transform(sequence(0, n - 1), i -> {sgn}) AS sv
  FROM nd LATERAL VIEW explode(sequence(0, {n_planes - 1})) t AS p
),
dps AS (
  SELECT v.vec_id, pl.p,
    aggregate(zip_with(v.iv, slice(pl.sv, 1, size(v.iv)),
                       (a, b) -> a * b),
              cast(0 as bigint), (acc, x) -> acc + x) AS dp
  FROM vx v CROSS JOIN planes pl
),
vbands AS (
  SELECT vec_id, {idiv('p', str(planes_per_band), d)} AS band,
    cast(sum(case when dp > 0 then power(2, p % {planes_per_band})
             else 0 end) as int) AS bval
  FROM dps GROUP BY vec_id, {idiv('p', str(planes_per_band), d)}
)""".strip()


def q_embedding_near_dup(d: str, threshold: float = 0.45,
                         exact: bool = False) -> str:
    """Embedding-cosine near-duplicate pairs via banded LSH candidates +
    exact re-rank — the candidate-generation + verification pipeline.
    ``exact=True`` restores the exhaustive all-pairs candidate set
    (oracle/test scale only; quadratic in vectors).

    The approximate-recall contract is explicit: precision is exact;
    default recall is the banded-LSH collision probability (for
    cos >= 0.45, ~0.9 with 4 bands x 2 planes; raise NEARDUP_BANDS for
    more).

    Scale plan (default): NO all-pairs dot-product join. Candidates come
    from the banded hyperplane-sign equi-join on (band, band value) —
    linear in vectors + candidates; the exact integer dot product and
    cosine threshold then run per candidate pair only."""
    if not exact and d == SPARK:
        # Array-native single-pass form (see _bands_wide_cte /
        # q_ann_bruteforce): no posexplode, no dim-index joins, bucket-
        # grouped pair generation instead of the vbands self-join, both
        # sides' norms carried inline. Pair set / cosine values are
        # bit-identical to the exploded rendering the oracle runs.
        from .dedup import _bucket_pairs_spark
        pairs = _bucket_pairs_spark("vbands", "band, bval", "vec_id",
                                    "id_a", "id_b")
        return f"""
WITH {_intvec_wide_cte(d)},
{_bands_wide_cte(d)},
cand AS (
{pairs}
),
dots AS (
  SELECT c.id_a, c.id_b,
    aggregate(zip_with(q.iv, b.iv, (x, y) -> x * y),
              cast(0 as bigint), (acc, x) -> acc + x) AS dot,
    q.nrm AS na, b.nrm AS nb
  FROM cand c
  JOIN vx q ON q.vec_id = c.id_a
  JOIN vx b ON b.vec_id = c.id_b
)
SELECT id_a, id_b,
  cast(round(1000000.0 * dot / (sqrt(na) * sqrt(nb))) as bigint)
    AS cosine_micro
FROM dots
WHERE cast(dot as double) / (sqrt(na) * sqrt(nb)) >= {threshold}"""
    if exact:
        bands = ""
        cand = """
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM (SELECT DISTINCT vec_id FROM iv) a
  JOIN (SELECT DISTINCT vec_id FROM iv) b ON a.vec_id < b.vec_id
),""".strip()
    else:
        bands = f"{_bands_cte(d)},"
        cand = """
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM vbands a JOIN vbands b
    ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id
),""".strip()
    return f"""
WITH {_intvec_cte(d)},
{bands}
{cand}
norms AS (
  SELECT vec_id, sum(v * v) AS nrm FROM iv GROUP BY vec_id
),
dots AS (
  SELECT c.id_a, c.id_b, sum(a.v * b.v) AS dot
  FROM cand c
  JOIN iv a ON a.vec_id = c.id_a
  JOIN iv b ON b.vec_id = c.id_b AND b.i = a.i
  GROUP BY c.id_a, c.id_b
)
SELECT d.id_a, d.id_b,
  cast(round(1000000.0 * d.dot / (sqrt(na.nrm) * sqrt(nb.nrm))) as bigint)
    AS cosine_micro
FROM dots d
JOIN norms na ON na.vec_id = d.id_a
JOIN norms nb ON nb.vec_id = d.id_b
WHERE cast(d.dot as double) / (sqrt(na.nrm) * sqrt(nb.nrm)) >= {threshold}"""


def _rerank_tail_wide(vx_table: str = "vx") -> str:
    """Spark-only: the exact-cosine re-rank over a
    ``cands(query_id, cand_id)`` CTE with ARRAY-kept vectors in
    ``vx_table`` — one definition so the lsh/ivf/frame renderings
    cannot drift apart (tie-breaks and rounding must stay in lockstep
    with the DuckDB oracle)."""
    return f"""ranked AS (
  SELECT d.query_id, d.cand_id,
    cast(round(1000000.0 * d.dot / (sqrt(d.qnrm) * sqrt(d.cnrm)))
      as bigint) AS cosine_micro,
    row_number() OVER (
      PARTITION BY d.query_id
      ORDER BY cast(d.dot as double) / (sqrt(d.qnrm) * sqrt(d.cnrm)) DESC,
               d.cand_id) AS rank
  FROM (
    SELECT ca.query_id, ca.cand_id,
      aggregate(zip_with(q.iv, c.iv, (x, y) -> x * y),
                cast(0 as bigint), (acc, x) -> acc + x) AS dot,
      q.nrm AS qnrm, c.nrm AS cnrm
    FROM cands ca
    JOIN {vx_table} q ON q.vec_id = ca.query_id
    JOIN {vx_table} c ON c.vec_id = ca.cand_id
  ) d
)
SELECT query_id, cand_id, rank, cosine_micro
FROM ranked WHERE rank <= {TOP_K}""".strip()


def _rerank_tail(d: str) -> str:
    """Shared exact-cosine re-rank over a ``cands(query_id, cand_id)``
    CTE: integer dot products, deterministic rounding, top-k window."""
    return f"""
norms AS (
  SELECT vec_id, sum(v * v) AS nrm FROM iv GROUP BY vec_id
),
dots AS (
  SELECT ca.query_id, ca.cand_id, sum(q.v * c.v) AS dot
  FROM cands ca
  JOIN iv q ON q.vec_id = ca.query_id
  JOIN iv c ON c.vec_id = ca.cand_id AND c.i = q.i
  GROUP BY ca.query_id, ca.cand_id
),
ranked AS (
  SELECT d.query_id, d.cand_id,
    cast(round(1000000.0 * d.dot / (sqrt(nq.nrm) * sqrt(nc.nrm))) as bigint)
      AS cosine_micro,
    row_number() OVER (
      PARTITION BY d.query_id
      ORDER BY cast(d.dot as double) / (sqrt(nq.nrm) * sqrt(nc.nrm)) DESC,
               d.cand_id) AS rank
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.cand_id
)
SELECT query_id, cand_id, rank, cosine_micro
FROM ranked WHERE rank <= {TOP_K}""".strip()


IVF_CENTROID_MOD = 32   # ~n/32 coarse centroids (sampled corpus vectors)
IVF_NPROBE = 8          # centroids probed per query
IVF_ASSIGN_REPL = 2     # inverted-list multi-assignment (top-R centroids)


def q_ann_ivf(d: str) -> str:
    """IVF (inverted-file) ANN — the coarse-quantizer scale path next to
    the LSH variant: a deterministic md5-sample of corpus vectors seeds
    the centroids, ONE Lloyd iteration refines them (group-mean of each
    cluster, quantized back to integers so the dot products stay
    exact), every vector is assigned to its nearest refined centroid
    (argmax integer dot product), and each query probes its
    {IVF_NPROBE} nearest centroids' inverted lists before the exact
    re-rank.

    Scale plan: assignment and the Lloyd mean are both the standard IVF
    n x K dot-product / group-mean passes (equi-joins on dimension
    index, map-side combinable aggregates); the inverted lists are an
    equi-join on centroid id (no cross product). Each vector is indexed
    under its top-{IVF_ASSIGN_REPL} centroids (multi-assignment /
    "spilled" inverted lists, the SPANN-style boundary-vector fix): a
    vector near a Voronoi boundary is reachable from both sides, which
    is where single-assignment IVF loses most of its recall. Lists are
    R x larger, candidates/query ~= R * nprobe/K of the corpus — the
    standard index-size-for-recall trade, bounded and tunable.
    Measured on the sf0.01 embeddings fixture vs q_ann_bruteforce
    (top-{TOP_K}), ~16 centroids, R={IVF_ASSIGN_REPL}:

        nprobe   recall   candidate fraction
           4      0.67         0.29
           6      0.83         0.42
           8      0.90         0.53    <- default
          10      0.95         0.64
        (single-assignment R=1 at nprobe=8: 0.71 / 0.32;
         pre-Lloyd R=1: 0.60; a 2nd Lloyd iteration adds only +0.01
         — boundary loss, not centroid placement, was the binding
         constraint on this near-uniform fixture)

    On near-uniform vectors (top-5 cosine ~0.32) a coarse quantizer
    necessarily trades recall for the candidate cut; nprobe and R are
    the knobs, and both fractions drop sharply on clustered (true
    near-dup) data where neighbors share a centroid. The banded-LSH
    variant (q_ann_lsh) remains the recall-oriented configuration on
    this fixture."""
    cast_var = "string" if d == SPARK else "varchar"
    ch = md5_slice_int(f"concat('ivf_', cast(vec_id as {cast_var}))",
                       1, 4, d)
    if d == SPARK:
        # Array-native rendering (r6): centroid seeding/assignment dots
        # are aggregate/zip_with over the array-kept vectors (no
        # dim-index equi-joins, no reassembly GROUP BYs); the Lloyd
        # group-mean keeps the original per-(cid, i) aggregate (the one
        # genuinely row-grained step) and packs the refined centroid
        # back into an array via array_sort(collect_list(struct(i, v)));
        # probe/assign lists come from ONE pass over the ranked
        # assignment (the declarative form referenced aranked twice,
        # executing the whole n x K chain per reference); candidates
        # explode per-centroid member lists. Values are bit-identical:
        # same sample predicate, same integer dots, same
        # floor(avg + 0.5) quantization, same tie-breaks.
        return f"""
WITH {_intvec_wide_cte(d)},
cvx AS (
  SELECT vec_id AS cid, iv FROM vx WHERE ({ch}) % {IVF_CENTROID_MOD} = 0
),
adots0 AS (
  SELECT v.vec_id, c.cid,
    aggregate(zip_with(v.iv, c.iv, (x, y) -> x * y),
              cast(0 as bigint), (acc, x) -> acc + x) AS dp
  FROM vx v CROSS JOIN cvx c
),
assign0 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cid) AS rn
    FROM adots0) t WHERE rn = 1
),
lloyd AS (
  SELECT a.cid, pe.i,
    cast(floor(avg(cast(pe.v as double)) + 0.5) as bigint) AS v
  FROM assign0 a
  JOIN vx ON vx.vec_id = a.vec_id
  LATERAL VIEW posexplode(vx.iv) pe AS i, v
  GROUP BY a.cid, pe.i
),
lloyd_wide AS (
  SELECT cid,
    transform(array_sort(collect_list(struct(i, v))), s -> s.v) AS civ
  FROM lloyd GROUP BY cid
),
aranked AS (
  SELECT v.vec_id, l.cid,
    row_number() OVER (
      PARTITION BY v.vec_id
      ORDER BY aggregate(zip_with(v.iv, l.civ, (x, y) -> x * y),
                         cast(0 as bigint), (acc, x) -> acc + x) DESC,
               l.cid) AS rn
  FROM vx v CROSS JOIN lloyd_wide l
),
clists AS (
  SELECT cid,
    collect_list(case when rn <= {IVF_ASSIGN_REPL} then vec_id end)
      AS amem,
    collect_list(case when rn <= {IVF_NPROBE} AND vec_id < {N_QUERIES}
                 then vec_id end) AS pmem
  FROM aranked
  WHERE rn <= {max(IVF_NPROBE, IVF_ASSIGN_REPL)}
  GROUP BY cid
),
cands AS (
  SELECT DISTINCT query_id, cand_id FROM clists
  LATERAL VIEW explode(pmem) qe AS query_id
  LATERAL VIEW explode(amem) ce AS cand_id
  WHERE query_id <> cand_id
),
{_rerank_tail_wide()}"""
    return f"""
WITH {_intvec_cte(d)},
cdim AS (
  SELECT DISTINCT vec_id AS cid FROM iv WHERE ({ch}) % {IVF_CENTROID_MOD} = 0
),
civ AS (
  SELECT c.cid, iv.i, iv.v FROM iv JOIN cdim c ON iv.vec_id = c.cid
),
adots0 AS (
  SELECT iv.vec_id, civ.cid, sum(iv.v * civ.v) AS dp
  FROM iv JOIN civ ON civ.i = iv.i
  GROUP BY iv.vec_id, civ.cid
),
assign0 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cid) AS rn
    FROM adots0) t WHERE rn = 1
),
lloyd AS (
  -- one Lloyd iteration: group-mean of each cluster's member vectors,
  -- quantized back to bigint with floor(avg + 0.5) so the refined
  -- centroids stay INTEGER and every downstream dot product remains
  -- exact (order-independent across engines). avg(int) is one IEEE
  -- double division of exact integer sum/count in both dialects, so
  -- the quantized centroid is deterministic cross-engine. Same n x K
  -- equi-join machinery as the assignment pass; empty clusters drop.
  SELECT a.cid, iv.i,
    cast(floor(avg(cast(iv.v as double)) + 0.5) as bigint) AS v
  FROM assign0 a JOIN iv ON iv.vec_id = a.vec_id
  GROUP BY a.cid, iv.i
),
adots AS (
  SELECT iv.vec_id, l.cid, sum(iv.v * l.v) AS dp
  FROM iv JOIN lloyd l ON l.i = iv.i
  GROUP BY iv.vec_id, l.cid
),
aranked AS (
  SELECT vec_id, cid,
    row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cid) AS rn
  FROM adots
),
-- multi-assignment: every vector lands in its top-R inverted lists
assign AS (SELECT vec_id, cid FROM aranked WHERE rn <= {IVF_ASSIGN_REPL}),
probe AS (
  SELECT vec_id AS query_id, cid FROM aranked
  WHERE rn <= {IVF_NPROBE} AND vec_id < {N_QUERIES}
),
cands AS (
  SELECT DISTINCT p.query_id, a.vec_id AS cand_id
  FROM probe p JOIN assign a
    ON a.cid = p.cid AND a.vec_id <> p.query_id
),
{_rerank_tail(d)}"""


def _plane_sign(d: str) -> str:
    """Pseudo-random +-1 hyperplane component for (plane p, dim i)."""
    h = md5_slice_int("concat('plane_', cast(p as varchar), '_', "
                      "cast(i as varchar))" if d != SPARK else
                      "concat('plane_', cast(p as string), '_', "
                      "cast(i as string))", 1, 4, d)
    return f"(case when ({h}) % 2 = 0 then 1 else -1 end)"


def q_ann_lsh(d: str) -> str:
    """Banded LSH ANN: 4 bands x 2 hyperplane-sign bits -> candidates
    collide on ANY band (OR-amplified equi-join on (band, band value))
    -> exact integer-cosine re-rank -> top-k.

    Round 2 used a single 8-plane bucket (1/256 bucketing): a near
    neighbor differing in any one plane was invisible. The banded form
    reuses _bands_cte (the same machinery as q_embedding_near_dup) with
    {ANN_BANDS} bands x {ANN_PLANES // ANN_BANDS} planes.

    Measured on the sf0.01 embeddings fixture vs q_ann_bruteforce
    (top-{TOP_K}): recall 0.97 at ~89% candidate fraction — this
    fixture's vectors are near-uniform (top-5 cosine median 0.32,
    i.e. ~71 deg), where hyperplane LSH is intrinsically weak, so high
    recall costs a high candidate fraction. The band count is the
    recall/cost knob: 4x2 bands = 0.86 recall @ 68% candidates; truly
    NEAR vectors (cos >= 0.45, the near-dup regime) collide at ~1.0
    recall even at 4 bands. The plan stays linear in corpus +
    candidates regardless (equi-join on (band, bval), no cross
    product), and candidate cost falls as real clusters tighten.

    Spark rendering (r6): array-native — vbands from integer
    aggregate/zip_with projections instead of the exploded dim-index
    joins, candidates by grouping each (band, bval) bucket and crossing
    its sub-{N_QUERIES} members against the bucket, re-rank carrying
    both norms inline. Identical rows; the DuckDB oracle keeps the
    declarative exploded form."""
    if d == SPARK:
        return f"""
WITH {_intvec_wide_cte(d)},
{_bands_wide_cte(d, ANN_PLANES, ANN_BANDS)},
cands AS (
  SELECT DISTINCT query_id, cand_id FROM (
    SELECT collect_list(vec_id) AS _us
    FROM vbands GROUP BY band, bval
  )
  LATERAL VIEW explode(filter(_us, v -> v < {N_QUERIES})) qe AS query_id
  LATERAL VIEW explode(_us) ce AS cand_id
  WHERE query_id <> cand_id
),
{_rerank_tail_wide()}"""
    return f"""
WITH {_intvec_cte(d)},
{_bands_cte(d, ANN_PLANES, ANN_BANDS)},
cands AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
  FROM vbands q JOIN vbands c
    ON q.band = c.band AND q.bval = c.bval AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
norms AS (
  SELECT vec_id, sum(v * v) AS nrm FROM iv GROUP BY vec_id
),
dots AS (
  SELECT ca.query_id, ca.cand_id, sum(q.v * c.v) AS dot
  FROM cands ca
  JOIN iv q ON q.vec_id = ca.query_id
  JOIN iv c ON c.vec_id = ca.cand_id AND c.i = q.i
  GROUP BY ca.query_id, ca.cand_id
),
ranked AS (
  SELECT d.query_id, d.cand_id,
    cast(round(1000000.0 * d.dot / (sqrt(nq.nrm) * sqrt(nc.nrm))) as bigint)
      AS cosine_micro,
    row_number() OVER (
      PARTITION BY d.query_id
      ORDER BY cast(d.dot as double) / (sqrt(nq.nrm) * sqrt(nc.nrm)) DESC,
               d.cand_id) AS rank
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.cand_id
)
SELECT query_id, cand_id, rank, cosine_micro
FROM ranked WHERE rank <= {TOP_K}"""


def ann_ivf_frame(spark):
    """DataFrame rendering of the IVF query (Spark side of the
    ``ann_ivf`` board row; the DuckDB oracle keeps the declarative SQL).

    The two n x K dot-product passes (seed assignment, refined-centroid
    ranking) are the whole cost of IVF, and per-element SQL lambdas
    interpret them row-by-row (measured: 90 s at 20k vectors x 625
    centroids). Here each pass is ONE integer NumPy matmul per Arrow
    batch inside ``mapInPandas`` (guide §4.2: let Spark do distribution,
    hand the batch math to native code): exact int64 arithmetic, so dp
    values are bit-identical, and tie-breaks replicate row_number's
    (dp DESC, cid ASC) via first-max / stable argsort over
    cid-ascending centroid columns. The Lloyd group-mean and the
    probe/rerank tail stay in SQL, textually identical to the SQL
    rendering.

    Scale notes: the centroid matrix is a broadcast dim BY DESIGN in
    IVF (K << n; the fixture's K = n/{IVF_CENTROID_MOD} stays
    driver-small at test scale, and a production K ~ sqrt(n) stays
    broadcastable at any n); the corpus rides mapInPandas once per
    pass with only (vec_id, iv) crossing the Arrow boundary. The
    checkpoint + two broadcasts live until the session drops them —
    one build per invocation, sized vectors x 64 x 8 B; callers that
    loop it at bench scale should reuse the returned frame. Assumes the
    generator's fixed-dimension embedding contract (as does every
    array rendering in this module; the exploded oracle would instead
    sum over common dims for ragged inputs)."""
    import numpy as np
    import pandas as pd

    from ..dialect import md5_slice_int
    from ..session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    d = SPARK
    vx = spark.sql(
        f"WITH {_intvec_wide_cte(d)} SELECT vec_id, iv, nrm FROM vx"
    ).localCheckpoint()
    vx.createOrReplaceTempView("_ivf_vx")
    ch = md5_slice_int("concat('ivf_', cast(vec_id as string))", 1, 4, d)
    cents = (spark.sql(
        f"SELECT vec_id AS cid, iv FROM _ivf_vx "
        f"WHERE ({ch}) % {IVF_CENTROID_MOD} = 0")
        .orderBy("cid").collect())
    if not cents:
        # degenerate corpus where the md5 sample selects no centroid:
        # the declarative rendering handles it (empty cdim -> empty
        # result) where shape-(0,) matmuls would raise; fall back.
        return spark.sql(q_ann_ivf(d))
    cids0 = np.array([r.cid for r in cents], dtype=np.int64)
    c0 = np.array([list(r.iv) for r in cents], dtype=np.int64)
    bc0 = spark.sparkContext.broadcast((cids0, c0))

    def assign_top1(batches):
        cids, cm = bc0.value
        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.array(pdf["iv"].tolist(), dtype=np.int64)
            dp = vm @ cm.T
            # first max along cid-ascending columns == (dp DESC, cid ASC)
            j = np.argmax(dp, axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(),
                                "cid": cids[j]})

    (vx.select("vec_id", "iv")
       .mapInPandas(assign_top1, schema="vec_id bigint, cid bigint")
       .createOrReplaceTempView("_ivf_assign0"))
    lloyd_rows = spark.sql("""
      WITH lloyd AS (
        SELECT a.cid, pe.i,
          cast(floor(avg(cast(pe.v as double)) + 0.5) as bigint) AS v
        FROM _ivf_assign0 a
        JOIN _ivf_vx vx ON vx.vec_id = a.vec_id
        LATERAL VIEW posexplode(vx.iv) pe AS i, v
        GROUP BY a.cid, pe.i
      )
      SELECT cid,
        transform(array_sort(collect_list(struct(i, v))), s -> s.v) AS civ
      FROM lloyd GROUP BY cid""").orderBy("cid").collect()
    cids1 = np.array([r.cid for r in lloyd_rows], dtype=np.int64)
    c1 = np.array([list(r.civ) for r in lloyd_rows], dtype=np.int64)
    bc1 = spark.sparkContext.broadcast((cids1, c1))
    rmax = max(IVF_NPROBE, IVF_ASSIGN_REPL)

    def rank_top(batches):
        cids, cm = bc1.value
        k = min(rmax, len(cids))
        ranks = np.arange(1, k + 1)
        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.array(pdf["iv"].tolist(), dtype=np.int64)
            dp = vm @ cm.T
            idx = np.argsort(-dp, axis=1, kind="stable")[:, :k]
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), k),
                "cid": cids[idx].ravel(),
                "rn": np.tile(ranks, len(vm)).astype(np.int32),
            })

    (vx.select("vec_id", "iv")
       .mapInPandas(rank_top, schema="vec_id bigint, cid bigint, rn int")
       .createOrReplaceTempView("_ivf_aranked"))
    return spark.sql(f"""
WITH clists AS (
  SELECT cid,
    collect_list(case when rn <= {IVF_ASSIGN_REPL} then vec_id end)
      AS amem,
    collect_list(case when rn <= {IVF_NPROBE} AND vec_id < {N_QUERIES}
                 then vec_id end) AS pmem
  FROM _ivf_aranked
  WHERE rn <= {rmax}
  GROUP BY cid
),
cands AS (
  SELECT DISTINCT query_id, cand_id FROM clists
  LATERAL VIEW explode(pmem) qe AS query_id
  LATERAL VIEW explode(amem) ce AS cand_id
  WHERE query_id <> cand_id
),
{_rerank_tail_wide('_ivf_vx')}""")
