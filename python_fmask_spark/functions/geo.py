"""Vector-side geo operators: point-in-polygon joins and kNN
tile-neighbor lookups (the raster<->vector bridge from BASELINE.json's
north_star).

Polygons and query points are deterministic synthetic vector data
(md5-derived, same formulas in both dialects). The PIP test is standard
ray casting over exploded polygon edges; kNN candidates come from the
query's cell + its 8 neighbor cells (the "tile-neighbor lookup"), so the
join is an equi-join on cell ids — never a full cross product.

Scale notes: the polygon edge table is tiny -> broadcast; the PIP join
cost is |docs| x |edges overlapping the doc's cell| after bbox pruning.
The kNN neighbor-cell equi-join touches ~9 cells per query; at Zipf
skew the hot cell's join partition is AQE's skew-join case (on in
session.get_spark).
"""

from __future__ import annotations

from ..derive import documents_wide_sql, features_sql
from ..dialect import md5_slice_int

N_POLYGONS = 16
POLY_VERTS = 6
N_QUERY_POINTS = 10
KNN_K = 5


def _dbl(x: str) -> str:
    return f"cast({x} as double)"


def polygons_cte(d: str) -> str:
    """Synthetic hexagon table: one row per (poly_id, edge) with edge
    endpoints, derived from md5(poly_id) — identical in both dialects."""
    vid = "vid"
    cast_str = "string" if d == "spark" else "varchar"
    pid_s = f"cast(poly_id as {cast_str})"

    def hval(suffix: str, mod: int) -> str:
        key = f"concat('poly_', {pid_s}, '_{suffix}')"
        return _dbl(md5_slice_int(key, 1, 8, d) + f" % {mod}")

    clat = f"({hval('lat', 120000)} / 1000.0 - 60.0)"
    clon = f"({hval('lon', 300000)} / 1000.0 - 150.0)"
    radius = f"(12.0 + {hval('r', 28000)} / 1000.0)"
    if d == "spark":
        pgen = "explode(sequence(0, %d)) AS poly_id" % (N_POLYGONS - 1)
        vgen = "explode(sequence(0, %d)) AS vid" % (POLY_VERTS - 1)
    else:
        pgen = "unnest(generate_series(0, %d)) AS poly_id" % (N_POLYGONS - 1)
        vgen = "unnest(generate_series(0, %d)) AS vid" % (POLY_VERTS - 1)
    two_pi = 6.283185307179586
    return f"""
poly_ids AS (SELECT {pgen}),
poly_meta AS (
  SELECT poly_id, {clat} AS clat, {clon} AS clon, {radius} AS radius
  FROM poly_ids
),
poly_verts AS (
  SELECT p.poly_id, v.{vid},
    p.clon + p.radius * cos({two_pi} * v.{vid} / {POLY_VERTS}) AS vx,
    p.clat + p.radius * sin({two_pi} * v.{vid} / {POLY_VERTS}) AS vy
  FROM poly_meta p CROSS JOIN (SELECT {vgen}) v
),
poly_edges AS (
  SELECT a.poly_id, a.{vid} AS eid, a.vx AS x1, a.vy AS y1,
         b.vx AS x2, b.vy AS y2
  FROM poly_verts a
  JOIN poly_verts b ON b.poly_id = a.poly_id
    AND b.{vid} = ({'pmod(a.vid + 1, %d)' % POLY_VERTS if d == 'spark'
                    else '(a.vid + 1) %% %d' % POLY_VERTS})
)""".strip()


def q_point_in_polygon(d: str) -> str:
    """PIP join: documents (points) x polygon edges -> ray-cast crossing
    parity. Output: per-polygon contained-point counts.

    Bbox prune: (doc, poly) pairs where the doc's lat is outside the
    polygon's y-range, or its lon is right of the polygon's xmax, have
    zero +x ray crossings by construction — pruning them before the edge
    join changes nothing in the output while cutting the per-doc edge
    work to the overlapping polygons only. The bbox table is tiny and
    broadcast."""
    feats = features_sql(d, documents_wide_sql(d, "documents"),
                         angles=False)
    crossing = ("(case when ((e.y1 > c.lat) <> (e.y2 > c.lat)) and "
                "c.lon < (e.x2 - e.x1) * (c.lat - e.y1) / (e.y2 - e.y1) + e.x1 "
                "then 1 else 0 end)")
    return f"""
WITH {feats},
{polygons_cte(d)},
poly_bbox AS (
  SELECT poly_id, min(vy) AS ymin, max(vy) AS ymax, max(vx) AS xmax
  FROM poly_verts GROUP BY poly_id
),
cand AS (
  SELECT f.url, f.lat, f.lon, b.poly_id
  FROM features f JOIN poly_bbox b
    ON f.lat >= b.ymin AND f.lat <= b.ymax AND f.lon <= b.xmax
),
pip AS (
  SELECT c.url, c.poly_id, sum({crossing}) AS crossings
  FROM cand c JOIN poly_edges e ON e.poly_id = c.poly_id
  GROUP BY c.url, c.poly_id
)
SELECT poly_id, count(*) AS n_inside,
  count(distinct url) AS n_urls
FROM pip WHERE crossings % 2 = 1
GROUP BY poly_id"""


def q_knn_tile_neighbor(d: str) -> str:
    """kNN tile-neighbor lookup: for each synthetic query point, the
    KNN_K nearest documents among its cell + 8 neighbor cells
    (squared-degree distance; ties by url).

    Scale plan: each query point explodes into its 9 neighbor (cx, cy)
    cells, then candidates come from an EQUI-join on (cell_x, cell_y) —
    a hash/broadcast join keyed on the cell grid, never a
    broadcast-nested-loop scan of the corpus per query."""
    feats = features_sql(d, documents_wide_sql(d, "documents"),
                         angles=False)
    cast_str = "string" if d == "spark" else "varchar"
    qid_s = f"cast(qid as {cast_str})"

    def hval(suffix: str, mod: int) -> str:
        key = f"concat('knnq_', {qid_s}, '_{suffix}')"
        return _dbl(md5_slice_int(key, 1, 8, d) + f" % {mod}")

    qlat = f"({hval('lat', 180000)} / 1000.0 - 90.0)"
    qlon = f"({hval('lon', 360000)} / 1000.0 - 180.0)"
    if d == "spark":
        qgen = "explode(sequence(0, %d)) AS qid" % (N_QUERY_POINTS - 1)
    else:
        qgen = "unnest(generate_series(0, %d)) AS qid" % (N_QUERY_POINTS - 1)
    from .. import constants as C
    step = C.CELL_DEG
    return f"""
WITH {feats},
qpts0 AS (SELECT {qgen}),
qpts AS (
  SELECT qid, {qlat} AS qlat, {qlon} AS qlon FROM qpts0
),
qcells AS (
  SELECT *, cast(floor((qlon + 180.0) / {step}) as int) AS qcx,
            cast(floor((qlat + 90.0) / {step}) as int) AS qcy
  FROM qpts
),
offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                               (1,-1),(1,0),(1,1)) AS v(dx, dy)),
qneighbors AS (
  SELECT q.qid, q.qlat, q.qlon,
    q.qcx + o.dx AS ncx, q.qcy + o.dy AS ncy
  FROM qcells q CROSS JOIN offs o
),
cands AS (
  SELECT q.qid, q.qlat, q.qlon, f.url,
    (f.lat - q.qlat) * (f.lat - q.qlat)
      + (f.lon - q.qlon) * (f.lon - q.qlon) AS dist2
  FROM qneighbors q JOIN features f
    ON f.cell_x = q.ncx AND f.cell_y = q.ncy
),
ranked AS (
  SELECT qid, url,
    cast(round(dist2 * 1000000) as bigint) AS dist2_micro,
    row_number() OVER (PARTITION BY qid ORDER BY dist2, url) AS rank
  FROM cands
)
SELECT qid, url, rank, dist2_micro FROM ranked WHERE rank <= {KNN_K}"""
