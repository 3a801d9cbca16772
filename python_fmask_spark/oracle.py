"""Full-query SQL assembly for both dialects.

Each query is a CTE pipeline over the ``documents`` table, rendered either
for Spark SQL (the engine's declarative path — Catalyst optimizes it the
same as DataFrame code) or DuckDB (the driver's correctness oracle).

Column names are identical in both renderings by construction, as required
by the driver's order-insensitive value-hash comparison.
"""

from __future__ import annotations

from . import constants as C
from . import derive
from .dialect import DUCKDB, SPARK


def _ctes(d: str, upto: str, table: str = "documents",
          sensor: str = "LANDSAT8",
          s2_offsets: dict[str, int] | None = None,
          angles: bool = False,
          eqn17_cloud_prob_thresh: float | None = None,
          tile_meta=None,
          nir_snow_thresh: float | None = None,
          green_snow_thresh: float | None = None) -> str:
    # angles=False by default: none of the SQL-shaped oracle queries
    # read the per-pixel angle DN columns, and the ang_dim join that
    # feeds them is structural (unprunable). The kernel-path fixture
    # replay (scripts/make_shadow_fixture.py) passes angles=True.
    parts = [derive.features_sql(d, derive.documents_wide_sql(d, table),
                                 angles=angles, tile_meta=tile_meta)]
    order = ["pass1", "thresholds", "pass2", "pass3", "majority"]
    builders = {
        "pass1": lambda d: derive.pass1_sql(
            d, sensor=sensor, s2_offsets=s2_offsets,
            nir_snow_thresh=nir_snow_thresh,
            green_snow_thresh=green_snow_thresh),
        "thresholds": lambda d: derive.thresholds_sql(sensor),
        "pass2": lambda d: derive.pass2_sql(
            d, sensor=sensor,
            eqn17_cloud_prob_thresh=eqn17_cloud_prob_thresh),
        "pass3": lambda d: derive.pass3_sql(d, sensor=sensor),
        "majority": lambda d: derive.majority3_sql(d, "pass3", "cloud_raw", "cloudbuf"),
    }
    for stage in order:
        parts.append(builders[stage](d))
        if stage == upto:
            break
    return "WITH " + ",\n".join(parts)


def q_documents_wide(d: str) -> str:
    """Ingest check: the input_hint-shaped table, with byte-identity
    digest of text/html (per-row invariant per BASELINE.json)."""
    sha = "sha2(text, 256)" if d == SPARK else "sha256(text)"
    docs = derive.documents_wide_sql(d, "documents")
    return (f"WITH docs AS ({docs}) "
            f"SELECT url, warc_ts, lang, text, {sha} AS text_sha256 FROM docs")


def q_geocode_cells(d: str) -> str:
    """Geocode + H3-style bucketing: per-cell doc counts and lat/lon extremes."""
    ctes = _ctes(d, "pass1")  # features included before pass1
    return f"""{ctes}
SELECT cell_id, count(*) AS n_docs,
  min(lat) AS min_lat, max(lat) AS max_lat,
  min(lon) AS min_lon, max(lon) AS max_lon,
  count(distinct domain) AS n_domains
FROM features GROUP BY cell_id"""


def q_pass1_cell_counts(d: str) -> str:
    """Flagship: per-cell PCP / water / snow / clear-land classification
    counts (potentialCloudFirstPass layers, fmask/fmask.py:459-460)."""
    ctes = _ctes(d, "pass1")
    return f"""{ctes}
SELECT cell_id, count(*) AS n_docs,
  cast(sum(case when pcp then 1 else 0 end) as bigint) AS n_pcp,
  cast(sum(case when water_test then 1 else 0 end) as bigint) AS n_water,
  cast(sum(case when clear_land then 1 else 0 end) as bigint) AS n_clear_land,
  cast(sum(case when snow then 1 else 0 end) as bigint) AS n_snow,
  cast(sum(case when nullmask then 1 else 0 end) as bigint) AS n_null,
  cast(sum(case when clear_sky_water then 1 else 0 end) as bigint) AS n_clear_sky_water,
  cast(sum(variability_prob_pcnt) as bigint) AS sum_vprob
FROM pass1 GROUP BY cell_id"""


def q_pass1_thresholds(d: str) -> str:
    """Per-cell global thresholds (Eqns 8,13; the scoreatpcnt percentile
    of fmask/fmask.py:472-499,546-561 as one GROUP BY cell_id of FILTERed
    percentile_disc aggregates) + b4_17 scaled to int for stable compare."""
    ctes = _ctes(d, "thresholds")
    return f"""{ctes}
SELECT cell_id, twater, tlow, thigh,
  cast(round(b4_17 * 1000) as int) AS b4_17_milli,
  non_null_count
FROM thresholds"""


def q_pass2_probs(d: str,
                  eqn17_cloud_prob_thresh: float | None = None) -> str:
    """Per-cell aggregated quantized cloud probabilities (pass2 stack,
    fmask/fmask.py:673-676) and the Eqn-17 land threshold. The optional
    knob mirrors the reference's --cloudprobthreshold
    (fmask/config.py:336-344)."""
    ctes = _ctes(d, "pass2",
                 eqn17_cloud_prob_thresh=eqn17_cloud_prob_thresh)
    return f"""{ctes}
SELECT p.cell_id,
  cast(sum(p.wprob_pcnt) as bigint) AS sum_wprob,
  cast(sum(p.lprob_pcnt) as bigint) AS sum_lprob,
  cast(round(max(lt.land_threshold) * 1000) as int) AS land_threshold_milli,
  count(*) AS n_docs
FROM pass2 p JOIN landthr lt ON lt.cell_id = p.cell_id
GROUP BY p.cell_id"""


def q_cloud_interim(d: str) -> str:
    """Per-pixel interim cloud mask after Eqn 18 and the 3x3 >=5-of-9
    majority buffer (fmask/fmask.py:742-776)."""
    ctes = _ctes(d, "majority")
    return f"""{ctes}
SELECT url, cell_id, r, c,
  cast(case when cloud_raw then 1 else 0 end as int) AS cloud_raw_i,
  cast(case when cloudbuf_flag and not nullmask then 1 else 0 end as int) AS cloud_i
FROM cloudbuf"""


def q_fmask_interim_class(d: str) -> str:
    """Per-url interim classification (precedence merge of
    fmask/fmask.py:1389-1394, without the shadow chain), with the
    circular cloud buffer (fmask/fmask.py:1379-1380) and text byte-identity
    digest. Shadow-inclusive classification is the kernel pipeline's job."""
    ctes = _ctes(d, "majority")
    dil = derive.dilate_sql(d, "cloudsrc", "cloud_m", "clouddil",
                            C.CLOUD_BUFFER_SIZE)
    sha = "sha2(text, 256)" if d == SPARK else "sha256(text)"
    return f"""{ctes},
cloudsrc AS (
  SELECT *, (cloudbuf_flag AND NOT nullmask) AS cloud_m FROM cloudbuf
),
{dil}
SELECT url, cell_id, r, c,
  cast(case
    when nullmask then {C.OUTCODE_NULL}
    when clouddil_flag then {C.OUTCODE_CLOUD}
    when snow then {C.OUTCODE_SNOW}
    when water_test then {C.OUTCODE_WATER}
    else {C.OUTCODE_CLEAR}
  end as int) AS fmask_class,
  {sha} AS text_sha256
FROM clouddil"""


def q_pass1_snow_knob(d: str, nir: float = 0.25,
                      green: float = 0.2) -> str:
    """Pass-1 layer counts under NON-DEFAULT Eqn-20 snow thresholds —
    the reference's --nirsnowthreshold / --greensnowthreshold CLI knobs
    (fmask/cmdline/usgsLandsatStacked.py:89-93,257-258; config
    setEqn20*SnowThresh :354-368). Both dialects render with the SAME
    knob values, so the hash match proves the knob reaches the snow
    test identically in engine and oracle; the knob's LIVENESS (counts
    differ from the defaults) is pinned by
    tests/test_config_knobs.py::test_snow_thresh_sweep_matches_oracle."""
    ctes = _ctes(d, "pass1", nir_snow_thresh=nir, green_snow_thresh=green)
    return f"""{ctes}
SELECT cell_id, count(*) AS n_docs,
  cast(sum(case when snow then 1 else 0 end) as bigint) AS n_snow,
  cast(sum(case when pcp then 1 else 0 end) as bigint) AS n_pcp,
  cast(sum(case when clear_land then 1 else 0 end) as bigint) AS n_clear_land
FROM pass1 GROUP BY cell_id"""


def q_pass1_cell_counts_l47(d: str) -> str:
    """Sensor dispatch: Landsat 4-7 (no cirrus band; 6 null bands;
    fmask/config.py:33-40, fmask/fmask.py:290-292)."""
    ctes = _ctes(d, "pass1", sensor="LANDSAT47")
    return f"""{ctes}
SELECT cell_id, count(*) AS n_docs,
  cast(sum(case when pcp then 1 else 0 end) as bigint) AS n_pcp,
  cast(sum(case when water_test then 1 else 0 end) as bigint) AS n_water,
  cast(sum(case when clear_land then 1 else 0 end) as bigint) AS n_clear_land,
  cast(sum(case when snow then 1 else 0 end) as bigint) AS n_snow,
  cast(sum(case when nullmask then 1 else 0 end) as bigint) AS n_null
FROM pass1 GROUP BY cell_id"""


def _cdi_cte_block(d: str, offs: dict[str, int],
                   src: str = "pass1") -> str:
    """The CDI chain (focal variances -> CDI -> eroded confident
    selection -> recursive region grow) as a CTE block over ``src``
    (a pass-1-shaped CTE). Ends with the ``grown`` CTE; consumers join
    ``grown`` (by url) to read the displacement-test selection and the
    ``cdi`` CTE for per-pixel CDI values. DuckDB dialect only."""
    if d == SPARK:
        raise NotImplementedError(
            "Spark runs the kernel path (pipeline._cdi_kernel); the SQL "
            "rendering is the DuckDB oracle only")
    ref8a = derive._ref("nir8a", offs.get("nir8a", 0))
    ref7 = derive._ref("nir7", offs.get("nir7", 0))
    win = 7
    offsets = ", ".join(f"({a}, {b})" for a in range(-3, 4)
                        for b in range(-3, 4))
    W = C.SCENE_WIDTH
    refl_r = (f"(case when p.r + o.dr < 0 then -(p.r + o.dr) - 1 "
              f"when p.r + o.dr >= p.cell_rows "
              f"then 2 * p.cell_rows - (p.r + o.dr) - 1 "
              f"else p.r + o.dr end)")
    refl_c = (f"(case when p.c + o.dc < 0 then -(p.c + o.dc) - 1 "
              f"when p.c + o.dc >= {W} then 2 * {W} - (p.c + o.dc) - 1 "
              f"else p.c + o.dc end)")
    n2 = win * win
    return f"""cdi0 AS (
  SELECT url, cell_id, r, c, cell_rows, nullmask,
    (basic_test AND whiteness0 < {C.EQN2_WHITENESS_THRESH}
     AND haze_test AND b45_test) AS pcp6,
    cirrus_band_test, sat_and_bright,
    cast(cast(ref_nir / {ref8a} as REAL) as double) AS r88,
    cast(cast({ref7} / {ref8a} as REAL) as double) AS r87
  FROM {src}
),
offs49 AS (SELECT * FROM (VALUES {offsets}) AS v(dr, dc)),
var0 AS (
  SELECT p.url AS vurl,
    sum(q.r88) / {n2} AS m88, sum(q.r88 * q.r88) / {n2} AS m88sq,
    sum(q.r87) / {n2} AS m87, sum(q.r87 * q.r87) / {n2} AS m87sq
  FROM cdi0 p
  CROSS JOIN offs49 o
  LEFT JOIN cdi0 q
    ON q.cell_id = p.cell_id AND q.r = {refl_r} AND q.c = {refl_c}
  GROUP BY p.url
),
cdi AS (
  SELECT c0.*,
    cast(case when (v.m87sq - v.m87 * v.m87) + (v.m88sq - v.m88 * v.m88) = 0
         then 0.0
         else ((v.m87sq - v.m87 * v.m87) - (v.m88sq - v.m88 * v.m88))
              / ((v.m87sq - v.m87 * v.m87) + (v.m88sq - v.m88 * v.m88))
         end as REAL) AS cdi32
  FROM cdi0 c0 JOIN var0 v ON v.vurl = c0.url
),
sel0 AS (SELECT url, cell_id, r, c FROM cdi WHERE pcp6 AND cdi32 < -0.5),
eroded AS (
  SELECT s.url, s.cell_id, s.r, s.c FROM sel0 s
  JOIN sel0 nu ON nu.cell_id = s.cell_id AND nu.r = s.r - 1 AND nu.c = s.c
  JOIN sel0 nd ON nd.cell_id = s.cell_id AND nd.r = s.r + 1 AND nd.c = s.c
  JOIN sel0 nl ON nl.cell_id = s.cell_id AND nl.r = s.r AND nl.c = s.c - 1
  JOIN sel0 nr ON nr.cell_id = s.cell_id AND nr.r = s.r AND nr.c = s.c + 1
),
rg AS (SELECT url, cell_id, r, c FROM cdi WHERE pcp6 AND cdi32 < -0.25),
grown AS (
  SELECT url, cell_id, r, c FROM eroded
  UNION
  SELECT m.url, m.cell_id, m.r, m.c
  FROM grown g JOIN rg m ON m.cell_id = g.cell_id
    AND ((abs(m.r - g.r) = 1 AND m.c = g.c)
         OR (m.r = g.r AND abs(m.c - g.c) = 1))
)"""


def q_s2_cdi(d: str, s2_offsets: dict[str, int] | None = None) -> str:
    """DuckDB oracle for the Sentinel-2 displacement test (W4; Frantz
    2018 CDI, fmask/fmask.py:398-406 + calcCDI :1412-1429): band-ratio
    focal variances over a 7x7 reflect-border window, CDI with
    divide-by-zero guard and float32 rounding, confident selection
    (cdi < -0.5) eroded by one 4-connected pixel, region-grown to
    fixpoint within (cdi < -0.25) via a RECURSIVE CTE, and the PCP
    restricted to the grown selection before the cirrus/saturation OR.

    The Spark side runs the tiled kernel path (pipeline.s2_cdi_pcp);
    this SQL form is the independent oracle.

    Assumes every cell has >= 4 rows (reflect window radius 3): the
    single-level reflect index below mirrors np.pad 'reflect' only when
    one reflection lands in range. A shorter cell would re-reflect out
    of range, the LEFT JOIN row would be NULL, and sum()/49 would
    silently average fewer than 49 terms — diverging from the kernel's
    multi-reflect np.pad. The synthetic layout guarantees cells of
    SCENE_WIDTH-row-major shape with >= 4 rows at every tested sf."""
    if d == SPARK:
        raise NotImplementedError(
            "Spark runs the kernel path (pipeline.s2_cdi_pcp); the SQL "
            "rendering is the DuckDB oracle only")
    from .sen2meta import require_s2_offsets
    offs = require_s2_offsets(s2_offsets)
    ctes = _ctes(d, "pass1", sensor="SENTINEL2", s2_offsets=offs)
    body = ctes[len("WITH "):]
    return f"""WITH RECURSIVE {body},
{_cdi_cte_block(d, offs)}
SELECT c.url, c.cell_id, c.r, c.c,
  cast(case when c.cdi32 >= 0
       then floor(cast(c.cdi32 as double) * 1000 + 0.5)
       else -floor(-cast(c.cdi32 as double) * 1000 + 0.5) end as int)
    AS cdi_milli,
  cast(case when g.url IS NOT NULL AND c.pcp6 then 1 else 0 end as int)
    AS pcp_cdi,
  cast(case when NOT c.nullmask AND
       ((g.url IS NOT NULL AND c.pcp6) OR c.cirrus_band_test
        OR c.sat_and_bright) then 1 else 0 end as int) AS pcp_final
FROM cdi c
LEFT JOIN (SELECT DISTINCT url FROM grown) g ON g.url = c.url"""


# Explicit all-zero offsets: a pre-04.00 product's offsets, stated
# explicitly as the reference requires (fmask/fmask.py:137-149).
S2_ZERO_OFFSETS = {b: 0 for b in
                   ("blue", "green", "red", "nir", "swir1", "swir2",
                    "cirrus")}


def _ctes_s2_cdi(d: str, upto: str, offs: dict[str, int],
                 angles: bool = False) -> str:
    """The full CTE prefix (WITH RECURSIVE ...) for the CDI-composed
    Sentinel-2 chain up to ``upto``: the rendered pass-1 CTE is renamed
    pass1_raw, the recursive CDI block runs over it, and ``pass1`` is
    redefined AS MATERIALIZED (DuckDB inlines CTEs per reference — the
    thresholds and pass-2 CTEs both read pass1) with pcp and its one
    dependent column clear_land replaced; the thresholds/pass2/pass3/
    majority CTE text then composes unchanged. DuckDB dialect only."""
    full = _ctes(d, upto, sensor="SENTINEL2", s2_offsets=offs,
                 angles=angles)
    body = full[len("WITH "):]
    assert body.count("pass1 AS (") == 1
    head, tail = body.split("pass1 AS (", 1)
    # derive renders each CTE body ending at column 0 with ")": the
    # first "\n),\n" after the split is pass1's own close (its body is
    # a single SELECT with no column-0 closes inside)
    idx = tail.index("\n),\n")
    p1_body, rest = tail[:idx], tail[idx + len("\n),\n"):]
    cdi = _cdi_cte_block(d, offs, src="pass1_raw")
    return f"""WITH RECURSIVE {head}pass1_raw AS ({p1_body}
),
{cdi},
pass1 AS MATERIALIZED (
  SELECT p.* REPLACE (
    (p1c.pcp_cdi_final) AS pcp,
    (NOT p.nullmask AND NOT p1c.pcp_cdi_final
     AND NOT p.water_test) AS clear_land)
  FROM pass1_raw p
  JOIN (SELECT c.url,
          (NOT c.nullmask AND
           ((g.url IS NOT NULL AND c.pcp6) OR c.cirrus_band_test
            OR c.sat_and_bright)) AS pcp_cdi_final
        FROM cdi c
        LEFT JOIN (SELECT DISTINCT url FROM grown) g ON g.url = c.url
       ) p1c ON p1c.url = p.url
),
{rest}"""


def q_fmask_interim_class_s2_cdi(d: str,
                                 s2_offsets: dict[str, int] | None = None
                                 ) -> str:
    """Interim classification with the CDI displacement test applied
    INSIDE pass 1 (setSen2displacementTest; fmask/fmask.py:395-412):
    pcp becomes the CDI-filtered PCP and every downstream consumer —
    clear_land, the thresholds, pass 2/3, the majority
    buffer — reads the modified pass 1. DuckDB renders the CDI chain
    as the recursive-CTE SQL form; the Spark engine runs the per-cell
    CDI kernel (pipeline.materialize_pass1(s2_cdi=True)), so the
    driver compare proves kernel-composed == SQL-composed end-to-end.

    Mechanically: the rendered pass-1 CTE is renamed pass1_raw, the
    CDI block runs over it, and ``pass1`` is redefined as pass1_raw
    with pcp (and its one dependent column clear_land) replaced — the
    thresholds/pass2/pass3/majority CTE text then composes unchanged."""
    if d == SPARK:
        raise NotImplementedError(
            "Spark runs the kernel-composed pipeline; this SQL "
            "rendering is the DuckDB oracle only")
    from .sen2meta import require_s2_offsets
    offs = require_s2_offsets(s2_offsets)
    ctes = _ctes_s2_cdi(d, "majority", offs)
    return f"""{ctes}
SELECT cb.url, cb.cell_id, cb.r, cb.c,
  cast(case
    when cb.nullmask then {C.OUTCODE_NULL}
    when cb.cloudbuf_flag and not cb.nullmask then {C.OUTCODE_CLOUD}
    when cb.snow then {C.OUTCODE_SNOW}
    when cb.water_test then {C.OUTCODE_WATER}
    else {C.OUTCODE_CLEAR}
  end as int) AS fmask_class,
  cast(p.pcp as int) AS pcp_i,
  cast(p.clear_land as int) AS clear_land_i
FROM cloudbuf cb JOIN pass1 p ON p.url = cb.url"""


def q_fmask_interim_class_s2(d: str,
                             s2_offsets: dict[str, int] | None = None
                             ) -> str:
    """Sensor dispatch: Sentinel-2 (no thermal -> BT thresholds NULL and
    temperature probs degrade to 1, fmask/fmask.py:645-666; cloudmask3
    disabled, fmask/fmask.py:747-748; visible-only null bands,
    fmask/fmask.py:298-302). ``s2_offsets`` feeds the mandatory
    radiometric offsets (parsed from the product XML via
    sen2meta.Sen2ZipfileMeta at the call site)."""
    from . import constants as C
    from .sen2meta import require_s2_offsets
    ctes = _ctes(d, "majority", sensor="SENTINEL2",
                 s2_offsets=require_s2_offsets(s2_offsets))
    return f"""{ctes}
SELECT url, cell_id, r, c,
  cast(case
    when nullmask then {C.OUTCODE_NULL}
    when cloudbuf_flag and not nullmask then {C.OUTCODE_CLOUD}
    when snow then {C.OUTCODE_SNOW}
    when water_test then {C.OUTCODE_WATER}
    else {C.OUTCODE_CLEAR}
  end as int) AS fmask_class
FROM cloudbuf"""
