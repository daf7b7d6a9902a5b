"""Wave-17 driver queries: raster viewshed (line-of-sight over the
sparse DEM, composed from the supercover rasterizer), standard
deviational ellipses per day, shortest-path isochrone bands, KWIC
concordance, and max-min fair (water-filling) crawl-budget
allocation.

Reference anchors: viewshed/isochrone extend the terrain and graph
families already anchored to the reference's commune tiling; the
ellipse is the directional summary of the reference's per-commune
point clouds (bano/sql/batch_stats); KWIC and water-filling serve the
webtext/crawl axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.queries_wave4 import _W134_EDGES, _w134_oracle
from bano_spark.queries_wave15 import _dem_cte
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# ac01 — viewshed from cell (12, 10), h = 1, radius 6, over the
# wave-15 DEM. Oracle: the full composition restated — supercover
# sightlines at cell 1 (crossing-parameter set algebra), max blocking
# angle among crossed occupied cells, strict > visibility.
# ---------------------------------------------------------------------------

_VS_OX, _VS_OY, _VS_H, _VS_R = 12, 10, 1.0, 6


def _vs_crossings(p0: str, dp: str) -> str:
    lo = f"CAST(ceil(least({p0}, {p0} + {dp})) AS BIGINT)"
    hi = f"CAST(floor(greatest({p0}, {p0} + {dp})) AS BIGINT)"
    return (f"CASE WHEN {dp} <> 0 AND {lo} <= {hi} THEN "
            f"list_transform(range({lo}, {hi} + 1), "
            f"k -> (k - {p0}) / {dp}) "
            f"ELSE CAST([] AS DOUBLE[]) END")


_AC01_ORACLE = f"""
WITH {_dem_cte('duckdb')},
obs AS (SELECT CAST(z AS DOUBLE) + {_VS_H} AS z0 FROM dem
        WHERE gx = {_VS_OX} AND gy = {_VS_OY}),
tgt AS (
  SELECT gx AS tx, gy AS ty, z AS tz,
         CAST({_VS_OX} AS DOUBLE) + 0.5 AS x1,
         CAST({_VS_OY} AS DOUBLE) + 0.5 AS y1,
         CAST(gx AS DOUBLE) + 0.5 AS x2,
         CAST(gy AS DOUBLE) + 0.5 AS y2
  FROM dem
  WHERE greatest(abs(gx - {_VS_OX}), abs(gy - {_VS_OY})) <= {_VS_R}
    AND NOT (gx = {_VS_OX} AND gy = {_VS_OY})
),
seg AS (SELECT tx, ty, tz, x1, y1, x2 - x1 AS dx, y2 - y1 AS dy
        FROM tgt),
ts AS (
  SELECT tx, ty, x1, y1, dx, dy,
         unnest(list_filter(
           [0.0, 1.0] || {_vs_crossings('x1', 'dx')}
                      || {_vs_crossings('y1', 'dy')},
           t -> t >= 0.0 AND t <= 1.0)) AS t
  FROM seg
),
iv AS (SELECT *, lead(t) OVER (PARTITION BY tx, ty ORDER BY t) AS tn
       FROM ts),
ray AS (
  SELECT DISTINCT tx, ty,
         CAST(floor(x1 + (t + tn) / 2 * dx) AS BIGINT) AS cx,
         CAST(floor(y1 + (t + tn) / 2 * dy) AS BIGINT) AS cy
  FROM iv WHERE tn IS NOT NULL AND tn > t
),
mid AS (
  SELECT r.tx, r.ty, d.z AS zi, r.cx, r.cy
  FROM ray r JOIN dem d ON d.gx = r.cx AND d.gy = r.cy
  WHERE NOT (r.cx = {_VS_OX} AND r.cy = {_VS_OY})
    AND NOT (r.cx = r.tx AND r.cy = r.ty)
),
blocks AS (
  SELECT tx, ty,
         max((CAST(zi AS DOUBLE) - obs.z0)
             / sqrt(CAST((cx - {_VS_OX}) * (cx - {_VS_OX})
                         + (cy - {_VS_OY}) * (cy - {_VS_OY})
                         AS DOUBLE))) AS amax
  FROM mid, obs GROUP BY tx, ty, obs.z0
),
fin AS (
  SELECT s.tx, s.ty,
         sqrt(CAST((s.tx - {_VS_OX}) * (s.tx - {_VS_OX})
                   + (s.ty - {_VS_OY}) * (s.ty - {_VS_OY})
                   AS DOUBLE)) AS dt,
         (CAST(s.tz AS DOUBLE) - obs.z0) AS dz, b.amax
  FROM seg s CROSS JOIN obs LEFT JOIN blocks b
    ON b.tx = s.tx AND b.ty = s.ty
)
SELECT tx AS gx, ty AS gy, round(dt, 6) AS dist,
       round(dz / dt, 6) AS target_angle,
       round(amax, 6) AS max_block_angle,
       (amax IS NULL OR dz / dt > amax) AS visible
FROM fin ORDER BY gx, gy
"""


@register("viewshed_analysis", _AC01_ORACLE)
def ac_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import viewshed

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    dem = spark.sql("WITH " + _dem_cte("spark") + " SELECT * FROM dem")
    return (viewshed(dem, _VS_OX, _VS_OY, h=_VS_H, radius=_VS_R)
            .orderBy("gx", "gy"))


# ---------------------------------------------------------------------------
# ac02 — standard deviational ellipse of the event points PER DAY:
# mean center, orientation, sigma axes from the covariance
# eigenvalues — five exact integer sums per group.
# ---------------------------------------------------------------------------


def _sde_cte(dialect: str) -> str:
    p = synth.points_select_sql(dialect)
    return (f"p AS ({p}), "
            "e AS (SELECT event_id, CAST(ts AS DATE) AS day FROM events), "
            "pts AS (SELECT CAST(e.day AS VARCHAR) AS day, p.x, p.y "
            "FROM p JOIN e ON e.event_id = p.event_id)"
            if dialect == "duckdb" else
            f"p AS ({p}), "
            "e AS (SELECT event_id, CAST(ts AS DATE) AS day FROM events), "
            "pts AS (SELECT CAST(e.day AS STRING) AS day, p.x, p.y "
            "FROM p JOIN e ON e.event_id = p.event_id)")


_AC02_ORACLE = f"""
WITH {_sde_cte('duckdb')},
agg AS (
  SELECT day, CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM pts GROUP BY day HAVING count(*) >= 2
),
mo AS (
  SELECT day, n, sx / n AS mx, sy / n AS my,
         sxx / n - (sx / n) * (sx / n) AS vx,
         syy / n - (sy / n) * (sy / n) AS vy,
         sxy / n - (sx / n) * (sy / n) AS cv
  FROM agg
),
ei AS (
  SELECT day, n, mx, my, vx, vy, cv,
         sqrt((vx - vy) * (vx - vy) + 4.0 * cv * cv) AS disc,
         atan2(2.0 * cv, vx - vy) * 0.5 * (180.0 / pi()) AS ang
  FROM mo WHERE vx + vy > 0
)
SELECT day, n, round(mx, 6) AS mean_x, round(my, 6) AS mean_y,
       round(CASE WHEN ang < 0 THEN ang + 180.0 ELSE ang END, 6)
         AS angle_deg,
       round(sqrt((vx + vy + disc) / 2.0), 6) AS sigma_major,
       round(sqrt(greatest((vx + vy - disc) / 2.0, 0.0)), 6)
         AS sigma_minor
FROM ei ORDER BY day
"""


@register("std_dev_ellipse", _AC02_ORACLE)
def ac_sde(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import std_deviational_ellipse

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    pts = spark.sql("WITH " + _sde_cte("spark") + " SELECT * FROM pts")
    return std_deviational_ellipse(pts, ["day"]).orderBy("day")


# ---------------------------------------------------------------------------
# ac03 — isochrone bands over the wave-4 weighted lattice: nodes
# bucketed by shortest-path distance from node 0 in width-2 bands —
# the accessibility product of SSSP. Oracle: the unrolled
# Bellman-Ford CTE (shared emitter with sssp_weighted) wrapped in the
# band rollup.
# ---------------------------------------------------------------------------

_ISO_W = 2.0

_AC03_ORACLE = f"""
SELECT CAST(floor(dist / {_ISO_W}) AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n_nodes,
       round(min(dist), 6) AS min_dist,
       round(max(dist), 6) AS max_dist
FROM ({_w134_oracle()})
GROUP BY 1 ORDER BY band
"""


@register("sssp_isochrone_bands", _AC03_ORACLE)
def ac_isochrone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import sssp_weighted

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    edges = spark.sql("WITH " + _W134_EDGES + " SELECT * FROM e")
    seeds = spark.range(1).select(F.lit(0).cast("bigint").alias("node"))
    d = sssp_weighted(edges, seeds, src="u", dst="v", weight="w")
    return (d.groupBy(F.floor(F.col("dist") / _ISO_W).alias("band"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
                 F.round(F.min("dist"), 6).alias("min_dist"),
                 F.round(F.max("dist"), 6).alias("max_dist"))
            .orderBy("band"))


# ---------------------------------------------------------------------------
# ac04 — KWIC concordance for the token 'the' with 3 tokens of
# context on each side, over the raw documents.
# ---------------------------------------------------------------------------

_KW_TERM, _KW_W = "the", 3

_AC04_ORACLE = rf"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\s+') AS tk
  FROM documents
),
ex AS (
  SELECT doc_id, tk, len(tk) AS n,
         unnest(tk) AS w, generate_subscripts(tk, 1) AS p
  FROM t
)
SELECT doc_id, CAST(p AS INT) AS pos,
       coalesce(array_to_string(
           list_slice(tk, CAST(greatest(p - {_KW_W}, 1) AS INT),
                      CAST(p - 1 AS INT)), ' '), '') AS left_ctx,
       coalesce(array_to_string(
           list_slice(tk, CAST(p + 1 AS INT),
                      CAST(least(p + {_KW_W}, n) AS INT)), ' '), '')
         AS right_ctx
FROM ex WHERE w = '{_KW_TERM}' ORDER BY doc_id, pos
"""


@register("kwic_concordance", _AC04_ORACLE)
def ac_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import kwic_concordance

    docs = _read(spark, sf_dir, "documents")
    return (kwic_concordance(docs, _KW_TERM, _KW_W)
            .orderBy("doc_id", "pos"))


# ---------------------------------------------------------------------------
# ac05 — water-filling crawl budget: max-min fair allocation of 300
# fetches across hosts by URL demand. Engine finds the water level
# over distinct demand values with the bucketed distributed cumsum
# (no single-partition exchange); oracle states the same threshold
# algebra with a plain window.
# ---------------------------------------------------------------------------

_WF_B = 300.0

_AC05_ORACLE = f"""
WITH u AS ({synth.urls_select_sql('duckdb')}),
dm AS (SELECT host, CAST(count(*) AS BIGINT) AS d FROM u GROUP BY host),
lv AS (SELECT d, CAST(count(*) AS BIGINT) AS c,
              CAST(sum(d) AS BIGINT) AS s
       FROM dm GROUP BY d),
cs AS (
  SELECT d, c, s,
         sum(s) OVER (ORDER BY d) - s AS cum_s,
         sum(c) OVER () - (sum(c) OVER (ORDER BY d) - c) AS m
  FROM lv
),
th AS (
  SELECT (CAST({_WF_B} AS DOUBLE) - CAST(cum_s AS DOUBLE))
           / CAST(m AS DOUBLE) AS theta
  FROM cs
  WHERE CAST(cum_s AS DOUBLE) + CAST(m AS DOUBLE) * CAST(d AS DOUBLE)
        >= CAST({_WF_B} AS DOUBLE)
  ORDER BY d LIMIT 1
)
SELECT host, d AS demand,
       round(least(CAST(d AS DOUBLE),
                   coalesce((SELECT theta FROM th),
                            CAST(d AS DOUBLE))), 6) AS alloc
FROM dm ORDER BY host
"""


@register("waterfill_budget", _AC05_ORACLE)
def ac_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.crawl import waterfill_budget
    from bano_spark.queries_wave8 import _urls

    dm = (_urls(spark, sf_dir).groupBy("host")
          .agg(F.count(F.lit(1)).cast("bigint").alias("demand")))
    return waterfill_budget(dm, _WF_B).orderBy("host")
