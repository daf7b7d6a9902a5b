"""Wave-23 driver queries: Zevenbergen-Thorne terrain curvature
(general/profile/plan — the ArcGIS Curvature triple, pure rational
arithmetic), downstream flow-path length (pointer doubling with
INTEGER step-count state so the float never drifts from the oracle's
sequential walk), the great-circle direct problem (destination point
— the inverse of haversine), per-document n-gram novelty along the
corpus order (crawl-freshness / recycled-content curve), and Simple
Good-Turing smoothed counts (unseen-mass estimation for the LM
family).

Reference anchors: curvature and flow length complete the terrain
family over the wave-15 DEM; destination_point pairs with
haversine_m/polyline_geodesic_length; novelty extends
decontamination/dup-span; Good-Turing joins stupid-backoff and the
bigram LM.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.queries_wave15 import _DEM_CELL, _dem_cte
from bano_spark.queries_wave16 import _D8_DIR_CTES
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# ai01 — Zevenbergen-Thorne curvature over the wave-15 DEM. Every
# expression mirrors the engine's literal-for-literal (same literals,
# same associativity); zero-gradient cells drop in both.
# ---------------------------------------------------------------------------

_AI01_ORACLE = f"""
WITH {_dem_cte('duckdb')},
roffs(dx, dy, k) AS (VALUES
  (-1, 1, 0), (0, 1, 1), (1, 1, 2), (-1, 0, 3),
  (1, 0, 4), (-1, -1, 5), (0, -1, 6), (1, -1, 7)),
rn AS (
  SELECT c.gx, c.gy, o.k, CAST(n.z AS DOUBLE) AS zz
  FROM dem c JOIN roffs o ON TRUE
  JOIN dem n ON n.gx = c.gx + o.dx AND n.gy = c.gy + o.dy
),
ragg AS (
  SELECT gx, gy,
         max(CASE WHEN k = 0 THEN zz END) AS nw,
         max(CASE WHEN k = 1 THEN zz END) AS nn,
         max(CASE WHEN k = 2 THEN zz END) AS ne,
         max(CASE WHEN k = 3 THEN zz END) AS ww,
         max(CASE WHEN k = 4 THEN zz END) AS ee,
         max(CASE WHEN k = 5 THEN zz END) AS sw,
         max(CASE WHEN k = 6 THEN zz END) AS ss,
         max(CASE WHEN k = 7 THEN zz END) AS se,
         count(*) AS m
  FROM rn GROUP BY gx, gy HAVING count(*) = 8
),
fullc AS (
  SELECT r.*, CAST(d.z AS DOUBLE) AS zc
  FROM ragg r JOIN dem d ON d.gx = r.gx AND d.gy = r.gy
),
deh AS (
  SELECT gx, gy,
         ((ww + ee) / 2.0 - zc) / {_DEM_CELL * _DEM_CELL!r} AS d,
         ((nn + ss) / 2.0 - zc) / {_DEM_CELL * _DEM_CELL!r} AS e,
         (-nw + ne + sw - se) / {4.0 * _DEM_CELL * _DEM_CELL!r} AS f,
         (-ww + ee) / {2.0 * _DEM_CELL!r} AS g,
         (nn - ss) / {2.0 * _DEM_CELL!r} AS h
  FROM fullc
)
SELECT gx, gy,
       round(-200.0 * (d + e), 6) + 0.0 AS curv_general,
       round(-2.0 * (d * g * g + e * h * h + f * g * h)
             / (g * g + h * h), 6) + 0.0 AS curv_profile,
       round(2.0 * (d * h * h + e * g * g - f * g * h)
             / (g * g + h * h), 6) + 0.0 AS curv_plan
FROM deh WHERE g * g + h * h > 0
ORDER BY gx, gy
"""


@register("terrain_curvature", _AI01_ORACLE)
def ai_curvature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import terrain_curvature

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    dem = spark.sql("WITH " + _dem_cte("spark") + " SELECT * FROM dem")
    return terrain_curvature(dem, _DEM_CELL).orderBy("gx", "gy")


# ---------------------------------------------------------------------------
# ai02 — downstream flow-path length: pointer doubling carries
# INTEGER (cardinal, diagonal) step counts; the float length
# materializes once as (nc + nd*sqrt(2)) * cell in both engines, so
# the doubling tree's addition order cannot drift from the recursive
# walk's.
# ---------------------------------------------------------------------------

_AI02_ORACLE = f"""
WITH RECURSIVE {_dem_cte('duckdb')},
{_D8_DIR_CTES},
edges AS (
  SELECT d.gx, d.gy, d.gx + o.dx AS tx, d.gy + o.dy AS ty,
         CASE WHEN o.dist = CAST(1.0 AS DOUBLE) THEN 1 ELSE 0 END AS card,
         CASE WHEN o.dist = CAST(1.0 AS DOUBLE) THEN 0 ELSE 1 END AS diag
  FROM dirs d JOIN offs o ON o.code = d.dir
  WHERE d.dir <> 0
),
walk(gx, gy, cx, cy, nc, nd) AS (
  SELECT gx, gy, gx, gy, 0, 0 FROM dirs
  UNION ALL
  SELECT w.gx, w.gy, e.tx, e.ty, w.nc + e.card, w.nd + e.diag
  FROM walk w JOIN edges e ON e.gx = w.cx AND e.gy = w.cy
)
SELECT w.gx, w.gy, CAST(w.nc AS BIGINT) AS n_cardinal,
       CAST(w.nd AS BIGINT) AS n_diagonal,
       round((w.nc + w.nd * sqrt(CAST(2.0 AS DOUBLE)))
             * {_DEM_CELL!r}, 6) AS path_len
FROM walk w JOIN dirs d ON d.gx = w.cx AND d.gy = w.cy
WHERE d.dir = 0
ORDER BY 1, 2
"""


@register("flow_path_length", _AI02_ORACLE)
def ai_flowlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import flow_path_length

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    dem = spark.sql("WITH " + _dem_cte("spark") + " SELECT * FROM dem")
    return flow_path_length(dem, _DEM_CELL).orderBy("gx", "gy")


# ---------------------------------------------------------------------------
# ai03 — great-circle destination points: every 7th event projected
# 100 km at one of 8 compass bearings. The constant angular-distance
# terms (sin d, cos d) and pi/180 are Python literals inlined into
# BOTH engines; per-row trig runs on identical doubles.
# ---------------------------------------------------------------------------

_GC_DIST = 100000.0
_GC_R = 6371008.8
_GC_SD = math.sin(_GC_DIST / _GC_R)
_GC_CD = math.cos(_GC_DIST / _GC_R)
_GC_RAD = math.pi / 180.0


def _ai03_pts(dialect: str) -> str:
    return """
gpts AS (
  SELECT event_id,
         CAST((event_id % 360) - 180 + 0.5 AS DOUBLE) AS lon,
         CAST(((event_id * 7) % 140) - 70 + 0.25 AS DOUBLE) AS lat,
         CAST((event_id % 8) * 45.0 AS DOUBLE) AS bearing
  FROM events WHERE event_id % 7 = 0
)"""


_AI03_ORACLE = f"""
WITH {_ai03_pts('duckdb')},
t AS (
  SELECT event_id, lon, lat, bearing,
         lat * {_GC_RAD!r} AS la, bearing * {_GC_RAD!r} AS b
  FROM gpts
),
s AS (
  SELECT event_id, lon,
         sin(la) * {_GC_CD!r} + cos(la) * {_GC_SD!r} * cos(b) AS sl2,
         la, b
  FROM t
)
SELECT event_id,
       round((lon * {_GC_RAD!r}
              + atan2(sin(b) * {_GC_SD!r} * cos(la),
                      {_GC_CD!r} - sin(la) * sl2)) / {_GC_RAD!r}, 6)
         AS lon2,
       round(asin(sl2) / {_GC_RAD!r}, 6) AS lat2
FROM s ORDER BY event_id
"""


@register("great_circle_destination", _AI03_ORACLE)
def ai_destination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.geodesy import destination_point

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    pts = spark.sql("WITH " + _ai03_pts("spark")
                    + " SELECT * FROM gpts")
    lon2, lat2 = destination_point(F.col("lon"), F.col("lat"),
                                   F.col("bearing"), _GC_DIST)
    return (pts.select("event_id",
                       F.round(lon2, 6).alias("lon2"),
                       F.round(lat2, 6).alias("lat2"))
            .orderBy("event_id"))


# ---------------------------------------------------------------------------
# ai04 — n-gram novelty curve: fraction of each doc's distinct
# 5-grams first seen in that doc (corpus ordered by doc_id). All
# counts integer; gram keys are md5 (engine-portable).
# ---------------------------------------------------------------------------

_NV_N = 5

_AI04_ORACLE = rf"""
WITH tk AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, md5(g) AS k
  FROM (SELECT doc_id,
               array_to_string(list_slice(t, CAST(i AS INT),
                               CAST(i + {_NV_N - 1} AS INT)), ' ') AS g
        FROM (SELECT doc_id, t,
                     unnest(generate_series(1, len(t) - {_NV_N - 1})) AS i
              FROM tk WHERE len(t) >= {_NV_N}))
),
fst AS (SELECT k, min(doc_id) AS f FROM grams GROUP BY k),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN f = doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel
  FROM grams JOIN fst USING (k) GROUP BY doc_id
)
SELECT doc_id, n_grams, n_novel,
       round(n_novel / CAST(n_grams AS DOUBLE), 6) AS novelty
FROM per ORDER BY doc_id
"""


@register("ngram_novelty_curve", _AI04_ORACLE)
def ai_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import ngram_novelty

    docs = _read(spark, sf_dir, "documents")
    return ngram_novelty(docs, _NV_N).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ai05 — Simple Good-Turing smoothed counts over the corpus unigram
# frequency spectrum: log-log least-squares fit, r* per observed r.
# The fit coefficient b is a scalar (driver-side in the engine,
# inline CTE in the oracle); round-6 absorbs the sums' ulp drift.
# ---------------------------------------------------------------------------

_AI05_ORACLE = rf"""
WITH tf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS r
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents)
  WHERE w <> '' GROUP BY w
),
spec AS (SELECT r, CAST(count(*) AS BIGINT) AS s FROM tf GROUP BY r),
pts AS (SELECT r, s, ln(CAST(r AS DOUBLE)) AS x,
               ln(CAST(s AS DOUBLE)) AS y FROM spec),
st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
              sum(x * x) AS sxx, sum(x * y) AS sxy FROM pts),
bb AS (SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b FROM st)
SELECT r, s AS s_r,
       round((CAST(r AS DOUBLE) + 1.0)
             * exp(bb.b * (ln(CAST(r AS DOUBLE) + 1.0)
                           - ln(CAST(r AS DOUBLE)))), 6) AS r_star
FROM spec CROSS JOIN bb
ORDER BY r
"""


@register("good_turing_smoothing", _AI05_ORACLE)
def ai_goodturing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import good_turing

    docs = _read(spark, sf_dir, "documents")
    return good_turing(docs).orderBy("r")
