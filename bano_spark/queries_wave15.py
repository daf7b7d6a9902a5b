"""Wave-15 driver queries: the terrain/space-time-statistics layer —
linear referencing (route chainage), Horn slope/aspect over a sparse
DEM, exact supercover rasterization of segments (the way-level
expire-tiles expansion), per-period Getis-Ord Gi*, emerging-hot-spot
categories (Gi* x Mann-Kendall space-time cube), and the Kulldorff
spatial scan statistic.

Reference anchors: chainage generalizes the reference's
closest-point-on-street rapprochement (bano/models.py Adresse.voie
matching); supercover completes expire_tiles for WAY edits (ref
bano/expire_tiles.py walks point buffers only); the scan statistics
extend the commune hot-spot family (getis_ord_hotspots, wave 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# aa01 — route chainage (linear referencing): project each GPS point
# onto ITS OWN route and return the distance along the route to the
# snapped point (PostGIS ST_LineLocatePoint * ST_Length as a key
# join). Fixture: trajectories (first 10 pings per user) are the
# routes; the probe points are the routes' own interior vertices
# displaced by small deterministic integer offsets, so every route
# matches only its own points. Oracle: the identical clamped
# projection + running-length arithmetic, winner by (d2, seq).
# ---------------------------------------------------------------------------

_CH_R = 10


def _chainage_routes_cte(dialect: str) -> str:
    t = synth.traj_select_sql(dialect)
    return (f"t AS ({t}), "
            f"routes AS (SELECT user_id AS route_id, seq, x, y FROM t "
            f"WHERE seq <= {_CH_R}), "
            "pts AS (SELECT route_id, "
            "CAST(route_id * 1000 + seq AS BIGINT) AS event_id, "
            "x + (seq * 7) % 13 - 6 AS x, y + (seq * 11) % 17 - 8 AS y "
            f"FROM routes WHERE seq >= 2 AND seq <= {_CH_R - 1})")


_AA01_ORACLE = f"""
WITH {_chainage_routes_cte('duckdb')},
segs AS (
  SELECT route_id, seq, x AS vx, y AS vy,
         lead(x) OVER w AS nx, lead(y) OVER w AS ny
  FROM routes WINDOW w AS (PARTITION BY route_id ORDER BY seq)
),
sl AS (
  SELECT *, sqrt((nx - vx) * (nx - vx) + (ny - vy) * (ny - vy)) AS len
  FROM segs WHERE nx IS NOT NULL
),
sc AS (
  SELECT *, sum(len) OVER (PARTITION BY route_id ORDER BY seq) - len
            AS chain0
  FROM sl
),
cand AS (
  SELECT p.event_id, p.route_id, s.seq, s.chain0, s.len,
         s.vx, s.vy, s.nx - s.vx AS dx, s.ny - s.vy AS dy,
         p.x AS px, p.y AS py,
         (s.nx - s.vx) * (s.nx - s.vx)
           + (s.ny - s.vy) * (s.ny - s.vy) AS d2seg
  FROM pts p JOIN sc s ON s.route_id = p.route_id
),
proj AS (
  SELECT *, least(greatest(CASE WHEN d2seg > 0
               THEN ((px - vx) * dx + (py - vy) * dy) / d2seg
               ELSE 0.0 END, 0.0), 1.0) AS tc
  FROM cand
),
scored AS (
  SELECT event_id, route_id, seq, chain0 + tc * len AS chain,
         vx + tc * dx AS sx, vy + tc * dy AS sy,
         (px - (vx + tc * dx)) * (px - (vx + tc * dx))
           + (py - (vy + tc * dy)) * (py - (vy + tc * dy)) AS d2
  FROM proj
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY event_id, route_id
                               ORDER BY d2, seq) AS rk
  FROM scored
)
SELECT event_id, route_id, round(sqrt(d2), 6) AS dist_m,
       round(chain, 6) AS chainage_m,
       round(sx, 6) AS snap_x, round(sy, 6) AS snap_y
FROM best WHERE rk = 1 ORDER BY event_id
"""


@register("route_chainage", _AA01_ORACLE)
def aa_chainage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.mapmatch import route_chainage

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    routes = spark.sql("WITH " + _chainage_routes_cte("spark")
                       + " SELECT * FROM routes")
    pts = spark.sql("WITH " + _chainage_routes_cte("spark")
                    + " SELECT * FROM pts")
    return route_chainage(pts, routes).orderBy("event_id")


# ---------------------------------------------------------------------------
# aa02 — Horn slope/aspect over a sparse DEM. Fixture: an integer
# DEM lattice derived from doc_id (24-wide rows, deterministic
# integer elevation, nodata holes at doc_id % 53 = 7 to exercise the
# interior-only drop). Oracle: the textbook 8-neighbor VALUES join
# with the weights applied AT the neighbor's relative position.
# ---------------------------------------------------------------------------

_DEM_CELL = 30.0


def _dem_cte(dialect: str) -> str:
    fl = ("CAST(floor(doc_id / 24.0) AS BIGINT)" if dialect == "duckdb"
          else "CAST(doc_id div 24 AS BIGINT)")
    return ("dem AS (SELECT CAST(doc_id % 24 AS BIGINT) AS gx, "
            f"{fl} AS gy, "
            "CAST((doc_id * 37) % 101 AS BIGINT) - 50 AS z "
            "FROM documents WHERE doc_id < 1200 AND doc_id % 53 <> 7)")


_AA02_ORACLE = f"""
WITH {_dem_cte('duckdb')},
offs(dx, dy, wx, wy) AS (VALUES
  (1, 1, 1, 1), (1, 0, 2, 0), (1, -1, 1, -1),
  (-1, 1, -1, 1), (-1, 0, -2, 0), (-1, -1, -1, -1),
  (0, 1, 0, 2), (0, -1, 0, -2)),
nb AS (
  SELECT c.gx, c.gy, n.z * o.wx AS cx, n.z * o.wy AS cy
  FROM dem c JOIN offs o ON TRUE
  JOIN dem n ON n.gx = c.gx + o.dx AND n.gy = c.gy + o.dy
),
sums AS (
  SELECT gx, gy, sum(cx) AS sx, sum(cy) AS sy, count(*) AS m
  FROM nb GROUP BY gx, gy HAVING count(*) = 8
),
grad AS (
  SELECT gx, gy, CAST(sx AS DOUBLE) / (8.0 * {_DEM_CELL}) AS gxv,
         CAST(sy AS DOUBLE) / (8.0 * {_DEM_CELL}) AS gyv
  FROM sums
),
ang AS (
  SELECT gx, gy, gxv, gyv,
         atan(sqrt(gxv * gxv + gyv * gyv)) * (180.0 / pi()) AS sl,
         atan2(gyv, gxv) * (180.0 / pi()) AS asp
  FROM grad
)
SELECT gx, gy, round(gxv, 6) AS dz_dx, round(gyv, 6) AS dz_dy,
       round(sl, 6) AS slope_deg,
       round(CASE WHEN asp < 0 THEN asp + 360.0 ELSE asp END, 6)
         AS aspect_deg
FROM ang ORDER BY gx, gy
"""


@register("dem_slope_aspect", _AA02_ORACLE)
def aa_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import slope_aspect

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    dem = spark.sql("WITH " + _dem_cte("spark") + " SELECT * FROM dem")
    return slope_aspect(dem, _DEM_CELL).orderBy("gx", "gy")


# ---------------------------------------------------------------------------
# aa03 — exact supercover rasterization: every 250 m grid cell each
# street segment passes through, via the crossing-parameter set
# algebra (no traversal loop). Oracle: the identical formulation in
# DuckDB list algebra — both engines sort the same exact doubles, so
# the midpoint floors agree bitwise.
# ---------------------------------------------------------------------------

_SC_CELL = 250.0


def _sc_crossings_duckdb(p0: str, dp: str) -> str:
    g = _SC_CELL
    lo = f"CAST(ceil(least({p0}, {p0} + {dp}) / {g}) AS BIGINT)"
    hi = f"CAST(floor(greatest({p0}, {p0} + {dp}) / {g}) AS BIGINT)"
    return (f"CASE WHEN {dp} <> 0 AND {lo} <= {hi} THEN "
            f"list_transform(range({lo}, {hi} + 1), "
            f"k -> (k * {g} - {p0}) / {dp}) "
            f"ELSE CAST([] AS DOUBLE[]) END")


_AA03_ORACLE = f"""
WITH segs AS ({synth.segments_select_sql('duckdb')}),
s AS (SELECT seg_id, x1, y1, x2 - x1 AS dx, y2 - y1 AS dy FROM segs),
ts AS (
  SELECT seg_id, x1, y1, dx, dy,
         unnest(list_filter(
           [0.0, 1.0] || {_sc_crossings_duckdb('x1', 'dx')}
                      || {_sc_crossings_duckdb('y1', 'dy')},
           t -> t >= 0.0 AND t <= 1.0)) AS t
  FROM s
),
iv AS (
  SELECT *, lead(t) OVER (PARTITION BY seg_id ORDER BY t) AS tn
  FROM ts
),
mid AS (SELECT seg_id, x1, y1, dx, dy, (t + tn) / 2 AS tm
        FROM iv WHERE tn IS NOT NULL AND tn > t)
SELECT DISTINCT seg_id,
       CAST(floor((x1 + tm * dx) / {_SC_CELL}) AS BIGINT) AS cx,
       CAST(floor((y1 + tm * dy) / {_SC_CELL}) AS BIGINT) AS cy
FROM mid ORDER BY seg_id, cx, cy
"""


@register("segment_supercover", _AA03_ORACLE)
def aa_supercover(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import segment_supercover

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    segs = spark.sql(synth.segments_select_sql("spark"))
    return (segment_supercover(segs, _SC_CELL)
            .orderBy("seg_id", "cx", "cy"))


# ---------------------------------------------------------------------------
# Shared space-time fixture for aa04/aa05/aa06: daily event counts on
# the 20 km lattice — the same construction mann_kendall_cells
# (wave 13) gates, restated here with the day kept as a string so the
# hash compare is dialect-neutral.
# ---------------------------------------------------------------------------


def _st_cells_cte(dialect: str) -> str:
    p = synth.points_select_sql(dialect)
    fl = "floor(p.x / 20000.0)" if dialect == "duckdb" else \
         "floor(p.x / 20000.0)"
    return (f"p AS ({p}), "
            "e AS (SELECT event_id, CAST(ts AS DATE) AS day FROM events), "
            f"cells AS (SELECT CAST({fl} AS BIGINT) AS cx, "
            "CAST(floor(p.y / 20000.0) AS BIGINT) AS cy, e.day "
            "FROM p JOIN e ON e.event_id = p.event_id), "
            "cnt AS (SELECT cx, cy, day, CAST(count(*) AS BIGINT) AS v "
            "FROM cells GROUP BY cx, cy, day)")


def _st_cells_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    return spark.sql("WITH " + _st_cells_cte("spark")
                     + " SELECT * FROM cnt")


# Gi* per (cell, period) as a CTE body (shared by aa04 and aa05);
# emits gi(cx, cy, day, gi_z) with gi_z UNROUNDED.
_GI_CTES = """
mom AS (
  SELECT day, count(*) AS n, sum(v) AS sv, sum(v * v) AS svv
  FROM cnt GROUP BY day HAVING count(*) >= 2
),
mom2 AS (
  SELECT day, n, CAST(sv AS DOUBLE) / n AS mean,
         sqrt(CAST(svv AS DOUBLE) / n
              - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n)) AS s
  FROM mom
),
mom3 AS (SELECT * FROM mom2 WHERE s > 0),
goffs(dx, dy) AS (VALUES (-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 0),
                         (0, 1), (1, -1), (1, 0), (1, 1)),
gcontrib AS (
  SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy, c.day, c.v
  FROM cnt c JOIN goffs o ON TRUE
),
grings AS (
  SELECT cx, cy, day, sum(v) AS si, count(*) AS mi
  FROM gcontrib GROUP BY cx, cy, day
),
gi AS (
  SELECT r.cx, r.cy, r.day,
         (r.si - m.mean * CAST(r.mi AS DOUBLE))
           / (m.s * sqrt((CAST(m.n AS DOUBLE) * CAST(r.mi AS DOUBLE)
                          - CAST(r.mi AS DOUBLE) * CAST(r.mi AS DOUBLE))
                         / (CAST(m.n AS DOUBLE) - 1))) AS gi_z
  FROM grings r
  JOIN cnt oc ON oc.cx = r.cx AND oc.cy = r.cy AND oc.day = r.day
  JOIN mom3 m ON m.day = r.day
  WHERE r.mi < m.n
)"""


_AA04_ORACLE = f"""
WITH {_st_cells_cte('duckdb')},
{_GI_CTES}
SELECT cx, cy, CAST(day AS VARCHAR) AS day, round(gi_z, 6) AS gi_z
FROM gi ORDER BY cx, cy, day
"""


@register("getis_ord_grid_periods", _AA04_ORACLE)
def aa_getis_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import getis_ord_grid_by

    cnt = _st_cells_df(spark, sf_dir)
    out = getis_ord_grid_by(cnt, val_col="v")
    return (out.select("cx", "cy", F.col("day").cast("string").alias("day"),
                       F.round("gi_z", 6).alias("gi_z"))
            .orderBy("cx", "cy", "day"))


# ---------------------------------------------------------------------------
# aa05 — emerging hot spots: Mann-Kendall over each cell's UNROUNDED
# Gi* series + the last period's z, classified into the five
# categories decidable from the two statistics. The oracle restates
# the whole composition (Gi* CTEs above + the wave-13 Mann-Kendall
# algebra + the category CASE) — both engines compare the same exact
# doubles, so sign/tie decisions agree bitwise.
# ---------------------------------------------------------------------------

_AA05_ORACLE = f"""
WITH {_st_cells_cte('duckdb')},
{_GI_CTES},
mks AS (
  SELECT a.cx, a.cy, CAST(sum(sign(b.gi_z - a.gi_z)) AS BIGINT) AS s
  FROM gi a JOIN gi b ON b.cx = a.cx AND b.cy = a.cy AND a.day < b.day
  GROUP BY a.cx, a.cy
),
mkn AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS n_periods
        FROM gi GROUP BY cx, cy),
mkt AS (
  SELECT cx, cy,
         sum(CAST(tn AS DOUBLE) * (tn - 1) * (2 * tn + 5)) AS tie
  FROM (SELECT cx, cy, gi_z, count(*) AS tn
        FROM gi GROUP BY cx, cy, gi_z)
  GROUP BY cx, cy
),
mkv AS (
  SELECT s.cx, s.cy, n.n_periods, s.s,
         (CAST(n.n_periods AS DOUBLE) * (n.n_periods - 1)
          * (2 * n.n_periods + 5) - t.tie) / 18.0 AS vs
  FROM mks s
  JOIN mkn n ON n.cx = s.cx AND n.cy = s.cy
  JOIN mkt t ON t.cx = s.cx AND t.cy = s.cy
  WHERE n.n_periods >= 3
),
mk AS (
  SELECT cx, cy, n_periods,
         CASE WHEN vs <= 0 THEN 0.0
              WHEN s > 0 THEN (s - 1) / sqrt(vs)
              WHEN s < 0 THEN (s + 1) / sqrt(vs)
              ELSE 0.0 END AS z
  FROM mkv
),
lastz AS (SELECT cx, cy, arg_max(gi_z, day) AS zlast
          FROM gi GROUP BY cx, cy)
SELECT mk.cx, mk.cy, mk.n_periods,
       round(mk.z, 6) AS trend_z, round(l.zlast, 6) AS last_z,
       CASE WHEN l.zlast >= 1.645 AND mk.z > 1.645 THEN 'intensifying'
            WHEN l.zlast >= 1.645 AND mk.z < -1.645 THEN 'diminishing'
            WHEN l.zlast >= 1.645 THEN 'persistent'
            WHEN mk.z > 1.645 THEN 'emerging'
            ELSE 'none' END AS category
FROM mk JOIN lastz l ON l.cx = mk.cx AND l.cy = mk.cy
ORDER BY mk.cx, mk.cy
"""


@register("emerging_hotspots", _AA05_ORACLE)
def aa_emerging(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import emerging_hotspots

    cnt = _st_cells_df(spark, sf_dir)
    return (emerging_hotspots(cnt, val_col="v")
            .orderBy("cx", "cy"))


# ---------------------------------------------------------------------------
# aa06 — Kulldorff spatial scan statistic over total event counts on
# the 20 km lattice: Poisson LLR per (center, Chebyshev radius 0..2)
# window under the CSR null, top 5 windows. Oracle: the relational
# restatement with an explicit offset table per radius.
# ---------------------------------------------------------------------------

_AA06_OFFS = ", ".join(
    f"({rho}, {dx}, {dy})"
    for rho in range(3)
    for dx in range(-rho, rho + 1) for dy in range(-rho, rho + 1))

_AA06_ORACLE = f"""
WITH {_st_cells_cte('duckdb')},
cellv AS (SELECT cx, cy, CAST(sum(v) AS BIGINT) AS v
          FROM cnt GROUP BY cx, cy),
tot AS (SELECT CAST(sum(v) AS BIGINT) AS nn,
               CAST(count(*) AS BIGINT) AS mm FROM cellv),
koffs(rho, dx, dy) AS (VALUES {_AA06_OFFS}),
contrib AS (
  SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy, o.rho, c.v
  FROM cellv c JOIN koffs o ON TRUE
),
wins AS (
  SELECT w.cx, w.cy, w.rho, CAST(sum(w.v) AS BIGINT) AS n_in,
         CAST(count(*) AS BIGINT) AS m_in
  FROM contrib w JOIN cellv oc ON oc.cx = w.cx AND oc.cy = w.cy
  GROUP BY w.cx, w.cy, w.rho
),
sc AS (
  SELECT cx, cy, rho, n_in, m_in,
         CAST(n_in AS DOUBLE) AS n, CAST(t.nn AS DOUBLE) AS dnn,
         CAST(t.nn AS DOUBLE) * m_in / t.mm AS mu
  FROM wins, tot t
),
llr AS (
  SELECT cx, cy, rho, n_in, m_in AS m_cells,
         CASE WHEN n > mu THEN
           n * ln(n / mu)
           + (CASE WHEN dnn - n > 0
                   THEN (dnn - n) * ln((dnn - n) / (dnn - mu))
                   ELSE 0.0 END)
         ELSE 0.0 END AS v
  FROM sc
)
SELECT cx, cy, rho, n_in, m_cells, round(v, 6) AS llr
FROM llr ORDER BY round(v, 6) DESC, cx, cy, rho LIMIT 5
"""


@register("kulldorff_scan", _AA06_ORACLE)
def aa_kulldorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import kulldorff_scan

    cnt = _st_cells_df(spark, sf_dir)
    cellv = cnt.groupBy("cx", "cy").agg(F.sum("v").alias("v"))
    return kulldorff_scan(cellv, max_radius=2, top=5)
