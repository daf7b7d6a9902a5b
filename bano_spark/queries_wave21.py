"""Wave-21 driver queries: ST-DBSCAN (space-time density clustering —
the temporal axis prunes INSIDE candidate generation), raster region
dissolve statistics (area/perimeter/compactness with shared-edge
cancellation), topographic wetness index (the D8-accumulation x
Horn-gradient composite, trig-free), the Knox space-time interaction
test (marginal vs joint close-pair counts), Dunning log-likelihood
collocations (the count-robust PMI alternative), and host mirror
detection (content-set Jaccard over md5 hashes, pairs generated only
from shared content).

Reference anchors: ST-DBSCAN and Knox extend the spatial-stats family
(dbscan_chains, getis/kulldorff) with the time axis; region stats
complete raster_region_group with the dissolve rollup every zonal
workflow runs next; TWI composes the wave-15/16 terrain operators;
LLR and mirrors extend the keyword and dedup families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.queries_wave15 import _DEM_CELL, _dem_cte
from bano_spark.queries_wave16 import _D8_DIR_CTES
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# ag01 — ST-DBSCAN over the dbscan_chains fixture EXTENDED with a
# time axis: even-anchor chains tick every 100 s (inside eps_t = 250
# for +-2 slots — the spatial neighborhood survives), odd-anchor
# chains tick every 1000 s (every point temporally isolated -> all
# noise, even where the pure-spatial dbscan clusters them). The
# oracle states the closed-form roles directly, like w129.
# ---------------------------------------------------------------------------


def _ag01_pts(dialect: str) -> str:
    return """
slots AS (
  SELECT DISTINCT event_id % 12 AS a, event_id % 7 AS k
  FROM events WHERE event_id % 7 < 3 + (event_id % 12) % 5
),
pts AS (
  SELECT a * 100 + k AS id,
         1000000.0 + a * 10000.0 + k * 25.0 AS x,
         2000000.0 AS y,
         CAST(k * (CASE WHEN a % 2 = 0 THEN 100 ELSE 1000 END)
              AS DOUBLE) AS t,
         a, k, 3 + (a % 5) AS L
  FROM slots
)"""


_AG01_ORACLE = f"""
WITH {_ag01_pts('duckdb')},
sized AS (
  SELECT id, a, k, L,
         CASE WHEN a % 2 = 0
              THEN least(k + 2, L - 1) - greatest(k - 2, 0) + 1
              ELSE 1 END AS nsize
  FROM pts
),
cores AS (SELECT * FROM sized WHERE nsize >= 5),
labels AS (SELECT a, min(id) AS cl FROM cores GROUP BY a)
SELECT s.id,
       CASE WHEN s.nsize >= 5 THEN 'core'
            WHEN EXISTS (SELECT 1 FROM cores c
                         WHERE c.a = s.a AND abs(c.k - s.k) <= 2)
                 THEN 'border'
            ELSE 'noise' END AS role,
       CASE WHEN s.nsize >= 5 OR EXISTS (SELECT 1 FROM cores c
                 WHERE c.a = s.a AND abs(c.k - s.k) <= 2)
            THEN l.cl END AS cluster
FROM sized s LEFT JOIN labels l ON l.a = s.a
ORDER BY s.id
"""


@register("st_dbscan_chains", _AG01_ORACLE)
def ag_stdbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.clustering import st_dbscan

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    pts = spark.sql("WITH " + _ag01_pts("spark")
                    + " SELECT id, x, y, t FROM pts")
    return st_dbscan(pts, 60.0, 250.0, 5).orderBy("id")


# ---------------------------------------------------------------------------
# ag02 — dissolve statistics over region-grouped stripes: a full
# 40x12 lattice (the documents table holds 500 rows at every sf <=
# 0.01 — 480 fills the rectangle) classed into 8 width-5 stripes
# cycling 3 classes, so
# class 0 owns THREE disconnected stripes (distinct regions, same
# class). Engine: raster_regions -> region_stats (shared-edge
# cancellation); oracle: the closed-form stripe geometry.
# ---------------------------------------------------------------------------


def _ag02_cells(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return (f"cells AS (SELECT CAST(doc_id % 40 AS BIGINT) AS gx, "
            f"CAST(doc_id{d}40 AS BIGINT) AS gy, "
            f"CAST((doc_id % 40){d}5 % 3 AS BIGINT) AS cls "
            f"FROM documents WHERE doc_id < 480)")


_AG02_ORACLE = f"""
WITH {_ag02_cells('duckdb')},
stripes AS (SELECT DISTINCT cls, (gx // 5) * 5 AS region_gx FROM cells)
SELECT cls, region_gx, CAST(0 AS BIGINT) AS region_gy,
       CAST(60 AS BIGINT) AS area_cells,
       CAST(34 AS BIGINT) AS perimeter,
       round(16.0 * 60 / (34.0 * 34.0), 6) AS iso_quotient
FROM stripes ORDER BY cls, region_gx
"""


@register("region_perimeter_stats", _AG02_ORACLE)
def ag_regionstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import raster_regions, region_stats

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    cells = spark.sql("WITH " + _ag02_cells("spark")
                      + " SELECT * FROM cells")
    lab = raster_regions(cells)
    return (region_stats(lab)
            .orderBy("cls", "region_gx"))


# ---------------------------------------------------------------------------
# ag03 — topographic wetness index over the wave-15 DEM: the
# composite ln(acc * cell / |grad|) joins the D8 recursive-walk
# accumulation oracle with the Horn gradient oracle; tan(atan(m)) = m
# keeps it trig-free, ln is the single libm call.
# ---------------------------------------------------------------------------

_AG03_ORACLE = f"""
WITH RECURSIVE {_dem_cte('duckdb')},
{_D8_DIR_CTES},
edges AS (
  SELECT d.gx, d.gy, d.gx + o.dx AS tx, d.gy + o.dy AS ty
  FROM dirs d JOIN offs o ON o.code = d.dir
  WHERE d.dir <> 0
),
walk(cx, cy) AS (
  SELECT gx, gy FROM dem
  UNION ALL
  SELECT e.tx, e.ty FROM walk w
  JOIN edges e ON e.gx = w.cx AND e.gy = w.cy
),
acc AS (SELECT cx AS gx, cy AS gy, CAST(count(*) AS BIGINT) AS acc
        FROM walk GROUP BY cx, cy),
hoffs(dx, dy, wx, wy) AS (VALUES
  (1, 1, 1, 1), (1, 0, 2, 0), (1, -1, 1, -1),
  (-1, 1, -1, 1), (-1, 0, -2, 0), (-1, -1, -1, -1),
  (0, 1, 0, 2), (0, -1, 0, -2)),
hnb AS (
  SELECT c.gx, c.gy, n.z * o.wx AS cx, n.z * o.wy AS cy
  FROM dem c JOIN hoffs o ON TRUE
  JOIN dem n ON n.gx = c.gx + o.dx AND n.gy = c.gy + o.dy
),
hsums AS (
  SELECT gx, gy, sum(cx) AS sx, sum(cy) AS sy, count(*) AS m
  FROM hnb GROUP BY gx, gy HAVING count(*) = 8
),
grad AS (
  SELECT gx, gy,
         sqrt((CAST(sx AS DOUBLE) / (8.0 * {_DEM_CELL}))
              * (CAST(sx AS DOUBLE) / (8.0 * {_DEM_CELL}))
              + (CAST(sy AS DOUBLE) / (8.0 * {_DEM_CELL}))
              * (CAST(sy AS DOUBLE) / (8.0 * {_DEM_CELL}))) AS tanb
  FROM hsums
)
SELECT acc.gx, acc.gy, acc.acc,
       round(ln(acc.acc * {_DEM_CELL} / grad.tanb), 6) AS twi
FROM acc JOIN grad ON grad.gx = acc.gx AND grad.gy = acc.gy
WHERE grad.tanb > 0
ORDER BY 1, 2
"""


@register("topographic_wetness", _AG03_ORACLE)
def ag_twi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import topographic_wetness

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    dem = spark.sql("WITH " + _dem_cte("spark") + " SELECT * FROM dem")
    return topographic_wetness(dem, _DEM_CELL).orderBy("gx", "gy")


# ---------------------------------------------------------------------------
# ag04 — Knox space-time interaction over a 5000-point sample of the
# event stream (deterministic id filter): marginal space-close and
# time-close pair counts vs the joint count, ratio to independence
# expectation. Engine: three bounded ring joins (2-D, 1-D, 3-D);
# oracle: the brute cross join the rings never materialize.
# ---------------------------------------------------------------------------

_KX_D = 500.0
_KX_T = 600.0


def _ag04_pts(dialect: str) -> str:
    from bano_spark import synth

    psql = synth.points_select_sql(dialect).strip()
    ep = ("(epoch(CAST(e.ts AS DATE)) + hour(e.ts) * 3600 "
          "+ minute(e.ts) * 60 + CAST(date_part('second', e.ts) "
          "AS BIGINT))" if dialect == "duckdb"
          else "(datediff(to_date(e.ts), DATE '1970-01-01') * 86400L "
               "+ hour(e.ts) * 3600 + minute(e.ts) * 60 + second(e.ts))")
    return f"""
p0 AS ({psql}),
kpts AS (
  SELECT p0.event_id AS id, p0.x, p0.y, CAST({ep} AS DOUBLE) AS t
  FROM p0 JOIN events e ON e.event_id = p0.event_id
  WHERE p0.event_id % 3 = 0
)"""


_AG04_ORACLE = f"""
WITH {_ag04_pts('duckdb')},
prs AS (
  SELECT a.id, b.id AS idb,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2,
         abs(a.t - b.t) AS dt
  FROM kpts a JOIN kpts b ON a.id < b.id
),
m AS (
  SELECT count(*) FILTER (d2 <= {_KX_D!r} * {_KX_D!r}) AS ns,
         count(*) FILTER (dt <= {_KX_T!r}) AS nt,
         count(*) FILTER (d2 <= {_KX_D!r} * {_KX_D!r}
                          AND dt <= {_KX_T!r}) AS nj
  FROM prs
),
n AS (SELECT count(*) AS np FROM kpts)
SELECT CAST(n.np AS BIGINT) AS n_points,
       CAST(m.ns AS BIGINT) AS n_space_pairs,
       CAST(m.nt AS BIGINT) AS n_time_pairs,
       CAST(m.nj AS BIGINT) AS n_joint_pairs,
       round(CAST(m.ns AS DOUBLE) * m.nt
             / (CAST(n.np AS DOUBLE) * (n.np - 1) / 2.0), 6) AS expected,
       round(m.nj / (CAST(m.ns AS DOUBLE) * m.nt
             / (CAST(n.np AS DOUBLE) * (n.np - 1) / 2.0)), 6)
         AS knox_ratio
FROM m CROSS JOIN n
"""


@register("knox_spacetime", _AG04_ORACLE)
def ag_knox(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import knox_test

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    pts = spark.sql("WITH " + _ag04_pts("spark")
                    + " SELECT * FROM kpts")
    return knox_test(pts, _KX_D, _KX_T)


# ---------------------------------------------------------------------------
# ag05 — Dunning LLR collocations over adjacent bigrams of the first
# 500 documents: G2 from the exact 2x2 integer contingency table,
# 0*ln(0) = 0 arms mirrored. Complements pmi_cooccurrence (windowed,
# rare-pair-skewed) with the count-robust statistic.
# ---------------------------------------------------------------------------

_LLR_DOCS = 500
_LLR_MINC = 30

_AG05_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
         generate_subscripts(string_split_regex(trim(lower(text)),
                             '\s+'), 1) AS p
  FROM documents WHERE doc_id < {_LLR_DOCS}
),
bg AS (
  SELECT a.w AS w1, b.w AS w2
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.p = a.p + 1
  WHERE a.w <> '' AND b.w <> ''
),
n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM bg),
k AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS k11 FROM bg GROUP BY 1, 2),
r AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
c AS (SELECT w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1),
j AS (
  SELECT k.w1, k.w2, k.k11, r.c1, c.c2,
         k.k11 AS a11, r.c1 - k.k11 AS a12, c.c2 - k.k11 AS a21,
         n.nn - r.c1 - c.c2 + k.k11 AS a22,
         n.nn - r.c1 AS r2, n.nn - c.c2 AS q2, n.nn
  FROM k JOIN r USING (w1) JOIN c USING (w2) CROSS JOIN n
  WHERE k.k11 >= {_LLR_MINC}
)
SELECT w1, w2, k11,
       round(2.0 * (
         (CASE WHEN a11 > 0 THEN a11 * ln(a11 / (CAST(c1 AS DOUBLE) * c2 / nn))
               ELSE 0.0 END)
       + (CASE WHEN a12 > 0 THEN a12 * ln(a12 / (CAST(c1 AS DOUBLE) * q2 / nn))
               ELSE 0.0 END)
       + (CASE WHEN a21 > 0 THEN a21 * ln(a21 / (CAST(r2 AS DOUBLE) * c2 / nn))
               ELSE 0.0 END)
       + (CASE WHEN a22 > 0 THEN a22 * ln(a22 / (CAST(r2 AS DOUBLE) * q2 / nn))
               ELSE 0.0 END)), 6) AS llr
FROM j ORDER BY w1, w2
"""


@register("bigram_llr", _AG05_ORACLE)
def ag_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import bigram_llr

    docs = _read(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _LLR_DOCS)
    return (bigram_llr(docs, min_count=_LLR_MINC)
            .orderBy("w1", "w2"))


# ---------------------------------------------------------------------------
# ag06 — host mirror detection over PLANTED mirrors (the synthetic
# corpus has no cross-host duplicate texts, so the fixture derives a
# deterministic content key per doc): 10 hosts of 50 docs; even hosts
# carry 50 contents, odd hosts the 30-content subset (jaccard 0.6),
# hosts 8-9 live in a disjoint content space (mirrors of each other
# only). Exact Jaccard landscape = {1.0 within parity, 0.6 across}.
# ---------------------------------------------------------------------------

_HM_MINJ = 0.5

def _ag06_fixture(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    c = "STRING" if dialect == "spark" else "VARCHAR"
    return (f"fx AS (SELECT 'h' || CAST(doc_id{d}50 AS {c}) AS host, "
            f"CAST(doc_id % (CASE WHEN (doc_id{d}50) % 2 = 0 "
            f"THEN 50 ELSE 30 END) + (CASE WHEN doc_id{d}50 >= 8 "
            f"THEN 1000 ELSE 0 END) AS {c}) AS ctext "
            f"FROM documents WHERE doc_id < 500)")


_AG06_ORACLE = f"""
WITH {_ag06_fixture('duckdb')},
hh AS (
  SELECT DISTINCT host AS h, md5(ctext) AS k FROM fx
),
sz AS (SELECT h, CAST(count(*) AS BIGINT) AS s FROM hh GROUP BY h),
inter AS (
  SELECT a.h AS host_a, b.h AS host_b, CAST(count(*) AS BIGINT) AS i
  FROM hh a JOIN hh b ON b.k = a.k AND a.h < b.h
  GROUP BY 1, 2
)
SELECT host_a, host_b, i AS inter_size,
       sa.s AS size_a, sb.s AS size_b,
       round(i / CAST(sa.s + sb.s - i AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.h = host_a JOIN sz sb ON sb.h = host_b
WHERE round(i / CAST(sa.s + sb.s - i AS DOUBLE), 6) >= {_HM_MINJ!r}
ORDER BY host_a, host_b
"""


@register("host_mirror_detection", _AG06_ORACLE)
def ag_mirrors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import host_mirrors

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    fx = spark.sql("WITH " + _ag06_fixture("spark")
                   + " SELECT * FROM fx")
    return (host_mirrors(fx, "host", text_col="ctext",
                         min_jaccard=_HM_MINJ)
            .orderBy("host_a", "host_b"))
