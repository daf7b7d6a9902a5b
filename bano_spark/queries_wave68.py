"""Wave-68 driver queries: (1) minimum spanning forest of the EXACT
k-NN graph over the clustered dense-point fixture — the
single-linkage clustering backbone, distributed Boruvka in the engine
vs sequential Kruskal replayed in one DuckDB recursive CTE; (2)
Anderson-Darling uniformity statistic per event type (tail-sensitive
GOF, the upgrade of the registry's KS distance); (3) Durbin-Watson
residual autocorrelation per user over the level-shift series fixture
(the un-modeled +300 step leaves strongly positive lag-1 residual
correlation, DW << 2).

Float parity: the MST is all-integer (exact squared distances x 2^32
+ 32 md5 tiebreak bits -> distinct BIGINT weights -> unique MST); AD
sums ln terms whose tied-rank contributions are permutation-invariant
(coefficient blocks multiply equal ln x), absorbed at 6 dp; DW's
moment sums are exact integer arithmetic so slope/intercept divide
bit-identically, only final sum order differs (6 dp)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# ca01 — MST of the exact 4-NN graph (single-linkage backbone).
# ---------------------------------------------------------------------------

_CA01_ORACLE = f"""
WITH RECURSIVE d AS ({synth.dense_points_select_sql('duckdb')}),
pairs AS (
  SELECT a.event_id AS id, b.event_id AS nid,
         CAST((a.x - b.x) * (a.x - b.x)
              + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS d2
  FROM d a JOIN d b ON a.event_id <> b.event_id),
knn AS (
  SELECT id, nid, d2 FROM (
    SELECT id, nid, d2,
           row_number() OVER (PARTITION BY id ORDER BY d2, nid) AS rk
    FROM pairs) WHERE rk <= 4),
eu AS (
  SELECT DISTINCT least(id, nid) AS u, greatest(id, nid) AS v, d2
  FROM knn),
ew AS MATERIALIZED (
  SELECT u, v, d2,
         d2 * 4294967296
         + CAST(CAST(concat('0x', substr(md5(
               CAST(u AS VARCHAR) || '|' || CAST(v AS VARCHAR)), 1, 8))
             AS UBIGINT) % 4294967296 AS BIGINT) AS w,
         CAST(row_number() OVER (ORDER BY
           d2 * 4294967296
           + CAST(CAST(concat('0x', substr(md5(
                 CAST(u AS VARCHAR) || '|' || CAST(v AS VARCHAR)), 1, 8))
               AS UBIGINT) % 4294967296 AS BIGINT)) AS INT) AS rn
  FROM eu),
nodes AS (SELECT DISTINCT h FROM (
  SELECT u AS h FROM ew UNION ALL SELECT v FROM ew)),
ne AS (SELECT CAST(count(*) AS INT) AS m FROM ew),
kr AS (
  SELECT 0 AS step,
         (SELECT list([h, h]) FROM nodes) AS labels,
         CAST([] AS BIGINT[][]) AS mst
  UNION ALL
  SELECT q.step + 1,
         CASE WHEN q.cu <> q.cv
              THEN list_transform(q.labels,
                     p -> CASE WHEN p[2] = q.cv
                          THEN [p[1], q.cu] ELSE p END)
              ELSE q.labels END,
         CASE WHEN q.cu <> q.cv
              THEN list_append(q.mst, [q.eu, q.ev, q.w])
              ELSE q.mst END
  FROM (
    SELECT kr.step, kr.labels, kr.mst, e.u AS eu, e.v AS ev, e.w,
           list_filter(kr.labels, p -> p[1] = e.u)[1][2] AS cu,
           list_filter(kr.labels, p -> p[1] = e.v)[1][2] AS cv
    FROM kr JOIN ew e ON e.rn = kr.step + 1
  ) q, ne
  WHERE q.step < ne.m
),
fin AS (SELECT unnest(mst) AS e FROM kr, ne WHERE step = ne.m)
SELECT e[1] AS u, e[2] AS v, e[3] // 4294967296 AS d2, e[3] AS w
FROM fin ORDER BY w
"""


@register("knn_mst_forest", _CA01_ORACLE)
def q_knn_mst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import knn_spanning_forest

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    pts = spark.sql(synth.dense_points_select_sql("spark"))
    return knn_spanning_forest(pts, k=4, cell=250.0)


# ---------------------------------------------------------------------------
# ca02 — Anderson-Darling uniformity per event type. The 'click' group
# gets a squared-rank transform (mass concentrates low) so its A^2
# explodes while the untouched groups sit near the uniform null.
# ---------------------------------------------------------------------------

def _ad_fixture_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return f"""
SELECT event_type AS g,
       (CAST(CASE WHEN event_type = 'click'
             THEN (k * k){d}100000 ELSE k END AS DOUBLE) + 0.5)
       / 100000.0 AS x
FROM (SELECT event_type,
             ((event_id * 2654435761 + 11) % 2147483648) % 100000 AS k
      FROM events)
"""


_CA02_ORACLE = f"""
WITH x AS ({_ad_fixture_sql('duckdb')}),
r AS (
  SELECT g, x,
         row_number() OVER (PARTITION BY g ORDER BY x) AS i,
         count(*) OVER (PARTITION BY g) AS nn
  FROM x),
a AS (
  SELECT g, CAST(count(*) AS DOUBLE) AS n,
         sum((2 * i - 1) * ln(x)) AS s_lo,
         sum((2 * (nn - i) + 1) * ln(1 - x)) AS s_hi
  FROM r GROUP BY g)
SELECT g AS event_type, CAST(n AS BIGINT) AS n,
       CAST(0 AS BIGINT) AS n_out_of_bounds,
       round(-n - (s_lo + s_hi) / n, 6) AS a_squared
FROM a ORDER BY event_type
"""


@register("anderson_darling_uniformity", _CA02_ORACLE)
def q_ad_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import anderson_darling_uniform

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    x = spark.sql(_ad_fixture_sql("spark"))
    return anderson_darling_uniform(x, "g", "x").withColumnRenamed(
        "g", "event_type")


# ---------------------------------------------------------------------------
# ca03 — Durbin-Watson over per-user OLS residuals of v ~ seq.
# ---------------------------------------------------------------------------

_CA03_ORACLE = f"""
WITH s AS ({synth.series_select_sql('duckdb')}),
m AS (
  SELECT user_id AS g, CAST(count(*) AS DOUBLE) AS n,
         sum(CAST(seq AS DOUBLE)) AS sx, sum(v) AS sy,
         sum(CAST(seq AS DOUBLE) * seq) AS sxx,
         sum(CAST(seq AS DOUBLE) * v) AS sxy
  FROM s GROUP BY user_id),
c AS (
  SELECT g, n,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b
  FROM m),
c2 AS (
  SELECT c.g, c.n, c.b, (m.sy - c.b * m.sx) / c.n AS a
  FROM c JOIN m ON c.g = m.g),
r AS (
  SELECT s.user_id AS g, s.seq,
         s.v - c2.a - c2.b * s.seq AS e
  FROM s JOIN c2 ON s.user_id = c2.g),
l AS (
  SELECT g, e, lag(e) OVER (PARTITION BY g ORDER BY seq) AS ep
  FROM r),
f AS (
  SELECT g, sum(e * e) AS sse,
         sum(CASE WHEN ep IS NOT NULL
             THEN (e - ep) * (e - ep) END) AS sdd,
         count(*) AS n
  FROM l GROUP BY g)
SELECT g AS user_id, CAST(n AS BIGINT) AS n,
       round(sdd / sse, 6) AS dw
FROM f ORDER BY user_id
"""


@register("durbin_watson_residuals", _CA03_ORACLE)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import durbin_watson

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    s = spark.sql(synth.series_select_sql("spark"))
    return durbin_watson(s, "user_id", ["seq"], "seq", "v")
