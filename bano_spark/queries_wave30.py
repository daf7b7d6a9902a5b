"""Wave-30 driver queries: rich-club coefficients on the host graph,
discrete Voronoi neighbor extraction (nearest-site raster assignment
-> rook-adjacency contact counts), the nearest-neighbor G function
(the CDF refinement of Clark-Evans), Croston intermittent-demand
forecasting (the zero-heavy sibling of Holt), and a
Johnson-Lindenstrauss projection distortion audit over the embeddings
table (the go/no-go check before running ANN on a cheap projection).

Reference anchors: rich-club extends the wave-9 link-graph family;
Voronoi adjacency is the raster->vector neighbor structure BANO's
commune tiling implies; G extends clark_evans/ripley_k; Croston
extends holt_smoothing/ewma; the JL audit guards the ANN/SemDeDup
scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.queries_wave9 import _LINKS_CTE, _links_df
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# ap01 — rich-club coefficient phi(k) of the undirected host graph at
# k in {1, 2, 3, 5, 8}: hub interconnection density among nodes of
# degree > k.
# ---------------------------------------------------------------------------

_AP_KS = [1, 2, 3, 5, 8]

_AP01_ORACLE = f"""
WITH {_LINKS_CTE},
und AS (
  SELECT DISTINCT least(src_host, dst_host) AS a,
         greatest(src_host, dst_host) AS b
  FROM edges0 WHERE src_host <> dst_host
),
deg AS (
  SELECT n, count(*) AS deg
  FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und)
  GROUP BY n
),
ks(k) AS (VALUES {", ".join(f"({k})" for k in _AP_KS)}),
club AS (SELECT ks.k, deg.n FROM ks JOIN deg ON deg.deg > ks.k),
nc AS (SELECT ks.k, count(club.n) AS n_club
       FROM ks LEFT JOIN club ON club.k = ks.k GROUP BY ks.k),
ec AS (SELECT ca.k, count(*) AS e_club
       FROM und u JOIN club ca ON ca.n = u.a
                  JOIN club cb ON cb.n = u.b AND cb.k = ca.k
       GROUP BY ca.k)
SELECT nc.k, CAST(nc.n_club AS BIGINT) AS n_club,
       CAST(coalesce(ec.e_club, 0) AS BIGINT) AS e_club,
       round(CASE WHEN nc.n_club >= 2
                  THEN CAST(2 AS DOUBLE) * coalesce(ec.e_club, 0)
                       / (nc.n_club * (nc.n_club - 1)) END, 6) AS phi
FROM nc LEFT JOIN ec ON ec.k = nc.k
ORDER BY nc.k
"""


@register("rich_club_coefficient", _AP01_ORACLE)
def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import rich_club

    edges = _links_df(spark, sf_dir).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    return rich_club(edges, _AP_KS).orderBy("k")


# ---------------------------------------------------------------------------
# ap02 — discrete Voronoi neighbors: 40x40 lattice of cell centers
# (100-unit pitch) assigned to the nearest of the 64 grid sites
# (exact doubling-ring 1-NN; max center-site distance ~283 < 500 so
# round 1 is provably global), then rook-adjacency contact counts
# between different site regions — the Voronoi neighbor graph with
# boundary lengths in cell edges.
# ---------------------------------------------------------------------------

_AP02_ORACLE = f"""
WITH sites AS ({synth.grid_nodes_select_sql('duckdb')}),
cells AS (
  SELECT CAST(i % 40 AS BIGINT) AS qx, CAST(i // 40 AS BIGINT) AS qy,
         CAST(50 + (i % 40) * 100 AS DOUBLE) AS x,
         CAST(50 + (i // 40) * 100 AS DOUBLE) AS y
  FROM (SELECT unnest(generate_series(0, 1599)) AS i)
),
d AS (
  SELECT c.qx, c.qy, s.node_id,
         row_number() OVER (
           PARTITION BY c.qx, c.qy
           ORDER BY (c.x - s.nx) * (c.x - s.nx)
                  + (c.y - s.ny) * (c.y - s.ny), s.node_id) AS rn
  FROM cells c CROSS JOIN sites s
),
asn AS (SELECT qx, qy, node_id FROM d WHERE rn = 1),
touch AS (
  SELECT a.node_id AS la, c.node_id AS lr
  FROM (SELECT qx + 1 AS qx, qy, node_id FROM asn
        UNION ALL SELECT qx, qy + 1 AS qy, node_id FROM asn) a
  JOIN asn c ON c.qx = a.qx AND c.qy = a.qy
  WHERE a.node_id <> c.node_id
)
SELECT least(la, lr) AS label_a, greatest(la, lr) AS label_b,
       CAST(count(*) AS BIGINT) AS n_edges
FROM touch GROUP BY 1, 2 ORDER BY label_a, label_b
"""


@register("voronoi_adjacency", _AP02_ORACLE)
def q_voronoi_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import label_adjacency_pairs
    from bano_spark.operators.spatialstats import nearest_site_join

    _read(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    sites = spark.sql(synth.grid_nodes_select_sql("spark")).select(
        F.col("node_id").alias("site_id"),
        F.col("nx").alias("x"), F.col("ny").alias("y"))
    cells = spark.range(1600).select(
        (F.col("id") % 40).alias("qx"),
        (F.col("id") / 40).cast("bigint").alias("qy"),
        (50 + (F.col("id") % 40) * 100).cast("double").alias("x"),
        (50 + (F.col("id") / 40).cast("bigint") * 100)
        .cast("double").alias("y"))
    asn = nearest_site_join(
        cells.withColumn("cell_id", F.col("qx") * 100 + F.col("qy")),
        sites, 500.0, point_id="cell_id")
    lab = (cells.select((F.col("qx") * 100 + F.col("qy")).alias("cell_id"),
                        "qx", "qy")
           .join(asn.select("cell_id", F.col("site_id").alias("label")),
                 "cell_id"))
    return (label_adjacency_pairs(lab)
            .orderBy("label_a", "label_b"))


# ---------------------------------------------------------------------------
# ap03 — nearest-neighbor G function over the clustered dense points
# at radii 50..250: the planted clustering pushes G far above the CSR
# expectation at small r. Engine NN distances are exact (doubling
# ring); the oracle's are the O(n^2) definitional minimum.
# ---------------------------------------------------------------------------

_AP03_RADII = [50.0, 100.0, 150.0, 200.0, 250.0]

_AP03_ORACLE = f"""
WITH p AS ({synth.dense_points_select_sql('duckdb')}),
nn AS (
  SELECT a.event_id,
         min((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS d2
  FROM p a JOIN p b ON b.event_id <> a.event_id
  GROUP BY a.event_id
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM p),
r(r) AS (VALUES {", ".join(f"(CAST({r} AS DOUBLE))" for r in _AP03_RADII)})
SELECT r.r,
       CAST(sum(CASE WHEN sqrt(nn.d2) <= r.r THEN 1 ELSE 0 END)
            AS BIGINT) AS n_le,
       round(sum(CASE WHEN sqrt(nn.d2) <= r.r THEN 1 ELSE 0 END) / n.n, 6)
         AS g
FROM nn CROSS JOIN r CROSS JOIN n
GROUP BY r.r, n.n ORDER BY r.r
"""


@register("g_function_nn", _AP03_ORACLE)
def q_g_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import g_function

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    points = spark.sql(synth.dense_points_select_sql("spark"))
    return g_function(points, 250.0, _AP03_RADII).orderBy("r")


# ---------------------------------------------------------------------------
# ap04 — Croston intermittent-demand state per user: the series
# fixture masked to ~50% zero periods, smoothed demand size and
# inter-demand interval advancing only on demand periods,
# rate forecast = z / p. Oracle: the same fold via list_reduce with a
# LIST accumulator (the DuckDB struct-accumulator trap).
# ---------------------------------------------------------------------------

_CR_A = 0.3


def _ap04_demand(dialect: str) -> str:
    base = synth.series_select_sql(dialect)
    return (f"SELECT user_id, ts, event_id, "
            f"CASE WHEN (seq * 7 + user_id) % 4 < 2 "
            f"THEN CAST(0 AS DOUBLE) ELSE v END AS y FROM ({base})")


_AP04_ORACLE = f"""
WITH d AS ({_ap04_demand('duckdb')}),
s AS (
  SELECT user_id, list(y ORDER BY ts, event_id) AS vs
  FROM d GROUP BY user_id
),
k AS (
  SELECT user_id, vs,
         list_position(list_transform(vs, x -> x > 0), true) AS kpos
  FROM s
),
f AS (
  SELECT user_id, len(vs) AS n,
         len(list_filter(vs, x -> x > 0)) AS nz,
         list_reduce(
           list_prepend(
             [vs[kpos], CAST(kpos AS DOUBLE), CAST(0 AS DOUBLE)],
             list_transform(list_slice(vs, kpos + 1, len(vs)),
                            x -> [x, CAST(0 AS DOUBLE),
                                  CAST(0 AS DOUBLE)])),
           (s, v) -> [
             CASE WHEN v[1] > 0
                  THEN CAST({_CR_A!r} AS DOUBLE) * v[1]
                       + CAST(1.0 - {_CR_A!r} AS DOUBLE) * s[1]
                  ELSE s[1] END,
             CASE WHEN v[1] > 0
                  THEN CAST({_CR_A!r} AS DOUBLE) * (s[3] + 1)
                       + CAST(1.0 - {_CR_A!r} AS DOUBLE) * s[2]
                  ELSE s[2] END,
             CASE WHEN v[1] > 0 THEN CAST(0 AS DOUBLE)
                  ELSE s[3] + 1 END]) AS st
  FROM k WHERE kpos > 0
)
SELECT user_id, CAST(n AS BIGINT) AS n_periods,
       CAST(nz AS BIGINT) AS n_demands,
       round(st[1], 6) AS demand_size, round(st[2], 6) AS interval,
       round(st[1] / st[2], 6) AS rate_forecast
FROM f ORDER BY user_id
"""


@register("croston_forecast", _AP04_ORACLE)
def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import croston_last

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    demand = spark.sql(_ap04_demand("spark"))
    return (croston_last(demand, "user_id", ["ts", "event_id"], "y",
                         alpha=_CR_A)
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# ap05 — JL projection distortion audit: project the 64-d embeddings
# to 16 dims with the deterministic +-1 sign hash, report distance
# preservation over the 780 pairs of the vec_id < 40 sample. Folds
# run in array-index order on both engines (bit-stable sums).
# ---------------------------------------------------------------------------

_JL_SIGN = ("CASE WHEN ((j * 2654435761 + d * 40503) % 97) % 2 = 0 "
            "THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END")

_AP05_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 40),
pr AS (
  SELECT vec_id, embedding,
         list_transform(generate_series(0, 15), j ->
           list_reduce(
             list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, 64), d ->
                 CAST(embedding[d] AS DOUBLE) * {_JL_SIGN})),
             (acc, x) -> acc + x)) AS p
  FROM v
),
pairs AS (
  SELECT a.embedding AS ea, b.embedding AS eb, a.p AS pa, b.p AS pb
  FROM pr a JOIN pr b ON a.vec_id < b.vec_id
),
dd AS (
  SELECT list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(generate_series(1, 64), d ->
               (CAST(ea[d] AS DOUBLE) - CAST(eb[d] AS DOUBLE))
               * (CAST(ea[d] AS DOUBLE) - CAST(eb[d] AS DOUBLE)))),
           (acc, x) -> acc + x) AS od2,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(generate_series(1, 16), d ->
               (pa[d] - pb[d]) * (pa[d] - pb[d]))),
           (acc, x) -> acc + x) AS pd2
  FROM pairs
),
rr AS (SELECT (pd2 / CAST(16 AS DOUBLE)) / od2 AS r
       FROM dd WHERE od2 <> 0)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(r), 6) AS mean_distortion,
       round(min(r), 6) AS min_distortion,
       round(max(r), 6) AS max_distortion,
       round(avg(CASE WHEN r >= 0.5 AND r <= 2.0 THEN CAST(1 AS DOUBLE)
                      ELSE CAST(0 AS DOUBLE) END), 6) AS frac_within_2x
FROM rr
"""


@register("jl_projection_distortion", _AP05_ORACLE)
def q_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.linalg import random_projection_distortion

    vecs = (_read(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < 40)
            .select("vec_id", "embedding"))
    return random_projection_distortion(vecs, 64, 16)
