"""Wave-36 driver queries: Local Outlier Factor on exact k-NN (the
density-based outlier screen beside the global z-score family),
gravity distance-decay calibration (OLS beta from demosaiced OD
flows), Neyman optimal sample allocation, Poisson-bootstrap standard
errors (the deterministic hash-replicate bootstrap used at shard
scale), and categorical mutual information.

Reference anchors: LOF generalizes mad_outliers to local densities
over the same point fixtures the PIP family joins; decay calibration
closes the Huff/IPF/2SFCA interaction family with its estimation
step; Neyman/bootstrap give the sampling family its design and
uncertainty arms; MI is the dependence screen before categorical
columns feed importance heuristics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.operators.selection import _POISSON1_CDF
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# av01 — LOF (k=3) over the clustered dense points: uniform-noise
# points far from the 25 planted clusters surface with LOF >> 1.
# Oracle: the O(n^2) definitional k-NN + the same reachability
# algebra.
# ---------------------------------------------------------------------------

_AV01_ORACLE = f"""
WITH p AS ({synth.dense_points_select_sql('duckdb')}),
nn AS (
  SELECT a.event_id AS a, b.event_id AS b,
         sqrt((a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y)) AS d,
         row_number() OVER (
           PARTITION BY a.event_id
           ORDER BY (a.x - b.x) * (a.x - b.x)
                  + (a.y - b.y) * (a.y - b.y), b.event_id) AS rk
  FROM p a JOIN p b ON b.event_id <> a.event_id
),
e AS (SELECT a, b, d FROM nn WHERE rk <= 3),
kd AS (SELECT a AS b, max(d) AS kd FROM e GROUP BY a),
reach AS (SELECT e.a, e.b, greatest(kd.kd, e.d) AS rd
          FROM e JOIN kd ON kd.b = e.b),
lrd AS (SELECT a, CAST(3 AS DOUBLE) / sum(rd) AS lrd
        FROM reach GROUP BY a),
lof AS (
  SELECT e.a, any_value(la.lrd) AS lrda, avg(lb.lrd) AS mlrdb
  FROM e JOIN lrd la ON la.a = e.a JOIN lrd lb ON lb.a = e.b
  GROUP BY e.a
)
SELECT a AS event_id, round(lrda, 6) AS lrd,
       round(mlrdb / lrda, 6) AS lof
FROM lof ORDER BY event_id
"""


@register("local_outlier_factor", _AV01_ORACLE)
def q_lof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import local_outlier_factor

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    points = spark.sql(synth.dense_points_select_sql("spark"))
    return local_outlier_factor(points, 3, 250.0).orderBy("event_id")


# ---------------------------------------------------------------------------
# av02 — distance-decay calibration on planted-gravity OD flows
# (T = floor(1e9 m_i m_j / d^2) over lattice-node pairs): recovered
# beta sits near 2. Oracle: DuckDB's native regr_* — an independent
# implementation of the same OLS.
# ---------------------------------------------------------------------------

def _av02_flows(dialect: str) -> str:
    nodes = synth.grid_nodes_select_sql(dialect)
    return f"""
SELECT a.node_id AS i, b.node_id AS j,
       CAST(1 + a.node_id % 5 AS DOUBLE) AS mi,
       CAST(1 + b.node_id % 5 AS DOUBLE) AS mj,
       sqrt((a.nx - b.nx) * (a.nx - b.nx)
          + (a.ny - b.ny) * (a.ny - b.ny)) AS d,
       floor(1000000000.0 * (1 + a.node_id % 5) * (1 + b.node_id % 5)
             / nullif((a.nx - b.nx) * (a.nx - b.nx)
                      + (a.ny - b.ny) * (a.ny - b.ny), 0.0)) AS t
FROM ({nodes}) a JOIN ({nodes}) b ON b.node_id <> a.node_id
"""


_AV02_ORACLE = f"""
WITH f AS ({_av02_flows('duckdb')}),
d AS (SELECT ln(d) AS x, ln(t / (mi * mj)) AS y
      FROM f WHERE t > 0 AND d > 0)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       round(regr_intercept(y, x), 6) AS ln_k,
       round(-regr_slope(y, x), 6) AS beta,
       round(regr_r2(y, x), 6) AS r2
FROM d
"""


@register("gravity_decay_calibration", _AV02_ORACLE)
def q_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatial_interaction import distance_decay_fit

    _read(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    flows = spark.sql(_av02_flows("spark"))
    return distance_decay_fit(flows)


# ---------------------------------------------------------------------------
# av03 — Neyman allocation of 1000 samples across event types.
# ---------------------------------------------------------------------------

_AV03_ORACLE = """
WITH g AS (
  SELECT event_type AS stratum, CAST(count(*) AS DOUBLE) AS nh,
         stddev_samp(CAST(value AS DOUBLE)) AS sh
  FROM events GROUP BY event_type
),
w AS (SELECT stratum, nh, sh, nh * coalesce(sh, 0.0) AS wh FROM g),
t AS (SELECT sum(wh) AS tw FROM w)
SELECT w.stratum, CAST(w.nh AS BIGINT) AS n_h_pop,
       round(w.sh, 6) AS s_h,
       round(w.wh / t.tw, 6) AS allocation_frac,
       round(1000.0 * w.wh / t.tw, 6) AS n_h_alloc
FROM w CROSS JOIN t ORDER BY w.stratum
"""


@register("neyman_allocation", _AV03_ORACLE)
def q_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.selection import neyman_allocation

    ev = _read(spark, sf_dir, "events")
    return (neyman_allocation(ev, "event_type", "value", 1000)
            .orderBy("stratum"))


# ---------------------------------------------------------------------------
# av04 — Poisson-bootstrap SE of the mean event value: B = 20
# deterministic hash replicates, truncated-Poisson(1) multiplicities.
# ---------------------------------------------------------------------------

_C0, _C1, _C2, _C3 = _POISSON1_CDF

_AV04_ORACLE = f"""
WITH d AS (
  SELECT r.r, CAST(value AS DOUBLE) AS v,
         CAST(CAST(concat('0x', substr(md5(CAST(r.r AS VARCHAR) || ':'
                          || CAST(event_id AS VARCHAR)), 1, 8))
                   AS UBIGINT) AS DOUBLE) / 4294967296.0 AS u
  FROM events, range(20) r(r)
),
m AS (
  SELECT r, v,
         CAST(CASE WHEN u < {_C0!r} THEN 0 WHEN u < {_C1!r} THEN 1
                   WHEN u < {_C2!r} THEN 2 WHEN u < {_C3!r} THEN 3
                   ELSE 4 END AS DOUBLE) AS m
  FROM d
),
rep AS (SELECT r, sum(m * v) / sum(m) AS mean FROM m GROUP BY r),
est AS (SELECT avg(CAST(value AS DOUBLE)) AS est FROM events)
SELECT CAST(count(*) AS BIGINT) AS b,
       round(any_value(est.est), 6) AS est_mean,
       round(stddev_samp(rep.mean), 6) AS boot_se
FROM rep CROSS JOIN est
"""


@register("poisson_bootstrap_se", _AV04_ORACLE)
def q_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.selection import poisson_bootstrap_se

    ev = _read(spark, sf_dir, "events")
    return poisson_bootstrap_se(ev, "value", "event_id", b=20)


# ---------------------------------------------------------------------------
# av05 — mutual information (nats) between document language and
# source.
# ---------------------------------------------------------------------------

_AV05_ORACLE = """
WITH joint AS (
  SELECT lang AS x, source AS y, CAST(count(*) AS DOUBLE) AS nxy
  FROM documents GROUP BY 1, 2
),
px AS (SELECT x, sum(nxy) AS nx FROM joint GROUP BY x),
py AS (SELECT y, sum(nxy) AS ny FROM joint GROUP BY y),
tot AS (SELECT sum(nxy) AS n FROM joint)
SELECT CAST(any_value(tot.n) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT joint.x) AS BIGINT) AS n_x,
       CAST(count(DISTINCT joint.y) AS BIGINT) AS n_y,
       round(sum((joint.nxy / tot.n)
                 * ln((joint.nxy * tot.n) / (px.nx * py.ny))), 6)
         AS mi_nats
FROM joint JOIN px ON px.x = joint.x
JOIN py ON py.y = joint.y CROSS JOIN tot
"""


@register("mutual_information", _AV05_ORACLE)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.eventflow import mutual_information

    docs = _read(spark, sf_dir, "documents")
    return mutual_information(docs, "lang", "source")
