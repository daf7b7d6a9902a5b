"""Wave-61 driver queries: Platt scaling of the hashed classifier
(exact 2x2 Newton steps — the parametric companion to wave-57's
isotonic calibration), the first principal axis of the embeddings by
oracle-checkable distributed power iteration, and a lag-1
Granger-causality F test between the click and view hourly series.

Float parity: Platt pins its Newton trajectory by rounding (a, b) to
12 decimals per step (the pagerank discipline); power iteration pins
the covariance to 12 decimals BEFORE iterating, rounds each
normalized iterate to 12, and sign-pins the output; Granger's nine
cross-moments are integer-exact (hourly counts) with only ratio
statistics rounded."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.queries_wave39 import _AY02_SCORED, _ay02_scored
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# bu01 — Platt scaling: 3 Newton steps on p = sigmoid(a*score + b).
# ---------------------------------------------------------------------------

def _platt_oracle(iters: int = 3) -> str:
    parts = [f"""
WITH {_AY02_SCORED},
r AS MATERIALIZED (
  SELECT round(CAST(score AS DOUBLE), 6) AS s,
         CASE WHEN label THEN CAST(1 AS DOUBLE)
              ELSE CAST(0 AS DOUBLE) END AS y FROM lab),
i0 AS (SELECT CAST(1 AS DOUBLE) AS a, CAST(0 AS DOUBLE) AS b)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
g{k} AS MATERIALIZED (
  SELECT any_value(a) AS a, any_value(b) AS b,
         sum((p - y) * s) AS ga, sum(p - y) AS gb,
         sum(p * (1 - p) * s * s) AS waa,
         sum(p * (1 - p) * s) AS wab,
         sum(p * (1 - p)) AS wbb
  FROM (SELECT y, s, a, b,
               1.0 / (1.0 + exp(-(a * s + b))) AS p
        FROM r, i{k - 1})),
i{k} AS (
  SELECT round(a - (wbb * ga - wab * gb)
                   / (waa * wbb - wab * wab), 12) AS a,
         round(b - (waa * gb - wab * ga)
                   / (waa * wbb - wab * wab), 12) AS b
  FROM g{k})""")
    parts.append(f"""
SELECT CAST(count(*) AS BIGINT) AS n,
       round(any_value(a), 6) AS a, round(any_value(b), 6) AS b,
       round(-avg(y * ln(p) + (1 - y) * ln(1 - p)), 6) AS log_loss
FROM (SELECT y, a, b, 1.0 / (1.0 + exp(-(a * s + b))) AS p
      FROM r, i{iters})""")
    return "".join(parts)


@register("platt_scaling", _platt_oracle(3))
def q_platt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import platt_scaling

    return platt_scaling(_ay02_scored(spark, sf_dir), "score", "label",
                         iters=3)


# ---------------------------------------------------------------------------
# bu02 — PC1 of the embeddings via 4-step distributed power iteration.
# ---------------------------------------------------------------------------

def _pc1_oracle(iters: int = 4) -> str:
    parts = ["""
WITH idx AS (SELECT CAST(range AS INTEGER) AS i FROM range(64)),
xr AS (
  SELECT e.vec_id, i.i, j.j,
         CAST(e.embedding[i.i + 1] AS DOUBLE) AS xi,
         CAST(e.embedding[j.j + 1] AS DOUBLE) AS xj
  FROM embeddings e
  CROSS JOIN idx i
  CROSS JOIN (SELECT i AS j FROM idx) j
  WHERE i.i <= j.j
),
xc AS MATERIALIZED (
  SELECT i, j,
         round((sum(xi * xj) - sum(xi) * sum(xj) / count(*))
               / (count(*) - 1), 12) AS c
  FROM xr GROUP BY i, j
),
cf AS MATERIALIZED (
  SELECT i, j, c FROM xc
  UNION ALL
  SELECT j AS i, i AS j, c FROM xc WHERE i <> j
),
v0 AS (SELECT i AS j, round(1.0 / sqrt(64.0), 12) AS v FROM idx)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
w{k} AS MATERIALIZED (
  SELECT f.i, sum(f.c * v.v) AS w
  FROM cf f JOIN v{k - 1} v ON v.j = f.j GROUP BY f.i),
n{k} AS (SELECT sqrt(sum(w * w)) AS nm FROM w{k}),
v{k} AS MATERIALIZED (
  SELECT i AS j, round(w / nm, 12) AS v FROM w{k}, n{k})""")
    parts.append(f""",
sgn AS (SELECT CASE WHEN v >= 0 THEN 1.0 ELSE -1.0 END AS s
        FROM v{iters} ORDER BY abs(v) DESC, j LIMIT 1)
SELECT v{iters}.j AS i,
       round(v{iters}.v * sgn.s, 6) + 0.0 AS loading,
       round(n{iters}.nm, 6) AS eigenvalue
FROM v{iters}, sgn, n{iters} ORDER BY i""")
    return "".join(parts)


@register("power_iteration_pc1", _pc1_oracle(4))
def q_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.linalg import power_iteration_pc1

    return power_iteration_pc1(_read(spark, sf_dir, "embeddings"),
                               iters=4)


# ---------------------------------------------------------------------------
# bu03 — Granger-causality F test: does the lagged view count improve
# the AR(1) forecast of the click count (hourly buckets)?
# ---------------------------------------------------------------------------

_BU03_ORACLE = """
WITH ser AS (
  SELECT date_trunc('hour', ts) AS t,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS DOUBLE) AS yv,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS DOUBLE) AS xv
  FROM events GROUP BY 1
),
lg AS (
  SELECT yv AS y, lag(yv) OVER (ORDER BY t) AS l,
         lag(xv) OVER (ORDER BY t) AS x
  FROM ser
),
m AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         sum(y) AS sy, sum(l) AS sl, sum(x) AS sx,
         sum(y * y) AS syy, sum(l * l) AS sll, sum(x * x) AS sxx,
         sum(y * l) AS syl, sum(y * x) AS syx, sum(l * x) AS slx
  FROM lg WHERE l IS NOT NULL
),
c AS (
  SELECT n,
         syy - sy * sy / n AS cyy, sll - sl * sl / n AS cll,
         sxx - sx * sx / n AS cxx, syl - sy * sl / n AS cyl,
         syx - sy * sx / n AS cyx, slx - sl * sx / n AS clx
  FROM m
),
o AS (
  SELECT n, cyy,
         cyy - cyl * cyl / cll AS rss_r,
         cyy - ((cxx * cyl - clx * cyx) / (cll * cxx - clx * clx)) * cyl
             - ((cll * cyx - clx * cyl) / (cll * cxx - clx * clx)) * cyx
           AS rss_u
  FROM c
)
SELECT CAST(n AS BIGINT) AS n,
       round((rss_r - rss_u) / (rss_u / (n - 3)), 6) AS f_stat,
       round(1 - rss_r / cyy, 6) AS r2_restricted,
       round(1 - rss_u / cyy, 6) AS r2_unrestricted
FROM o
"""


@register("granger_lag_causality", _BU03_ORACLE)
def q_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import granger_f

    ser = (_read(spark, sf_dir, "events")
           .groupBy(F.date_trunc("hour", F.col("ts")).alias("t"))
           .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                      .otherwise(0)).cast("double").alias("yv"),
                F.sum(F.when(F.col("event_type") == "view", 1)
                      .otherwise(0)).cast("double").alias("xv")))
    return granger_f(ser, t_col="t", y_col="yv", x_col="xv")
