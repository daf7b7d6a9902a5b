"""Wave-127 driver queries: seasonal forecasting folds
(operators/hw.py) — additive Holt-Winters state + forecasts, and the
theta method — per series of 25 user-cohorts with a planted
trend (+1/step) and period-4 season [0, +12, +4, -8] over mod-5 hash
noise.

Oracles: DuckDB list_reduce replays with FLAT DOUBLE-LIST
accumulators (HW layout [l, b, q1..q4, sse]; theta sums layout
[t, sy, sty]); every fold step mirrors the Spark expression text, so
both engines walk identical IEEE chains (wave-123 contract) and the
outputs agree bit-for-bit before the final round-to-6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.hw import holt_winters_last, theta_forecast
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_FIX = """
SELECT user_id % 25 AS k, event_id AS ord,
       200 + rn + (CASE rn % 4 WHEN 0 THEN 0 WHEN 1 THEN 12
                   WHEN 2 THEN 4 ELSE -8 END) + u % 5 AS y
FROM (SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id % 25
                                ORDER BY event_id) AS rn,
             (event_id * 2654435761 + 13) % 2147483648 AS u
      FROM events)"""

_L0 = "((vs[1] + vs[2] + vs[3] + vs[4]) / 4.0)"
_MU2 = "((vs[5] + vs[6] + vs[7] + vs[8]) / 4.0)"
_ERR = "(v[1] - (s[1] + s[2] + s[3]))"

_Q1_ORACLE = f"""
WITH fix AS ({_FIX}),
sq AS (
  SELECT k, list(CAST(y AS DOUBLE) ORDER BY ord) AS vs
  FROM fix GROUP BY k HAVING count(*) >= 9),
init AS (
  SELECT k, vs, CAST(len(vs) AS BIGINT) AS n,
         list_reduce(
           list_prepend(
             [{_L0}, (({_MU2} - {_L0}) / 4.0),
              vs[5] - {_L0}, vs[6] - {_L0}, vs[7] - {_L0},
              vs[8] - {_L0}, CAST(0 AS DOUBLE)],
             list_transform(list_slice(vs, 9, len(vs)), y -> [y])),
           (s, v) -> list_transform(
             [0.5 * (v[1] - s[3]) + 0.5 * (s[1] + s[2])],
             lp -> [lp,
                    0.25 * (lp - s[1]) + 0.75 * s[2],
                    s[4], s[5], s[6],
                    0.25 * (v[1] - s[1] - s[2]) + 0.75 * s[3],
                    s[7] + {_ERR} * {_ERR}])[1]) AS f
  FROM sq)
SELECT k, n AS n_rows,
       round(f[1], 6) AS level, round(f[2], 6) AS trend,
       round(sqrt(f[7] / CAST(n - 8 AS DOUBLE)), 6) AS rmse,
       round(f[1] + 1.0 * f[2] + f[3], 6) AS f1,
       round(f[1] + 2.0 * f[2] + f[4], 6) AS f2,
       round(f[1] + 3.0 * f[2] + f[5], 6) AS f3,
       round(f[1] + 4.0 * f[2] + f[6], 6) AS f4
FROM init ORDER BY k
"""


@register("holt_winters_seasonal", _Q1_ORACLE)
def holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One groupBy + per-key struct fold; level tracks the +1/step
    trend and the queue recovers the planted [0,12,4,-8] season."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return holt_winters_last(spark.sql(_FIX), "k", ["ord"], "y",
                             period=4).orderBy("k")


_Q2_ORACLE = f"""
WITH fix AS ({_FIX}),
sq AS (
  SELECT k, list(CAST(y AS DOUBLE) ORDER BY ord) AS vs
  FROM fix GROUP BY k HAVING count(*) >= 3),
sm AS (
  SELECT k, vs, CAST(len(vs) AS DOUBLE) AS nd,
         list_reduce(
           list_prepend([CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                         CAST(0 AS DOUBLE)],
                        list_transform(vs, y -> [y])),
           (s, v) -> [s[1] + 1.0, s[2] + v[1],
                      s[3] + (s[1] + 1.0) * v[1]]) AS ag
  FROM sq),
coef AS (
  SELECT k, vs, nd,
         (nd * ag[3] - nd * (nd + 1.0) / 2.0 * ag[2])
         / (nd * (nd * (nd + 1.0) * (2.0 * nd + 1.0) / 6.0)
            - nd * (nd + 1.0) / 2.0 * (nd * (nd + 1.0) / 2.0)) AS slope,
         ag[2] AS sy
  FROM sm),
coef2 AS (
  SELECT k, vs, nd, slope,
         (sy - slope * (nd * (nd + 1.0) / 2.0)) / nd AS icept
  FROM coef),
ses AS (
  SELECT k, nd, slope, icept,
         list_reduce(
           list_prepend([CAST(1 AS DOUBLE),
                         2.0 * vs[1] - (icept + slope * 1.0)],
                        list_transform(list_slice(vs, 2, len(vs)),
                                       y -> [y])),
           (s, v) -> [s[1] + 1.0,
                      0.5 * (2.0 * v[1]
                             - (icept + slope * (s[1] + 1.0)))
                      + 0.5 * s[2]])[2] AS sl
  FROM coef2)
SELECT k, CAST(nd AS BIGINT) AS n_rows,
       round(slope, 6) AS slope, round(icept, 6) AS intercept,
       round(sl, 6) AS ses_level,
       round(0.5 * (icept + slope * (nd + 1.0)) + 0.5 * sl, 6) AS f1,
       round(0.5 * (icept + slope * (nd + 2.0)) + 0.5 * sl, 6) AS f2,
       round(0.5 * (icept + slope * (nd + 3.0)) + 0.5 * sl, 6) AS f3,
       round(0.5 * (icept + slope * (nd + 4.0)) + 0.5 * sl, 6) AS f4
FROM ses ORDER BY k
"""


@register("theta_method_forecast", _Q2_ORACLE)
def theta_method_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-OLS trend + SES over the theta-2 line, per series; the
    slope recovers ~1.0 (the planted trend) on every cohort."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return theta_forecast(spark.sql(_FIX), "k", ["ord"], "y",
                          horizon=4).orderBy("k")
