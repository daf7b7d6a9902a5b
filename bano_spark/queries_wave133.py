"""Wave-133 driver queries: cascade ERR and exposure fairness
(operators/err_exposure.py) — per-query folds over (score DESC, id)
rankings; the protected group's planted +30 score boost makes its
exposure share exceed its relevance share (positive disparity) on
nearly every query.

Oracles: DuckDB list_reduce replays with flat accumulators
([i, p, err] / [i, ea, eb, ra, rb]); relevance grades map to dyadic
stopping probabilities via the same literal CASE, so every value
matches bit-for-bit before the round-to-6; nothing is ever summed
across queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.err_exposure import (R_CASE, err_at_k,
                                               exposure_fairness)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_FIX = """
SELECT user_id % 50 AS q, event_id AS id,
       u1 % 100 + (CASE WHEN u3 % 2 = 1 THEN 30 ELSE 0 END) AS score,
       u2 % 4 AS g, u3 % 2 AS a
FROM (SELECT user_id, event_id,
             (event_id * 2654435761 + 13) % 2147483648 AS u1,
             (event_id * 1103515245 + 12345) % 2147483648 AS u2,
             (event_id * 69069 + 7) % 2147483648 AS u3
      FROM events)"""

_RANK_CTE = f"""
fix AS ({_FIX}),
sq AS (
  SELECT q, list([CAST(0 - score AS DOUBLE), CAST(id AS DOUBLE),
                  CAST(g AS DOUBLE), CAST(a AS DOUBLE)]
                 ORDER BY 0 - score, id) AS rk
  FROM fix GROUP BY q)"""

_Q1_ORACLE = f"""
WITH {_RANK_CTE},
st AS (
  SELECT q, CAST(len(rk) AS BIGINT) AS n_items,
         list_reduce(
           list_prepend([CAST(0 AS DOUBLE), CAST(1 AS DOUBLE),
                         CAST(0 AS DOUBLE)],
                        list_slice(rk, 1, 10)),
           (s, v) -> [s[1] + 1.0,
                      s[2] * (1.0 - {R_CASE}),
                      s[3] + (s[2] * {R_CASE}) / (s[1] + 1.0)]) AS f
  FROM sq)
SELECT q, n_items, round(f[3], 6) AS err
FROM st ORDER BY q
"""


@register("err_at_10_per_query", _Q1_ORACLE)
def err_at_10_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascade-model ERR@10 per query — one groupBy + O(1)-state
    fold, dyadic stopping probabilities."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return err_at_k(spark.sql(_FIX), "q", "score", "id", "g",
                    k=10).orderBy("q")


_Q2_ORACLE = f"""
WITH {_RANK_CTE},
st AS (
  SELECT q,
         list_reduce(
           list_prepend([CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                         CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                         CAST(0 AS DOUBLE)],
                        list_slice(rk, 1, 10)),
           (s, v) -> [s[1] + 1.0,
             CASE WHEN v[4] = 1.0 THEN s[2] + 1.0 / (s[1] + 1.0)
                  ELSE s[2] END,
             CASE WHEN v[4] = 1.0 THEN s[3]
                  ELSE s[3] + 1.0 / (s[1] + 1.0) END,
             CASE WHEN v[4] = 1.0 THEN s[4] + v[3] ELSE s[4] END,
             CASE WHEN v[4] = 1.0 THEN s[5] ELSE s[5] + v[3] END]) AS f
  FROM sq)
SELECT q, round(f[2], 6) AS exp_a, round(f[3], 6) AS exp_b,
       CAST(f[4] AS BIGINT) AS rel_a, CAST(f[5] AS BIGINT) AS rel_b,
       round(f[2] / (f[2] + f[3]), 6) AS exposure_share_a,
       round(f[4] / (f[4] + f[5]), 6) AS rel_share_a,
       round(f[2] / (f[2] + f[3]) - f[4] / (f[4] + f[5]), 6)
         AS disparity
FROM st ORDER BY q
"""


@register("exposure_disparity_per_query", _Q2_ORACLE)
def exposure_disparity_per_query(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Reciprocal-rank exposure vs relevance share for the boosted
    group over the top 10 — the ranking-fairness audit."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return exposure_fairness(spark.sql(_FIX), "q", "score", "id",
                             "g", "a", k=10).orderBy("q")
