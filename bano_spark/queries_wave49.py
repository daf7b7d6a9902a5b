"""Wave-49 driver queries: time-series structure screens — hourly
seasonal strength per event type, per-user AR(1) persistence, the
Lo-MacKinlay variance ratio (random-walk test) — plus per-query
precision/recall@10 completing the ranking-evaluation family. The
decomposition trio is the stationarity gate a forecasting operator
(holt_last, croston) should pass before being trusted on a key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# bi01 — hourly seasonal strength per event type.
# ---------------------------------------------------------------------------

_BI01_ORACLE = """
WITH s AS (
  SELECT event_type AS k, value AS v, hour(ts) AS h
  FROM events WHERE value IS NOT NULL
),
w AS (SELECT k, v, avg(v) OVER (PARTITION BY k, h) AS sm FROM s),
a AS (
  SELECT k, count(*) AS n, sum(v) AS sv, sum(v * v) AS svv,
         sum(v - sm) AS sr, sum((v - sm) * (v - sm)) AS srr
  FROM w GROUP BY k
)
SELECT k AS event_type, CAST(n AS BIGINT) AS n,
       round(greatest(0.0,
             1 - (srr / n - (sr / n) * (sr / n))
               / (svv / n - (sv / n) * (sv / n))), 6)
         AS seasonal_strength
FROM a ORDER BY event_type
"""


@register("seasonal_strength_by_type", _BI01_ORACLE)
def q_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import seasonal_strength

    return seasonal_strength(_read(spark, sf_dir, "events"),
                             "event_type", "ts", "value") \
        .orderBy("event_type")


# ---------------------------------------------------------------------------
# bi02 — per-user AR(1) coefficient over the ts-ordered value series.
# ---------------------------------------------------------------------------

_BI02_ORACLE = """
WITH p AS (
  SELECT user_id, value AS y,
         lag(value) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS x
  FROM events
),
f AS (SELECT user_id, y, x FROM p
      WHERE x IS NOT NULL AND y IS NOT NULL)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
       round((count(*) * sum(x * y) - sum(x) * sum(y))
             / (count(*) * sum(x * x) - sum(x) * sum(x)), 6) AS ar1_phi
FROM f GROUP BY user_id HAVING count(*) >= 2 ORDER BY user_id
"""


@register("ar1_per_user", _BI02_ORACLE)
def q_ar1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import ar1_coefficient

    return ar1_coefficient(_read(spark, sf_dir, "events"), "user_id",
                           [F.asc("ts"), F.asc("event_id")], "value") \
        .orderBy("user_id")


# ---------------------------------------------------------------------------
# bi03 — Lo-MacKinlay variance ratio VR(4) per user (overlapping
# q-differences, population variances).
# ---------------------------------------------------------------------------

_BI03_ORACLE = """
WITH p AS (
  SELECT user_id,
         value - lag(value, 1) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS d1,
         value - lag(value, 4) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS dq
  FROM events
),
a AS (
  SELECT user_id, count(d1) AS n1, sum(d1) AS s1,
         sum(d1 * d1) AS s11, count(dq) AS nq, sum(dq) AS sq,
         sum(dq * dq) AS sqq
  FROM p GROUP BY user_id
)
SELECT user_id, CAST(n1 AS BIGINT) AS n_1, CAST(nq AS BIGINT) AS n_q,
       round((sqq / nq - (sq / nq) * (sq / nq))
             / (4 * (s11 / n1 - (s1 / n1) * (s1 / n1))), 6) AS vr
FROM a WHERE nq >= 2 ORDER BY user_id
"""


@register("variance_ratio_per_user", _BI03_ORACLE)
def q_vr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import variance_ratio

    return variance_ratio(_read(spark, sf_dir, "events"), "user_id",
                          [F.asc("ts"), F.asc("event_id")], "value",
                          q=4).orderBy("user_id")


# ---------------------------------------------------------------------------
# bi04 — per-query precision/recall@10 on the wave-46 relevance
# fixture (user = query, value desc rank, click/purchase relevant).
# ---------------------------------------------------------------------------

_BI04_ORACLE = """
WITH r AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rn,
         event_type IN ('click', 'purchase') AS rel
  FROM events
)
SELECT user_id,
       CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
       round(sum(CASE WHEN rel AND rn <= 10 THEN 1 ELSE 0 END) / 10.0, 6)
         AS precision_10,
       round(CASE WHEN sum(CASE WHEN rel THEN 1 ELSE 0 END) > 0
             THEN sum(CASE WHEN rel AND rn <= 10 THEN 1 ELSE 0 END) * 1.0
                  / sum(CASE WHEN rel THEN 1 ELSE 0 END)
             ELSE 0.0 END, 6) AS recall_10
FROM r GROUP BY user_id ORDER BY user_id
"""


@register("precision_recall_at_10", _BI04_ORACLE)
def q_prk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.ranking import precision_recall_at_k

    ranked = (_read(spark, sf_dir, "events")
              .select("user_id", "value", "event_id",
                      F.expr("event_type IN ('click', 'purchase')")
                      .alias("rel")))
    return precision_recall_at_k(
        ranked, "user_id", [F.desc("value"), F.asc("event_id")], "rel",
        k=10).orderBy("user_id")
