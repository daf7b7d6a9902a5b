"""Wave-66 driver queries: Wald SPRT early-stopping decisions on each
user's click stream (the sequential member of the testing family) and
a negative-binomial method-of-moments fit of the overdispersed
floor(value/50) counts per event type.

Float parity: SPRT's llr lattice is a two-generator integer
combination of shared textual ln constants (1-ulp cross-engine ln
noise moves llr by ~1e-14; decisions flip only on exact boundary
coincidence), state frozen at the stopping step on both engines; NB
is integer sufficient statistics with ratio outputs at 6 dp."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# bz01 — SPRT per user: H0 click rate 0.15 vs H1 0.25, alpha=beta=.05.
# ---------------------------------------------------------------------------

_INC = ("(v[1] * ln(CAST(0.25 AS DOUBLE) / CAST(0.15 AS DOUBLE)) "
        "+ (1 - v[1]) * ln(CAST(0.75 AS DOUBLE) "
        "/ CAST(0.85 AS DOUBLE)))")
_UP = "ln(CAST(0.95 AS DOUBLE) / CAST(0.05 AS DOUBLE))"
_LO = "ln(CAST(0.05 AS DOUBLE) / CAST(0.95 AS DOUBLE))"
_NXT = f"(s[1] + {_INC})"

_BZ01_ORACLE = f"""
WITH s AS (
  SELECT user_id,
         list(CASE WHEN event_type = 'click'
              THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
              ORDER BY ts, event_id) AS vs
  FROM events GROUP BY user_id
),
f AS (
  SELECT user_id, len(vs) AS n,
         list_reduce(
           list_prepend(
             [CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
              CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
             list_transform(vs, x -> [x, CAST(0.0 AS DOUBLE),
                                      CAST(0.0 AS DOUBLE),
                                      CAST(0.0 AS DOUBLE)])),
           (s, v) -> [
             CASE WHEN s[2] <> 0 THEN s[1] ELSE {_NXT} END,
             CASE WHEN s[2] <> 0 THEN s[2]
                  WHEN {_NXT} >= {_UP} THEN CAST(1 AS DOUBLE)
                  WHEN {_NXT} <= {_LO} THEN CAST(-1 AS DOUBLE)
                  ELSE CAST(0 AS DOUBLE) END,
             s[3] + 1,
             CASE WHEN s[2] <> 0 THEN s[4]
                  WHEN {_NXT} >= {_UP} OR {_NXT} <= {_LO}
                  THEN s[3] + 1
                  ELSE CAST(0 AS DOUBLE) END]) AS st
  FROM s
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       CAST(st[2] AS BIGINT) AS decision,
       CAST(st[4] AS BIGINT) AS decided_at,
       round(st[1], 6) AS llr
FROM f ORDER BY user_id
"""


@register("sprt_user_decisions", _BZ01_ORACLE)
def q_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import sprt_decision

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        (F.col("event_type") == "click").cast("int").alias("is_click"))
    return sprt_decision(ev, "user_id", ["ts", "event_id"], "is_click",
                         p0=0.15, p1=0.25, alpha=0.05, beta=0.05)


# ---------------------------------------------------------------------------
# bz02 — NB method-of-moments fit of floor(value/50) per event type.
# ---------------------------------------------------------------------------

_BZ02_ORACLE = """
WITH x AS (
  SELECT event_type AS g, CAST(floor(value / 50.0) AS DOUBLE) AS x
  FROM events
),
m AS (
  SELECT g, CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS s, sum(x * x) AS ss
  FROM x GROUP BY g
)
SELECT g AS event_type, CAST(n AS BIGINT) AS n,
       round(s / n, 6) AS mean,
       round((ss - s * s / n) / (n - 1), 6) AS variance,
       round((s / n) * (s / n)
             / ((ss - s * s / n) / (n - 1) - s / n), 6) AS r,
       round((s / n) / ((ss - s * s / n) / (n - 1)), 6) AS p
FROM m ORDER BY event_type
"""


@register("negative_binomial_fit", _BZ02_ORACLE)
def q_negbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import negative_binomial_fit

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") / 50.0).cast("double").alias("xc"))
    return negative_binomial_fit(ev, "event_type", "xc")
