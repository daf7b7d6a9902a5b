"""Wave-151 driver queries: SLO burn-rate alerting
(operators/slo.py) — a planted incident (8% error rate over one
event-id band vs 0.5% baseline against a 99% SLO) pages exactly the
buckets where BOTH windows burn hot; plus the per-event-type error
budget report.

Oracle: identical bucket aggregates + equi-join; every decision is a
single-division double from exact integer counts."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.slo import burn_rate_alerts, error_budget_report
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_FIX = """
SELECT event_id AS id, event_type,
       CASE WHEN event_id % 8000 >= 4000 AND event_id % 8000 < 5000
            THEN (CASE WHEN u % 1000 < 80 THEN 1 ELSE 0 END)
            ELSE (CASE WHEN u % 1000 < 5 THEN 1 ELSE 0 END)
       END AS err
FROM (SELECT event_id, event_type,
             (event_id * 2654435761 + 13) % 2147483648 AS u
      FROM events)"""

_Q1_ORACLE = f"""
WITH fix AS ({_FIX}),
d AS (SELECT id // 200 AS sb, id // 1000 AS lb, err FROM fix),
s AS (SELECT sb, lb, CAST(count(*) AS BIGINT) AS n_short,
             CAST(sum(err) AS BIGINT) AS err_short
      FROM d GROUP BY 1, 2),
l AS (SELECT lb AS _lb, CAST(count(*) AS BIGINT) AS n_long,
             CAST(sum(err) AS BIGINT) AS err_long
      FROM d GROUP BY 1)
SELECT s.sb AS short_bucket, s.n_short, s.err_short,
       round(CAST(s.err_short AS DOUBLE) / CAST(s.n_short AS DOUBLE)
             / 0.010000000000000009, 6) AS burn_short,
       round(CAST(l.err_long AS DOUBLE) / CAST(l.n_long AS DOUBLE)
             / 0.010000000000000009, 6) AS burn_long,
       (CAST(s.err_short AS DOUBLE) / CAST(s.n_short AS DOUBLE)
          / 0.010000000000000009 > 14.4)
       AND (CAST(l.err_long AS DOUBLE) / CAST(l.n_long AS DOUBLE)
          / 0.010000000000000009 > 6.0) AS page
FROM s JOIN l ON s.lb = l._lb ORDER BY short_bucket
"""


@register("slo_burn_rate_alerts", _Q1_ORACLE)
def slo_burn_rate_alerts(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Multiwindow multi-burn paging: short AND long window both hot
    — fires only inside the planted incident band."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return burn_rate_alerts(spark.sql(_FIX), "id", "err",
                            slo=0.99, short_w=200, long_w=1000)


_Q2_ORACLE = f"""
WITH fix AS ({_FIX})
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(err) AS BIGINT) AS errors,
       round(CAST(sum(err) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS err_rate,
       round(CAST(sum(err) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             / 0.010000000000000009, 6) AS budget_used,
       round(1.0 - CAST(sum(err) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             / 0.010000000000000009, 6) AS budget_left_frac
FROM fix GROUP BY event_type ORDER BY event_type
"""


@register("slo_error_budget_report", _Q2_ORACLE)
def slo_error_budget_report(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Per event_type budget accounting against the 99% SLO."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return error_budget_report(spark.sql(_FIX), "event_type", "err",
                               slo=0.99)
