"""Wave-65 driver queries: Cochran-Armitage trend test (ordered-dose
completion of the contingency family), Cronbach's alpha reliability
of the hourly event-type count panel, and a 2x2
difference-in-differences estimate of value across a mid-month
"rollout" — the quasi-experimental companion to cuped_adjustment.

Float parity: CA's sufficient statistics are integer counts (only
the final ratios round); Cronbach and DiD are moment aggregates with
ratio outputs at 6 dp."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# by01 — Cochran-Armitage trend in click share across hour-of-day
# thirds (scores 0, 1, 2).
# ---------------------------------------------------------------------------

_BY01_ORACLE = """
WITH g AS (
  SELECT CAST(date_part('hour', ts) // 8 AS DOUBLE) AS t,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS DOUBLE) AS r
  FROM events GROUP BY 1
),
a AS (
  SELECT sum(n) AS N, sum(r) AS R, count(*) AS k,
         sum(t * r) AS tr, sum(t * n) AS tn, sum(t * t * n) AS ttn
  FROM g
)
SELECT CAST(N AS BIGINT) AS n, CAST(R AS BIGINT) AS n_success,
       CAST(k AS BIGINT) AS k_levels,
       round(tr - (R / N) * tn, 6) AS t_stat,
       round((tr - (R / N) * tn)
             / sqrt((R / N) * (1 - (R / N))
                    * (ttn - tn * tn / N)), 6) AS z
FROM a
"""


@register("cochran_armitage_trend", _BY01_ORACLE)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import cochran_armitage

    ev = _read(spark, sf_dir, "events").select(
        F.expr("CAST(hour(ts) div 8 AS DOUBLE)").alias("score"),
        (F.col("event_type") == "click").cast("int").alias("success"))
    return cochran_armitage(ev, "score", "success")


# ---------------------------------------------------------------------------
# by02 — Cronbach's alpha of the 5 event-type hourly count "items"
# (subjects = hours, dense spine with zero fill).
# ---------------------------------------------------------------------------

_BY02_ORACLE = """
WITH hrs AS (SELECT DISTINCT date_trunc('hour', ts) AS h FROM events),
typ AS (SELECT DISTINCT event_type AS i FROM events),
obs AS (
  SELECT date_trunc('hour', ts) AS h, event_type AS i,
         CAST(count(*) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
),
dense AS (
  SELECT hrs.h, typ.i, coalesce(obs.v, CAST(0 AS DOUBLE)) AS v
  FROM hrs CROSS JOIN typ
  LEFT JOIN obs ON obs.h = hrs.h AND obs.i = typ.i
),
iv AS (SELECT count(*) AS k, sum(vi) AS svi
       FROM (SELECT i, var_samp(v) AS vi FROM dense GROUP BY i)),
tv AS (SELECT count(*) AS n, var_samp(tot) AS vt
       FROM (SELECT h, sum(v) AS tot FROM dense GROUP BY h))
SELECT CAST(k AS BIGINT) AS k_items, CAST(n AS BIGINT) AS n_subjects,
       round((k / (k - 1.0)) * (1 - svi / vt), 6) AS alpha
FROM iv, tv
"""


@register("cronbach_alpha_panel", _BY02_ORACLE)
def q_cronbach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import cronbach_alpha

    ev = _read(spark, sf_dir, "events")
    hrs = ev.select(F.date_trunc("hour", "ts").alias("h")).distinct()
    typ = ev.select(F.col("event_type").alias("i")).distinct()
    obs = (ev.groupBy(F.date_trunc("hour", "ts").alias("h"),
                      F.col("event_type").alias("i"))
           .agg(F.count(F.lit(1)).cast("double").alias("v")))
    dense = (hrs.crossJoin(F.broadcast(typ))
             .join(obs, ["h", "i"], "left")
             .select("h", "i",
                     F.coalesce("v", F.lit(0.0)).alias("v")))
    return cronbach_alpha(dense, "h", "i", "v")


# ---------------------------------------------------------------------------
# by03 — difference-in-differences: treat = odd users, post = day 16+.
# ---------------------------------------------------------------------------

_BY03_ORACLE = """
WITH c AS (
  SELECT CAST(user_id % 2 AS INT) AS t,
         CASE WHEN date_part('day', ts) >= 16 THEN 1 ELSE 0 END AS p,
         CAST(count(*) AS DOUBLE) AS n,
         avg(value) AS m, var_samp(value) AS v
  FROM events GROUP BY 1, 2
),
a AS (
  SELECT sum(n) AS n,
         max(CASE WHEN t = 1 AND p = 0 THEN m END) AS m_t_pre,
         max(CASE WHEN t = 1 AND p = 1 THEN m END) AS m_t_post,
         max(CASE WHEN t = 0 AND p = 0 THEN m END) AS m_c_pre,
         max(CASE WHEN t = 0 AND p = 1 THEN m END) AS m_c_post,
         max(CASE WHEN t = 1 AND p = 0 THEN v / n END)
           + max(CASE WHEN t = 1 AND p = 1 THEN v / n END)
           + max(CASE WHEN t = 0 AND p = 0 THEN v / n END)
           + max(CASE WHEN t = 0 AND p = 1 THEN v / n END) AS se2
  FROM c
)
SELECT CAST(n AS BIGINT) AS n,
       round(m_t_pre, 6) AS mean_treat_pre,
       round(m_t_post, 6) AS mean_treat_post,
       round(m_c_pre, 6) AS mean_ctrl_pre,
       round(m_c_post, 6) AS mean_ctrl_post,
       round((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6) AS did,
       round(sqrt(se2), 6) AS se
FROM a
"""


@register("did_estimator", _BY03_ORACLE)
def q_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import did_estimator

    ev = _read(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).cast("int").alias("treat"),
        (F.dayofmonth("ts") >= 16).cast("int").alias("post"),
        F.col("value"))
    return did_estimator(ev, "treat", "post", "value")
