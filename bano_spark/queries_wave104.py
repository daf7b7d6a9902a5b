"""Wave-104 driver queries: business-calendar algebra
(operators/calendrics.py) — closed-form business-seconds SLA between
consecutive events, 4-4-5 fiscal-period rollups, and add-N-business-
days due-date planning.  Pure integer epoch-day arithmetic (no
calendar dim, no per-row loop, no timezone surface).

The DuckDB oracle replays the identical prefix-function algebra:
W(x) = 5*(x//7) + least(x%7, 5) weekdays on the Monday-aligned axis,
business_f(t) = 86400*(W(d+3)-3) + (in-day remainder on weekdays),
interval = f(e) - f(s).

Ref parity: the reference's weekly cron build stamps batches with
civil dates (bano/cron_*.sh); these are the warehouse-grade SLA /
fiscal generalizations of that calendar bookkeeping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bano_spark.operators.calendrics import (
    add_business_days, business_elapsed, fiscal_445)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _events_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = F.col("ts").cast("timestamp_ntz")
    epoch = (F.datediff(F.to_date(t), F.lit("1970-01-01")).cast("long")
             * 86400 + F.hour(t) * 3600 + F.minute(t) * 60 + F.second(t))
    return ev.select("event_id", "user_id", epoch.alias("t"))


# DuckDB twins of the closed forms (integer // division is exact)
_F_SQL = """
wd AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events),
bf AS (
  SELECT event_id, user_id, t,
         86400 * (5 * ((t // 86400 + 3) // 7)
                  + least((t // 86400 + 3) % 7, 5) - 3)
         + CASE WHEN (t // 86400 + 3) % 7 < 5 THEN t % 86400
                ELSE 0 END AS f
  FROM wd)
"""


_CA01_ORACLE = f"""
WITH {_F_SQL},
pairs AS (
  SELECT user_id, event_id, t, f,
         lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
           AS t_prev,
         lag(f) OVER (PARTITION BY user_id ORDER BY t, event_id)
           AS f_prev
  FROM bf)
SELECT user_id, event_id,
       CAST(t - t_prev AS BIGINT) AS raw_seconds,
       CAST(f - f_prev AS BIGINT) AS business_seconds
FROM pairs WHERE t_prev IS NOT NULL
"""


@register("business_elapsed_sla", _CA01_ORACLE)
def business_elapsed_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_epoch(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    prev = ev.withColumn("t_prev", F.lag("t").over(w))
    return (prev.filter(F.col("t_prev").isNotNull())
            .select("user_id", "event_id",
                    (F.col("t") - F.col("t_prev")).cast("bigint")
                    .alias("raw_seconds"),
                    business_elapsed(F.col("t_prev"), F.col("t"))
                    .alias("business_seconds")))


_P445_CASE = ("CASE WHEN wof <= 4 THEN 1 WHEN wof <= 8 THEN 2 "
              "WHEN wof <= 13 THEN 3 WHEN wof <= 17 THEN 4 "
              "WHEN wof <= 21 THEN 5 WHEN wof <= 26 THEN 6 "
              "WHEN wof <= 30 THEN 7 WHEN wof <= 34 THEN 8 "
              "WHEN wof <= 39 THEN 9 WHEN wof <= 43 THEN 10 "
              "WHEN wof <= 47 THEN 11 ELSE 12 END")

_CA02_ORACLE = f"""
WITH wd AS (
  SELECT event_id, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
  FROM events),
wk AS (
  SELECT event_id, user_id,
         (d - 19359) // 7 AS week,
         ((d - 19359) // 7) % 52 + 1 AS wof
  FROM wd),
fis AS (
  SELECT event_id, user_id,
         CAST(week // 52 AS BIGINT) AS fyear,
         CAST(({_P445_CASE} - 1) // 3 + 1 AS BIGINT) AS fquarter,
         CAST({_P445_CASE} AS BIGINT) AS fperiod,
         CAST(wof AS BIGINT) AS fweek
  FROM wk)
SELECT fyear, fquarter, fperiod,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(min(fweek) AS BIGINT) AS min_fweek,
       CAST(max(fweek) AS BIGINT) AS max_fweek
FROM fis GROUP BY 1, 2, 3
"""


@register("fiscal_445_rollup", _CA02_ORACLE)
def fiscal_445_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_epoch(spark, sf_dir)
    d = ((F.col("t") - F.col("t") % 86400) / 86400).cast("bigint")
    fy, fq, fp, fw = fiscal_445(d)
    fis = ev.select("user_id", fy, fq, fp, fw)
    return (fis.groupBy("fyear", "fquarter", "fperiod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.min("fweek").cast("bigint").alias("min_fweek"),
        F.max("fweek").cast("bigint").alias("max_fweek")))


_CA03_ORACLE = """
WITH wd AS (
  SELECT event_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
         event_id % 11 AS n
  FROM events),
rolled AS (
  SELECT event_id, d, n,
         CASE WHEN (d + 3) % 7 = 5 THEN d + 2
              WHEN (d + 3) % 7 = 6 THEN d + 1
              ELSE d END AS r0
  FROM wd),
due AS (
  SELECT event_id, d, n,
         r0 + 7 * (n // 5) + (n % 5)
         + CASE WHEN (r0 + 3) % 7 + (n % 5) > 4 THEN 2 ELSE 0 END
           AS due_day
  FROM rolled)
SELECT event_id, CAST(d AS BIGINT) AS epoch_day,
       CAST(n AS BIGINT) AS n_bdays,
       CAST(due_day AS BIGINT) AS due_day,
       CAST((due_day + 3) % 7 AS BIGINT) AS due_dow
FROM due
"""


@register("add_business_days_plan", _CA03_ORACLE)
def add_business_days_plan(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    ev = _events_epoch(spark, sf_dir)
    d = ((F.col("t") - F.col("t") % 86400) / 86400).cast("bigint")
    n = (F.col("event_id") % 11).cast("bigint")
    due = add_business_days(d, n)
    return ev.select(
        "event_id", d.alias("epoch_day"), n.alias("n_bdays"),
        due.alias("due_day"),
        ((due + 3) % 7).cast("bigint").alias("due_dow"))
