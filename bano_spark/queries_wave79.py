"""Wave-79 driver queries: (1) interval union length (gaps-and-islands)
— per user, merge overlapping/touching sessions into islands and
report island count, total covered seconds, and the longest island;
the classic SQL islands problem (running-max-of-end formulation), and
the time-domain twin of the engine's spatial suffix-zone union;
(2) peak concurrency via a distributed sweep line — sessions become
±1 endpoint deltas, a two-pass bucketed prefix sum
(``distributed_cumsum``, no single-partition exchange) yields the
running occupancy, and one aggregate reads off the peak and its first
time. Classic capacity-planning / crawl-politeness primitives.

Ref parity: the reference's batch-window dedup
(bano/sql/export_csv_dept.sql) is a per-key window over point rows;
these generalize the same keyed-window shape to interval coverage and
interval occupancy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# cl01 — interval union length (gaps-and-islands) per user.
# ---------------------------------------------------------------------------
# Sessions from `events`: start = epoch(ts), duration = (1 + event_id
# % 7) minutes. Touching intervals (next start == running max end)
# MERGE. Per user: n_islands, covered_seconds (union length),
# max_island_seconds. Running-max-of-end island detection — every
# window is partitioned by user_id.

_CL01_ORACLE = """
WITH sess AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + (1 + event_id % 7) * 60 AS e
  FROM events),
flagged AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN s > coalesce(
             max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS new_isl
  FROM sess),
isl AS (
  SELECT user_id, s, e,
         sum(new_isl) OVER (PARTITION BY user_id ORDER BY s, event_id
                            ROWS UNBOUNDED PRECEDING) AS isl_id
  FROM flagged),
merged AS (
  SELECT user_id, isl_id, min(s) AS ms, max(e) AS me
  FROM isl GROUP BY user_id, isl_id)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(me - ms) AS BIGINT) AS covered_seconds,
       CAST(max(me - ms) AS BIGINT) AS max_island_seconds
FROM merged GROUP BY user_id
ORDER BY user_id
"""


@register("interval_union_length", _CL01_ORACLE)
def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three windows are partitioned by user_id (keyed, no global
    order); the island merge is a keyed groupBy. At 100 TB this is one
    hash exchange on user_id followed by per-partition sort — the same
    shape as sessionize_events, which EXPLAIN.md already clears."""
    ev = _read(spark, sf_dir, "events")
    t = F.col("ts").cast("timestamp_ntz")
    epoch = (F.datediff(F.to_date(t), F.lit("1970-01-01")).cast("long")
             * 86400 + F.hour(t) * 3600 + F.minute(t) * 60 + F.second(t))
    sess = ev.select(
        "user_id", "event_id", epoch.alias("s"),
        (epoch + (1 + F.col("event_id") % 7) * 60).alias("e"))
    w_prev = (Window.partitionBy("user_id").orderBy("s", "event_id")
              .rowsBetween(Window.unboundedPreceding, -1))
    flagged = sess.withColumn(
        "new_isl",
        F.when(F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)),
               1).otherwise(0))
    w_cum = (Window.partitionBy("user_id").orderBy("s", "event_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    isl = flagged.withColumn("isl_id", F.sum("new_isl").over(w_cum))
    merged = isl.groupBy("user_id", "isl_id").agg(
        F.min("s").alias("ms"), F.max("e").alias("me"))
    return (merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("me") - F.col("ms")).cast("bigint")
        .alias("covered_seconds"),
        F.max(F.col("me") - F.col("ms")).cast("bigint")
        .alias("max_island_seconds"))
        .orderBy("user_id"))


# ---------------------------------------------------------------------------
# cl02 — peak concurrency sweep line.
# ---------------------------------------------------------------------------
# Sessions from `events`: start = ts, duration = (1 + event_id % 7)
# minutes. Sweep-line total order: (epoch-second, end-before-start,
# unique endpoint id). sortkey packs epoch*2 + bit (bit 0 = end, 1 =
# start) so equal-time ends release capacity before starts claim it.

_CL02_ORACLE = """
WITH sess AS (
  SELECT event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + (1 + event_id % 7) * 60 AS e
  FROM events),
pts AS (
  SELECT s * 2 + 1 AS sortkey, event_id * 2 + 1 AS tb, 1 AS delta
  FROM sess
  UNION ALL
  SELECT e * 2, event_id * 2, -1 FROM sess),
run AS (
  SELECT sortkey, delta,
         sum(delta) OVER (ORDER BY sortkey, tb
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM pts)
SELECT CAST((SELECT count(*) FROM sess) AS BIGINT) AS n_sessions,
       CAST(max(cum) AS BIGINT) AS peak_concurrency,
       CAST(min(CASE WHEN cum = (SELECT max(cum) FROM run)
                     THEN sortkey END) // 2 AS BIGINT) AS peak_first_epoch
FROM run
"""


@register("concurrent_sessions_peak", _CL02_ORACLE)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep line without a single-partition window: the running
    occupancy is ``distributed_cumsum`` (range-bucketed two-pass
    prefix sum over the composite (sortkey, tb) total order), then one
    hash aggregate reads peak + first-epoch-at-peak. At 100 TB the
    endpoint table is 2x sessions, bucketed by time range — the same
    shape selection.token_budget_selection already proves out."""
    from bano_spark.operators.selection import distributed_cumsum

    ev = _read(spark, sf_dir, "events")
    t = F.col("ts").cast("timestamp_ntz")
    epoch = (F.datediff(F.to_date(t), F.lit("1970-01-01")).cast("long")
             * 86400 + F.hour(t) * 3600 + F.minute(t) * 60 + F.second(t))
    sess = ev.select(
        "event_id", epoch.alias("s"),
        (epoch + (1 + F.col("event_id") % 7) * 60).alias("e"))
    n_sessions = sess.count()
    starts = sess.select((F.col("s") * 2 + 1).alias("sortkey"),
                         (F.col("event_id") * 2 + 1).alias("tb"),
                         F.lit(1).alias("delta"))
    ends = sess.select((F.col("e") * 2).alias("sortkey"),
                       (F.col("event_id") * 2).alias("tb"),
                       F.lit(-1).alias("delta"))
    pts = starts.unionAll(ends)
    run = distributed_cumsum(
        pts, "sortkey", [F.col("sortkey"), F.col("tb")], "delta",
        out_col="cum", tiebreak_col="tb")
    peak = run.agg(F.max("cum").alias("_p")).collect()[0]["_p"]
    return run.agg(
        F.lit(n_sessions).cast("bigint").alias("n_sessions"),
        F.max("cum").cast("bigint").alias("peak_concurrency"),
        F.floor(F.min(F.when(F.col("cum") == F.lit(peak),
                             F.col("sortkey"))) / 2)
        .cast("bigint").alias("peak_first_epoch"))
