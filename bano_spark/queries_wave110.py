"""Wave-110 driver queries: Gorilla delta-of-delta timestamp
compression costing (operators/tscompress.py) over the events table.

Three views of the same exact bit model:
  * per-series totals + compression ratio vs raw int64 timestamps
    (ratio is a SINGLE division of exact integers — bit-identical
    across engines unrounded),
  * 2-hour-block re-initialized costing (Gorilla's block header
    semantics: every block re-pays head64 + delta14),
  * global ladder histogram by event_type with exact integer shares.

All windows are keyed by user (or user+block): one hash exchange on
the series key at 100 TB, per-partition sorts, no Python, no global
window.

Ref parity: storage costing for the timestamp columns the reference
exports raw (bano/sql/export_csv_dept.sql ISO timestamps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.tscompress import (bits_case_sql, dod_case_sql,
                                             dod_point_bits)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = F.col("ts").cast("timestamp_ntz")
    epoch = (F.datediff(F.to_date(t), F.lit("1970-01-01")).cast("long")
             * 86400 + F.hour(t) * 3600 + F.minute(t) * 60 + F.second(t))
    return ev.select("user_id", "event_id", "event_type",
                     epoch.alias("s"))


_PTS_SQL = """
pts AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events)
"""


def _classified_sql(partition: str) -> str:
    return f"""
lagged AS (
  SELECT user_id, event_id, event_type, s{", blk" if "blk" in partition else ""},
         CAST(row_number() OVER w AS BIGINT) AS rn,
         s - lag(s) OVER w AS delta
  FROM pts WINDOW w AS (PARTITION BY {partition} ORDER BY s, event_id)),
dodded AS (
  SELECT *, delta - lag(delta) OVER
           (PARTITION BY {partition} ORDER BY s, event_id) AS dod
  FROM lagged),
classed AS (
  SELECT *, {dod_case_sql()} AS cls FROM dodded),
costed AS (
  SELECT *, CAST({bits_case_sql()} AS BIGINT) AS bits FROM classed)
"""


_GD01_ORACLE = f"""
WITH {_PTS_SQL},
{_classified_sql("user_id")}
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(CASE WHEN cls = 'dod0' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dod0,
       CAST(sum(CASE WHEN cls = 'dod7' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dod7,
       CAST(sum(CASE WHEN cls = 'dod9' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dod9,
       CAST(sum(CASE WHEN cls = 'dod12' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dod12,
       CAST(sum(CASE WHEN cls = 'dod32' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dod32,
       CAST(sum(bits) AS BIGINT) AS total_bits,
       CAST(64 * count(*) AS BIGINT) AS raw_bits,
       CAST(sum(bits) AS DOUBLE) / CAST(64 * count(*) AS DOUBLE)
         AS ratio
FROM costed
GROUP BY user_id
ORDER BY user_id
"""


@register("gorilla_dod_series_bits", _GD01_ORACLE)
def gorilla_dod_series_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user series: exact Gorilla dod bit cost, ladder class
    counts, and the compression ratio vs raw 64-bit timestamps."""
    pts = dod_point_bits(_points(spark, sf_dir), ["user_id"], "s",
                         "event_id")
    cnt = lambda c: F.sum(F.when(F.col("cls") == c, 1).otherwise(0))  # noqa: E731
    return (pts.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 cnt("dod0").alias("n_dod0"),
                 cnt("dod7").alias("n_dod7"),
                 cnt("dod9").alias("n_dod9"),
                 cnt("dod12").alias("n_dod12"),
                 cnt("dod32").alias("n_dod32"),
                 F.sum("bits").alias("total_bits"))
            .select("user_id",
                    F.col("n_points").cast("bigint").alias("n_points"),
                    F.col("n_dod0").cast("bigint").alias("n_dod0"),
                    F.col("n_dod7").cast("bigint").alias("n_dod7"),
                    F.col("n_dod9").cast("bigint").alias("n_dod9"),
                    F.col("n_dod12").cast("bigint").alias("n_dod12"),
                    F.col("n_dod32").cast("bigint").alias("n_dod32"),
                    F.col("total_bits").cast("bigint").alias("total_bits"),
                    (F.lit(64) * F.col("n_points")).cast("bigint")
                    .alias("raw_bits"),
                    (F.col("total_bits").cast("double")
                     / (F.lit(64) * F.col("n_points")).cast("double"))
                    .alias("ratio"))
            .orderBy("user_id"))


_GD02_ORACLE = f"""
WITH {_PTS_SQL},
blocked AS (
  SELECT user_id, event_id, event_type, s, s // 7200 AS blk FROM pts),
{_classified_sql("user_id, blk").replace("FROM pts WINDOW",
                                         "FROM blocked WINDOW")}
SELECT user_id,
       CAST(count(DISTINCT blk) AS BIGINT) AS n_blocks,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(bits) AS BIGINT) AS total_bits,
       CAST(sum(CASE WHEN cls IN ('head64', 'delta14') THEN bits
                     ELSE 0 END) AS BIGINT) AS header_bits,
       CAST(sum(bits) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS bits_per_point
FROM costed
GROUP BY user_id
ORDER BY user_id
"""


@register("gorilla_block_bits", _GD02_ORACLE)
def gorilla_block_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour aligned block re-initialization (Gorilla block headers):
    every (user, block) restarts head64 + delta14; reports the header
    overhead a too-sparse series pays."""
    pts = (_points(spark, sf_dir)
           .withColumn("blk", F.expr("s div 7200")))
    costed = dod_point_bits(pts, ["user_id", "blk"], "s", "event_id")
    return (costed.groupBy("user_id")
            .agg(F.countDistinct("blk").alias("n_blocks"),
                 F.count(F.lit(1)).alias("n_points"),
                 F.sum("bits").alias("total_bits"),
                 F.sum(F.when(F.col("cls").isin("head64", "delta14"),
                              F.col("bits")).otherwise(0))
                 .alias("header_bits"))
            .select("user_id",
                    F.col("n_blocks").cast("bigint").alias("n_blocks"),
                    F.col("n_points").cast("bigint").alias("n_points"),
                    F.col("total_bits").cast("bigint").alias("total_bits"),
                    F.col("header_bits").cast("bigint")
                    .alias("header_bits"),
                    (F.col("total_bits").cast("double")
                     / F.col("n_points").cast("double"))
                    .alias("bits_per_point"))
            .orderBy("user_id"))


_GD03_ORACLE = f"""
WITH {_PTS_SQL},
{_classified_sql("user_id")},
tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_type
        FROM costed GROUP BY event_type)
SELECT c.event_type, c.cls,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(c.bits) AS BIGINT) AS bits,
       CAST(count(*) AS DOUBLE) / CAST(max(t.n_type) AS DOUBLE) AS share
FROM costed c JOIN tot t ON t.event_type = c.event_type
GROUP BY c.event_type, c.cls
ORDER BY c.event_type, c.cls
"""


@register("gorilla_ladder_histogram", _GD03_ORACLE)
def gorilla_ladder_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ladder-class histogram by event_type: where the bits go — the
    encoder-selection signal (all-dod32 series want plain delta)."""
    pts = dod_point_bits(_points(spark, sf_dir), ["user_id"], "s",
                         "event_id")
    tot = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_type"))
    return (pts.groupBy("event_type", "cls")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("bits").alias("bits"))
            .join(F.broadcast(tot), "event_type")
            .select("event_type", "cls",
                    F.col("n").cast("bigint").alias("n"),
                    F.col("bits").cast("bigint").alias("bits"),
                    (F.col("n").cast("double")
                     / F.col("n_type").cast("double")).alias("share"))
            .orderBy("event_type", "cls"))
