"""Wave-105 driver queries: identifier check-digit audits
(operators/checksums.py) — Luhn payment-card, IBAN mod-97, and
ISBN-10 validation over deterministically synthesized id populations
with a known corruption rate.

Fixtures (identical string algebra both engines): each event
synthesizes an id from a multiplicative hash, computes the CORRECT
check digit with the same closed form under test, then corrupts a
deterministic slice (event_id % k == 0) by bumping the check value —
so expected invalid counts are exact and the validator must agree
with the generator everywhere else.

The Spark side evaluates the generator/validator sums via F.expr on
the SAME SQL text the DuckDB oracle runs (luhn_sum_sql /
isbn10_sum_sql emit engine-neutral ANSI), keeping the closed forms
single-sourced.

Ref parity: the reference validates RIVOLI key check digits when
loading FANTOIR (bano/sources/fantoir.py); same ingest-time
check-digit gate for card/banking/publishing identifiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.checksums import (
    iban_mod97_valid, isbn10_sum_sql, luhn_sum_sql)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# cs01 — Luhn card audit.  base15 || computed check digit; every 5th
# event bumps the check (+1 mod 10) -> invalid.
# ---------------------------------------------------------------------------

_CARD0 = ("lpad(CAST((event_id * 2654435761) % 1000000000000000 "
          "AS VARCHAR), 15, '0') || '0'")
_LSUM0 = luhn_sum_sql("card0")
_LSUM = luhn_sum_sql("card")

_CS01_ORACLE = f"""
WITH b AS (
  SELECT event_id, user_id, {_CARD0} AS card0 FROM events),
chk AS (
  SELECT event_id, user_id, substring(card0, 1, 15) AS base15,
         (10 - ({_LSUM0}) % 10) % 10 AS c
  FROM b),
cards AS (
  SELECT event_id, user_id,
         base15 || CAST(CASE WHEN event_id % 5 = 0
                             THEN (c + 1) % 10 ELSE c END
                        AS VARCHAR) AS card
  FROM chk)
SELECT user_id,
       CAST(count(*) FILTER (WHERE ({_LSUM}) % 10 = 0) AS BIGINT)
         AS n_valid,
       CAST(count(*) FILTER (WHERE ({_LSUM}) % 10 <> 0) AS BIGINT)
         AS n_invalid
FROM cards GROUP BY user_id
"""


@register("luhn_card_audit", _CS01_ORACLE)
def luhn_card_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = ev.select("event_id", "user_id",
                  F.expr(_CARD0.replace("VARCHAR", "STRING"))
                  .alias("card0"))
    chk = b.select(
        "event_id", "user_id",
        F.expr("substring(card0, 1, 15)").alias("base15"),
        F.expr(f"(10 - ({_LSUM0}) % 10) % 10").alias("c"))
    cards = chk.select(
        "user_id",
        F.expr("base15 || CAST(CASE WHEN event_id % 5 = 0 "
               "THEN (c + 1) % 10 ELSE c END AS STRING)").alias("card"))
    valid = F.expr(f"({_LSUM}) % 10 = 0")
    return cards.groupBy("user_id").agg(
        F.count(F.when(valid, 1)).cast("bigint").alias("n_valid"),
        F.count(F.when(~valid, 1)).cast("bigint").alias("n_invalid"))


# ---------------------------------------------------------------------------
# cs02 — IBAN mod-97.  numeric = bban(10) || '1527' (FR) || check(2);
# valid iff numeric % 97 == 1.  Every 7th event bumps the check.
# ---------------------------------------------------------------------------

_CS02_ORACLE = """
WITH b AS (
  SELECT event_id, user_id,
         lpad(CAST((event_id * 48271 + 7) % 10000000000 AS VARCHAR),
              10, '0') AS bban
  FROM events),
chk AS (
  SELECT event_id, user_id, bban,
         98 - CAST(bban || '152700' AS BIGINT) % 97 AS c
  FROM b),
ib AS (
  SELECT user_id,
         CAST(bban || '1527' ||
              lpad(CAST(CASE WHEN event_id % 7 = 0 THEN (c + 1) % 100
                             ELSE c END AS VARCHAR), 2, '0')
              AS BIGINT) AS numeric
  FROM chk)
SELECT user_id,
       CAST(count(*) FILTER (WHERE numeric % 97 = 1) AS BIGINT)
         AS n_valid,
       CAST(count(*) FILTER (WHERE numeric % 97 <> 1) AS BIGINT)
         AS n_invalid
FROM ib GROUP BY user_id
"""


@register("iban_mod97_audit", _CS02_ORACLE)
def iban_mod97_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = ev.select(
        "event_id", "user_id",
        F.expr("lpad(CAST((event_id * 48271 + 7) % 10000000000 "
               "AS STRING), 10, '0')").alias("bban"))
    chk = b.withColumn(
        "c", F.expr("98 - CAST(bban || '152700' AS BIGINT) % 97"))
    ib = chk.select(
        "user_id",
        F.expr("CAST(bban || '1527' || lpad(CAST(CASE WHEN "
               "event_id % 7 = 0 THEN (c + 1) % 100 ELSE c END "
               "AS STRING), 2, '0') AS BIGINT)").alias("numeric"))
    valid = iban_mod97_valid(F.col("numeric"))
    return ib.groupBy("user_id").agg(
        F.count(F.when(valid, 1)).cast("bigint").alias("n_valid"),
        F.count(F.when(~valid, 1)).cast("bigint").alias("n_invalid"))


# ---------------------------------------------------------------------------
# cs03 — ISBN-10 with 'X' check char.  Every 9th event bumps the
# check value (+1 mod 11) -> invalid; rollup by (has_x, valid).
# ---------------------------------------------------------------------------

_ISUM = isbn10_sum_sql("isbn")

_CS03_ORACLE = f"""
WITH b AS (
  SELECT event_id,
         lpad(CAST((event_id * 16807 + 11) % 1000000000 AS VARCHAR),
              9, '0') AS base9
  FROM events),
chk AS (
  SELECT event_id, base9,
         (11 - (10 * CAST(substring(base9, 1, 1) AS INT)
              + 9 * CAST(substring(base9, 2, 1) AS INT)
              + 8 * CAST(substring(base9, 3, 1) AS INT)
              + 7 * CAST(substring(base9, 4, 1) AS INT)
              + 6 * CAST(substring(base9, 5, 1) AS INT)
              + 5 * CAST(substring(base9, 6, 1) AS INT)
              + 4 * CAST(substring(base9, 7, 1) AS INT)
              + 3 * CAST(substring(base9, 8, 1) AS INT)
              + 2 * CAST(substring(base9, 9, 1) AS INT)) % 11) % 11
           AS r
  FROM b),
isbns AS (
  SELECT base9 ||
         CASE WHEN (CASE WHEN event_id % 9 = 0 THEN (r + 1) % 11
                         ELSE r END) = 10 THEN 'X'
              ELSE CAST((CASE WHEN event_id % 9 = 0 THEN (r + 1) % 11
                              ELSE r END) AS VARCHAR) END AS isbn
  FROM chk)
SELECT CAST(substring(isbn, 10, 1) = 'X' AS BOOLEAN) AS has_x,
       CAST(({_ISUM}) % 11 = 0 AS BOOLEAN) AS valid,
       CAST(count(*) AS BIGINT) AS n
FROM isbns GROUP BY 1, 2
"""


@register("isbn10_check_audit", _CS03_ORACLE)
def isbn10_check_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = ev.select(
        "event_id",
        F.expr("lpad(CAST((event_id * 16807 + 11) % 1000000000 "
               "AS STRING), 9, '0')").alias("base9"))
    wsum = " + ".join(
        f"{11 - i} * CAST(substring(base9, {i}, 1) AS INT)"
        for i in range(1, 10))
    chk = b.withColumn("r", F.expr(f"(11 - ({wsum}) % 11) % 11"))
    isbns = chk.select(F.expr(
        "base9 || CASE WHEN (CASE WHEN event_id % 9 = 0 THEN "
        "(r + 1) % 11 ELSE r END) = 10 THEN 'X' ELSE CAST((CASE WHEN "
        "event_id % 9 = 0 THEN (r + 1) % 11 ELSE r END) AS STRING) "
        "END").alias("isbn"))
    return (isbns
            .withColumn("has_x",
                        F.expr("substring(isbn, 10, 1) = 'X'"))
            .withColumn("valid", F.expr(f"({_ISUM}) % 11 = 0"))
            .groupBy("has_x", "valid")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
