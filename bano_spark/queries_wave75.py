"""Wave-75 driver queries: sequence compressibility pair — (1)
fundamental (smallest) period of each user's symbol stream, partial
final period allowed (users ≡ 0 mod 3 emit a seq%6 cycle, the rest a
hash stream whose period is ~n); (2) Burrows-Wheeler transform run
count over the same streams (periodic users collapse to few runs).
Both pure string/integer algebra — exact parity, no rounding."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


def _sym_fixture_sql(dialect: str) -> str:
    return f"""
SELECT user_id, seq, event_id,
       CASE WHEN user_id % 3 = 0 THEN CAST(seq % 6 AS STRING)
            ELSE CAST((event_id * 2654435761 + 83)
                      % 2147483648 % 10 AS STRING) END AS sym
FROM ({synth.series_select_sql(dialect)})
"""


# ---------------------------------------------------------------------------
# ch01 — fundamental period per user.
# ---------------------------------------------------------------------------

_CH01_ORACLE = f"""
WITH x AS ({_sym_fixture_sql('duckdb')}),
s AS (
  SELECT user_id, list(sym ORDER BY seq) AS a
  FROM x GROUP BY user_id)
SELECT user_id, CAST(len(a) AS BIGINT) AS n_events,
       CAST(list_filter(range(1, len(a) + 1), p ->
              p = len(a)
              OR a[1 : len(a) - p] = a[p + 1 : len(a)])[1]
            AS BIGINT) AS period
FROM s ORDER BY user_id
"""


@register("fundamental_period", _CH01_ORACLE)
def q_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import fundamental_period

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    x = spark.sql(_sym_fixture_sql("spark"))
    return fundamental_period(x, "user_id", ["seq"], "sym")


# ---------------------------------------------------------------------------
# ch02 — BWT run count per user.
# ---------------------------------------------------------------------------

_CH02_ORACLE = f"""
WITH x AS ({_sym_fixture_sql('duckdb')}),
s AS (
  SELECT user_id, string_agg(sym, '' ORDER BY seq) AS st
  FROM x GROUP BY user_id),
r AS (
  SELECT user_id, length(st) AS n,
         list_sort(list_transform(range(0, length(st) + 1), k2 ->
           substr(st || '$' || st || '$', k2 + 1,
                  length(st) + 1))) AS rots
  FROM s)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       CAST(CAST(list_reduce(
         list_prepend(['', '0'],
                      list_transform(rots, t -> [t])),
         (acc, v) -> [substr(v[1], length(v[1]), 1),
                      CAST(CAST(acc[2] AS INT)
                           + CASE WHEN substr(v[1], length(v[1]), 1)
                                  = acc[1] THEN 0 ELSE 1 END
                           AS VARCHAR)])[2] AS INT) AS BIGINT)
       AS bwt_runs
FROM r ORDER BY user_id
"""


@register("bwt_run_count", _CH02_ORACLE)
def q_bwt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import bwt_runs

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    x = spark.sql(_sym_fixture_sql("spark"))
    return bwt_runs(x, "user_id", ["seq"], "sym")
