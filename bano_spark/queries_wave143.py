"""Wave-143 driver queries: external-sort planning
(operators/extsort.py) — natural-run statistics per user stream and
the global k-way merge-pass advisor over a partially-sorted sequence
(50-step ascending blocks with hash noise: runs are ~17x longer than
random, and fan-in 16 needs 2 passes where fan-in 2 needs ~9).

Oracles: identical chunked-window + boundary-join computation in
DuckDB; passes via the same exact integer power-doubling fold (no
log() float edge). All integers; the only division is avg run
length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.extsort import (merge_pass_advisor,
                                          natural_runs_per_key)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_FIX = """
SELECT user_id % 30 AS k, event_id AS o,
       (event_id % 50) * 20 + u % 30 AS v
FROM (SELECT user_id, event_id,
             (event_id * 2654435761 + 13) % 2147483648 AS u
      FROM events)"""

_Q1_ORACLE = f"""
WITH fix AS ({_FIX}),
w1 AS (
  SELECT k, o, v,
         CASE WHEN v < lag(v) OVER (PARTITION BY k ORDER BY o)
              THEN 1 ELSE 0 END AS brk
  FROM fix),
w2 AS (
  SELECT k, v,
         sum(brk) OVER (PARTITION BY k ORDER BY o
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS rid
  FROM w1),
runs AS (
  SELECT k, rid, CAST(count(*) AS BIGINT) AS rl
  FROM w2 GROUP BY 1, 2)
SELECT k, CAST(sum(rl) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_runs,
       round(CAST(sum(rl) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS avg_run_len,
       CAST(max(rl) AS BIGINT) AS longest_run
FROM runs GROUP BY k ORDER BY k
"""


@register("natural_runs_per_key", _Q1_ORACLE)
def q_natural_runs_per_key(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Ascending-run stats per user stream — one partition-bounded
    window + two hash aggregates."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return natural_runs_per_key(spark.sql(_FIX), "k", "o",
                                "v").orderBy("k")


_GFIX = """
SELECT event_id AS o, (event_id % 50) * 20 + u % 30 AS v
FROM (SELECT event_id,
             (event_id * 2654435761 + 13) % 2147483648 AS u
      FROM events)"""

_FANINS = [2, 4, 8, 16]

_Q2_ORACLE = f"""
WITH fix AS ({_GFIX}),
d AS (SELECT o, v, o // 512 AS c FROM fix),
w1 AS (
  SELECT c, o, v,
         CASE WHEN v < lag(v) OVER (PARTITION BY c ORDER BY o)
              THEN 1 ELSE 0 END AS brk
  FROM d),
per AS (
  SELECT c, CAST(sum(brk) AS BIGINT) AS cb,
         min_by(v, o) AS fv, max_by(v, o) AS lv,
         CAST(count(*) AS BIGINT) AS cn
  FROM w1 GROUP BY c),
j AS (
  SELECT per.*, lead(fv) OVER (ORDER BY c) AS nfv FROM per),
tot AS (
  SELECT CAST(sum(cn) AS BIGINT) AS n_rows,
         CAST(1 + sum(cb) + sum(CASE WHEN nfv < lv THEN 1 ELSE 0 END)
              AS BIGINT) AS n_runs
  FROM j)
{' UNION ALL '.join(
    f"SELECT {k} AS fan_in, n_rows, n_runs, "
    f"CAST(list_reduce(list_prepend([CAST(0 AS DOUBLE), "
    f"CAST(1 AS DOUBLE)], "
    f"list_transform(generate_series(1, 40), "
    f"i -> [CAST(i AS DOUBLE)])), "
    f"(s, v) -> CASE WHEN s[2] >= CAST(n_runs AS DOUBLE) "
    f"THEN [s[1], s[2]] ELSE [s[1] + 1.0, s[2] * {k}.0] END)[1] "
    f"AS BIGINT) AS passes FROM tot" for k in _FANINS)}
ORDER BY fan_in
"""


@register("merge_pass_advisor", _Q2_ORACLE)
def q_merge_pass_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global run count via chunked windows + a next-non-empty-chunk
    boundary lead over the chunk-summary table (robust to sparse
    order keys with empty chunks), then exact integer merge-pass
    planning per fan-in."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return merge_pass_advisor(spark.sql(_GFIX), "o", "v",
                              fanins=_FANINS)
