"""Wave-74 driver queries: (1) maximum non-overlapping interval count
per user — earliest-deadline-first greedy (provably optimal), the
scheduling primitive behind crawl-slot allocation; (2) 0/1 knapsack
optimum per user at capacity 40 — the pseudo-polynomial DP table
folded item-by-item, the budgeted-selection primitive. Both pure
integer folds replayed move-for-move in DuckDB list accumulators —
exact parity, no rounding anywhere."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# cg01 — greedy interval scheduling per user.
# ---------------------------------------------------------------------------

_IV_FIXTURE = """
SELECT user_id, event_id,
       CAST(k1 % 10000 AS BIGINT) AS s,
       CAST(k1 % 10000 + 1 + k2 % 500 AS BIGINT) AS e
FROM (SELECT user_id, event_id,
             (event_id * 2654435761 + 61) % 2147483648 AS k1,
             (event_id * 2654435761 + 67) % 2147483648 AS k2
      FROM events)
"""

_CG01_ORACLE = f"""
WITH x AS ({_IV_FIXTURE}),
s AS (
  SELECT user_id, list([e, s] ORDER BY e, s) AS iv
  FROM x GROUP BY user_id)
SELECT user_id, CAST(len(iv) AS BIGINT) AS n_intervals,
       list_reduce(
         list_prepend([CAST(0 AS BIGINT),
                       CAST(-9223372036854775808 AS BIGINT)], iv),
         (acc, r) -> CASE WHEN r[2] >= acc[2]
                     THEN [acc[1] + 1, r[1]]
                     -- fresh list, NEVER "ELSE acc": DuckDB 1.x
                     -- mis-evaluates a pass-through accumulator
                     -- branch under multi-row vectorized list_reduce
                     -- (3 of 150 groups wrong, correct single-row)
                     ELSE [acc[1], acc[2]] END)[1]
       AS max_non_overlapping
FROM s ORDER BY user_id
"""


@register("interval_scheduling", _CG01_ORACLE)
def q_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.sessions import interval_scheduling

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    x = spark.sql(_IV_FIXTURE)
    return interval_scheduling(x, "user_id", "s", "e")


# ---------------------------------------------------------------------------
# cg02 — 0/1 knapsack optimum per user (capacity 40).
# ---------------------------------------------------------------------------

_KS_FIXTURE = """
SELECT user_id, event_id AS rid,
       CAST(1 + k1 % 10 AS BIGINT) AS wt,
       CAST(1 + k2 % 100 AS BIGINT) AS val
FROM (SELECT user_id, event_id,
             (event_id * 2654435761 + 71) % 2147483648 AS k1,
             (event_id * 2654435761 + 73) % 2147483648 AS k2
      FROM events)
"""

_CG02_ORACLE = f"""
WITH x AS ({_KS_FIXTURE}),
s AS (
  SELECT user_id, list([rid, wt, val] ORDER BY rid) AS items
  FROM x GROUP BY user_id)
SELECT user_id, CAST(len(items) AS BIGINT) AS n_items,
       list_reduce(
         list_prepend(
           list_transform(range(0, 41), w -> CAST(0 AS BIGINT)),
           items),
         (acc, it) -> list_transform(range(0, 41), w ->
           CASE WHEN w >= it[2]
                THEN greatest(acc[w + 1], acc[w - it[2] + 1] + it[3])
                ELSE acc[w + 1] END))[41]
       AS best_value
FROM s ORDER BY user_id
"""


@register("knapsack_01", _CG02_ORACLE)
def q_knapsack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.selection import knapsack_01

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    x = spark.sql(_KS_FIXTURE)
    return knapsack_01(x, "user_id", "wt", "val", "rid", capacity=40)
