"""Wave-140 driver queries: join-order chain advisor
(operators/joinchain.py) — the matrix-chain DP on 16-relation
cardinality chains per cohort: optimal bushy cost vs the left-deep /
right-deep defaults (observed penalties of 5-20x on hash-varied
chains — the System-R lesson measured).

Oracles: the SAME chain_dp_sql / deep-cost generators emit the
DuckDB nested list-of-lists replay; all quantities are exact
integer-valued doubles folded in fixed order."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.joinchain import (chain_dp_sql, _left_deep,
                                            _right_deep,
                                            join_chain_advisor,
                                            join_chain_curve)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_FIX = """
SELECT g, ord, s FROM (
  SELECT user_id % 15 AS g, event_id AS ord,
         1 + (event_id * 2654435761 + 13) % 2147483648 % 40 AS s,
         row_number() OVER (PARTITION BY user_id % 15
                            ORDER BY event_id) AS rn
  FROM events)
WHERE rn <= 17"""

_DP = chain_dp_sql("duckdb", "p")
_LD = _left_deep("duckdb", "p")
_RD = _right_deep("duckdb", "p")

_SQ_CTE = f"""
fix AS ({_FIX}),
sq AS (
  SELECT g, list(CAST(s AS DOUBLE) ORDER BY ord) AS p
  FROM fix GROUP BY g HAVING count(*) >= 4)"""

_Q1_ORACLE = f"""
WITH {_SQ_CTE},
dp AS (SELECT g, p, {_DP} AS C FROM sq)
SELECT g, CAST(len(p) - 1 AS BIGINT) AS n_rel,
       CAST(C[len(p) - 1][1] AS BIGINT) AS cost_optimal,
       CAST({_LD} AS BIGINT) AS cost_left_deep,
       CAST({_RD} AS BIGINT) AS cost_right_deep,
       round(({_LD}) / C[len(p) - 1][1], 6) AS left_deep_penalty
FROM dp ORDER BY g
"""


@register("join_chain_order_advisor", _Q1_ORACLE)
def join_chain_order_advisor(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Optimal chain-join cost (one O(n^3) Catalyst expression per
    group) vs the left/right-deep defaults."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return join_chain_advisor(spark.sql(_FIX), "g", "ord",
                              "s").orderBy("g")


_Q2_ORACLE = f"""
WITH {_SQ_CTE},
dp AS (SELECT g, p, {_DP} AS C FROM sq WHERE len(p) >= 7)
{' UNION ALL '.join(
    f"SELECT g, {L} AS L, CAST(C[{L}][1] AS BIGINT) AS cost FROM dp"
    for L in range(2, 7))}
ORDER BY g, L
"""


@register("join_chain_prefix_curve", _Q2_ORACLE)
def join_chain_prefix_curve(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Optimal cost of joining the first L relations, L = 2..6 — the
    planner's incremental-growth curve."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return join_chain_curve(spark.sql(_FIX), "g", "ord", "s",
                            max_l=6).orderBy("g", "L")
