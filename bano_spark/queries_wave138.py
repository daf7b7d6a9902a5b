"""Wave-138 driver queries: V-optimal histograms
(operators/vopt_hist.py) — the optimizer-statistics advisor on a
clustered value domain ((u%8)^2 + noise: 8 tight frequency clusters)
where 6 v-optimal buckets cut SSE by ~3 orders of magnitude vs
equal-width binning, plus the B-sizing curve.

Oracles: the SAME dp_sql/ew_sql generators emit the DuckDB text
(CTE columns — no let-binding needed there; the Spark side binds the
prefix arrays once to dodge project-collapse inlining, see the
operator docstring); prefix sums are exact integers and the DP is a
fixed-order min-fold, so tables match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.vopt_hist import (dp_sql, ew_sql,
                                            voptimal_b_curve,
                                            voptimal_sse)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_B = 6

_FIX = """
SELECT event_type AS grp,
       (u1 % 8) * (u1 % 8) + u2 % 5 AS v
FROM (SELECT event_type,
             (event_id * 2654435761 + 13) % 2147483648 AS u1,
             (event_id * 1103515245 + 12345) % 2147483648 AS u2
      FROM events)"""


def _pfold(sq: str) -> str:
    return (f"list_reduce(list_prepend([CAST(0 AS DOUBLE)], "
            f"list_transform(fr, x -> [x])), "
            f"(a, v) -> list_append(a, a[len(a)] + v[1]{sq}))")


_BASE_CTE = f"""
fix AS ({_FIX}),
freq AS (
  SELECT grp, v, CAST(count(*) AS BIGINT) AS c
  FROM fix GROUP BY 1, 2),
sq AS (
  SELECT grp, list(CAST(c AS DOUBLE) ORDER BY v) AS fr
  FROM freq GROUP BY grp),
pre AS (
  SELECT grp, fr, {_pfold('')} AS p,
         {_pfold(' * v[1]')} AS pp
  FROM sq)"""

_Q1_ORACLE = f"""
WITH {_BASE_CTE},
dp AS (
  SELECT grp, fr, p, pp,
         {dp_sql(_B, 'duckdb', 'fr', 'p', 'pp')} AS e
  FROM pre)
SELECT grp, CAST(len(fr) AS BIGINT) AS n_distinct,
       round(e[len(fr)], 6) AS sse_voptimal,
       round({ew_sql(_B, 'duckdb', 'fr', 'p', 'pp')}, 6)
         AS sse_equalwidth,
       round(CASE WHEN e[len(fr)] <> 0.0
             THEN ({ew_sql(_B, 'duckdb', 'fr', 'p', 'pp')}) / e[len(fr)]
             END, 6) AS improvement
FROM dp ORDER BY grp
"""


@register("voptimal_histogram_advisor", _Q1_ORACLE)
def voptimal_histogram_advisor(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """6-bucket v-optimal vs equal-width SSE per cohort — the whole
    DP inside one Catalyst expression on O(groups) rows."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return voptimal_sse(spark.sql(_FIX), "grp", "v",
                        B=_B).orderBy("grp")


_BS = [2, 4, 6]

_Q2_ORACLE = f"""
WITH {_BASE_CTE},
dp AS (
  SELECT grp, fr,
         {', '.join(f"{dp_sql(b, 'duckdb', 'fr', 'p', 'pp')} AS e{b}"
                    for b in _BS)}
  FROM pre)
{' UNION ALL '.join(
    f"SELECT grp, {b} AS B, round(e{b}[len(fr)], 6) AS sse FROM dp"
    for b in _BS)}
ORDER BY grp, B
"""


@register("voptimal_bucket_curve", _Q2_ORACLE)
def voptimal_bucket_curve(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Optimal SSE at B = 2/4/6 — the diminishing-returns curve that
    sizes the histogram."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return voptimal_b_curve(spark.sql(_FIX), "grp", "v",
                            _BS).orderBy("grp", "B")
