"""Wave-145 driver queries: stratified 2x2 association
(outcome hashes take SHIFTED bits — u2/128 — before the mod: the
raw LCG outputs are affine functions of each other, so conditioning
on u1 thresholds biases raw u2 mod classes)
 — (operators/stratified2x2.py).

Simpson fixture (2 strata): within BOTH strata the exposure raises
the outcome rate (0.5 vs 0.4; 0.9 vs 0.8) but exposure concentrates
in the low-baseline stratum (80%/20% allocation), so the TOTAL row
flips — exposure_helps is true per stratum, false overall: the
paradox as a query result.

MH fixture (4 strata): a common planted within-stratum odds ratio
with stratum-varying baselines and exposure mixes: the crude OR is
confounded away from the per-stratum ORs, Mantel-Haenszel recovers
the common effect.

Oracles: ROLLUP + exact cross-multiplied flags; MH pivots strata to
one row and sums rationals in fixed textual order — bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.stratified2x2 import (mantel_haenszel,
                                                simpson_rollup)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_SIMPSON_FIX = """
SELECT s,
       CASE WHEN s = 0 THEN (CASE WHEN u1 % 10 < 8 THEN 1 ELSE 0 END)
            ELSE (CASE WHEN u1 % 10 < 2 THEN 1 ELSE 0 END) END AS x,
       CASE WHEN s = 0
            THEN (CASE WHEN (CASE WHEN u1 % 10 < 8 THEN 1 ELSE 0 END)
                       = 1
                  THEN (CASE WHEN CAST(floor(u2 / 128.0) AS BIGINT) % 10 < 5 THEN 1 ELSE 0 END)
                  ELSE (CASE WHEN CAST(floor(u2 / 128.0) AS BIGINT) % 10 < 4 THEN 1 ELSE 0 END) END)
            ELSE (CASE WHEN (CASE WHEN u1 % 10 < 2 THEN 1 ELSE 0 END)
                       = 1
                  THEN (CASE WHEN CAST(floor(u2 / 128.0) AS BIGINT) % 10 < 9 THEN 1 ELSE 0 END)
                  ELSE (CASE WHEN CAST(floor(u2 / 128.0) AS BIGINT) % 10 < 8 THEN 1 ELSE 0 END) END)
       END AS y
FROM (SELECT u3 % 2 AS s, u1, u2 FROM (
  SELECT (event_id * 2654435761 + 13) % 2147483648 AS u1,
         (event_id * 1103515245 + 12345) % 2147483648 AS u2,
         (event_id * 48271 + 3) % 2147483648 AS u3
  FROM events))"""

_Q1_ORACLE = f"""
WITH fix AS ({_SIMPSON_FIX}),
a AS (
  SELECT s, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN x = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS exposed,
         CAST(sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS exposed_pos,
         CAST(sum(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS unexposed,
         CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS unexposed_pos
  FROM fix GROUP BY ROLLUP (s))
SELECT s, n, exposed, exposed_pos, unexposed, unexposed_pos,
       round(CAST(exposed_pos AS DOUBLE)
             / CAST(exposed AS DOUBLE), 6) AS exposed_rate,
       round(CAST(unexposed_pos AS DOUBLE)
             / CAST(unexposed AS DOUBLE), 6) AS unexposed_rate,
       exposed_pos * unexposed > unexposed_pos * exposed
         AS exposure_helps
FROM a ORDER BY s NULLS LAST
"""


@register("simpson_paradox_audit", _Q1_ORACLE)
def simpson_paradox_audit(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """ROLLUP rates + exact cross-multiplied direction: strata say
    exposure helps, the total row says it hurts."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return simpson_rollup(spark.sql(_SIMPSON_FIX), "s", "x", "y") \
        .orderBy(F.col("s").asc_nulls_last())


_MH_FIX = """
SELECT u3 % 4 AS s,
       CASE WHEN u1 % 10 < 2 + (u3 % 4) * 2 THEN 1 ELSE 0 END AS x,
       CASE WHEN (CASE WHEN u1 % 10 < 2 + (u3 % 4) * 2
                  THEN 1 ELSE 0 END) = 1
            THEN (CASE WHEN CAST(floor(u2 / 128.0) AS BIGINT) % 20 < 6 + (u3 % 4) * 3
                  THEN 1 ELSE 0 END)
            ELSE (CASE WHEN CAST(floor(u2 / 128.0) AS BIGINT) % 20 < 2 + (u3 % 4) * 3
                  THEN 1 ELSE 0 END) END AS y
FROM (SELECT (event_id * 2654435761 + 13) % 2147483648 AS u1,
             (event_id * 1103515245 + 12345) % 2147483648 AS u2,
             (event_id * 48271 + 3) % 2147483648 AS u3
      FROM events)"""


def _cells() -> str:
    out = []
    for s in range(4):
        for nm, cond in [("a", "x = 1 AND y = 1"),
                         ("b", "x = 1 AND y = 0"),
                         ("c", "x = 0 AND y = 1"),
                         ("d", "x = 0 AND y = 0")]:
            out.append(f"CAST(sum(CASE WHEN s = {s} AND {cond} "
                       f"THEN 1 ELSE 0 END) AS BIGINT) AS {nm}{s}")
    return ", ".join(out)


_NUM = " + ".join(
    f"CAST(a{s} AS DOUBLE) * CAST(d{s} AS DOUBLE) "
    f"/ CAST(a{s} + b{s} + c{s} + d{s} AS DOUBLE)" for s in range(4))
_DEN = " + ".join(
    f"CAST(b{s} AS DOUBLE) * CAST(c{s} AS DOUBLE) "
    f"/ CAST(a{s} + b{s} + c{s} + d{s} AS DOUBLE)" for s in range(4))

_Q2_ORACLE = f"""
WITH fix AS ({_MH_FIX}),
one AS (SELECT {_cells()} FROM fix)
SELECT {', '.join(
    f"round(CAST(a{s} AS DOUBLE) * CAST(d{s} AS DOUBLE) "
    f"/ (CAST(b{s} AS DOUBLE) * CAST(c{s} AS DOUBLE)), 6) AS or{s}"
    for s in range(4))},
       round(({_NUM}) / ({_DEN}), 6) AS mh_or,
       round(CAST(({' + '.join(f'a{s}' for s in range(4))}) AS DOUBLE)
             * CAST(({' + '.join(f'd{s}' for s in range(4))}) AS DOUBLE)
             / (CAST(({' + '.join(f'b{s}' for s in range(4))})
                     AS DOUBLE)
                * CAST(({' + '.join(f'c{s}' for s in range(4))})
                       AS DOUBLE)), 6) AS crude_or
FROM one
"""


@register("mantel_haenszel_pooled_or", _Q2_ORACLE)
def mantel_haenszel_pooled_or(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Per-stratum ORs + MH pooled vs the confounded crude OR —
    strata pivoted to one row, fixed-order rational sums."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return mantel_haenszel(spark.sql(_MH_FIX), "s", "x", "y", 4)
