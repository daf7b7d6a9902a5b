"""Wave-152 driver queries: SPC p-charts (operators/spc.py) — per
event-type control charts over 200-sample subgroups (per-type
row_number, so every subgroup is exactly chart-local) with a planted
3x defect-rate shift in the last quarter of each type's series: the
Western Electric rules light up exactly there.

Oracle: identical subgroup/zone/lag-window computation; all rule
decisions are integer counts over identically-derived z codes."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.spc import p_chart
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_FIX = """
SELECT event_type AS c, rn - 1 AS id,
       CASE WHEN rn * 4 > ntot * 3
            THEN (CASE WHEN u % 1000 < 120 THEN 1 ELSE 0 END)
            ELSE (CASE WHEN u % 1000 < 40 THEN 1 ELSE 0 END)
       END AS e
FROM (SELECT event_type,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS ntot,
             (event_id * 2654435761 + 13) % 2147483648 AS u
      FROM events)"""

_RULE2 = " + ".join(
    "COALESCE(CASE WHEN lag(side, {k}) OVER w = side "
    "THEN lag(a2, {k}) OVER w END, 0)".format(k=k) for k in range(3))
_RULE3 = " + ".join(
    "COALESCE(CASE WHEN lag(side, {k}) OVER w = side "
    "THEN lag(a1, {k}) OVER w END, 0)".format(k=k) for k in range(5))
_RULE4 = " + ".join(
    "CASE WHEN lag(side, {k}) OVER w = side THEN 1 ELSE 0 END"
    .format(k=k) for k in range(8))

_Q1_ORACLE = f"""
WITH fix AS ({_FIX}),
g AS (
  SELECT c, id // 200 AS b, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(e) AS BIGINT) AS defects
  FROM fix GROUP BY 1, 2),
tot AS (
  SELECT c AS _c,
         CAST(sum(e) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pbar
  FROM fix GROUP BY 1),
z AS (
  SELECT g.c, g.b, g.n, g.defects, t.pbar,
         CAST(defects AS DOUBLE) / CAST(n AS DOUBLE) AS p,
         (CAST(defects AS DOUBLE) / CAST(n AS DOUBLE) - t.pbar)
           / sqrt(t.pbar * (1.0 - t.pbar) / 200.0) AS zz
  FROM g JOIN tot t ON g.c = t._c),
zc AS (
  SELECT *, CASE WHEN zz > 0 THEN 1 ELSE -1 END AS side,
         CASE WHEN abs(zz) > 1.0 THEN 1 ELSE 0 END AS a1,
         CASE WHEN abs(zz) > 2.0 THEN 1 ELSE 0 END AS a2,
         CASE WHEN abs(zz) > 3.0 THEN 1 ELSE 0 END AS a3
  FROM z),
rl AS (
  SELECT c, b, n, defects, p, zz,
         a3 = 1 AS rule1_3sigma,
         ({_RULE2}) >= 2 AS rule2_2of3_2sigma,
         ({_RULE3}) >= 4 AS rule3_4of5_1sigma,
         ({_RULE4}) >= 8 AS rule4_8inarow
  FROM zc WINDOW w AS (PARTITION BY c ORDER BY b))
SELECT c, b AS bucket, n, defects, round(p, 6) AS p,
       round(zz, 6) AS z_score,
       rule1_3sigma, rule2_2of3_2sigma, rule3_4of5_1sigma,
       rule4_8inarow,
       rule1_3sigma OR rule2_2of3_2sigma OR rule3_4of5_1sigma
         OR rule4_8inarow AS out_of_control
FROM rl ORDER BY c, bucket
"""


@register("p_chart_western_electric", _Q1_ORACLE)
def p_chart_western_electric(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Per-type p-chart with the four WE runs rules; the planted
    late-series shift trips them."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return p_chart(spark.sql(_FIX), "c", "id", "e", w=200)
