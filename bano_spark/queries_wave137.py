"""Wave-137 driver queries: inequality indices
(operators/inequality.py) — Atkinson(1), Hoover, Palma over a
right-skewed product-of-uniforms "income" (lognormal-flavored,
integer-exact), per event_type cohort.

Oracles: Hoover and Palma are exact integer arithmetic mirrored
textually (the side split y > mu as y*n > S; integer-DIV decile
thresholds); Atkinson micro-quantizes per-row ln to the 2^-24 grid
before the only cross-row sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.inequality import (atkinson_index,
                                             hoover_index, palma_ratio)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_FIX = """
SELECT event_type AS grp, event_id AS id,
       (1 + u1 % 10) * (1 + u2 % 10) * (1 + u3 % 10) AS y
FROM (SELECT event_type, event_id,
             (event_id * 2654435761 + 13) % 2147483648 AS u1,
             (event_id * 1103515245 + 12345) % 2147483648 AS u2,
             (event_id * 69069 + 7) % 2147483648 AS u3
      FROM events)"""

_Q1_ORACLE = f"""
WITH fix AS ({_FIX}),
a AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(y AS DOUBLE)) AS s,
         sum(floor(ln(CAST(y AS DOUBLE)) * 16777216.0) / 16777216.0)
           AS sl
  FROM fix WHERE CAST(y AS DOUBLE) > 0 GROUP BY grp)
SELECT grp, n,
       round(s / CAST(n AS DOUBLE), 6) AS mean_y,
       round(exp(sl / CAST(n AS DOUBLE)), 6) AS geo_mean,
       round(1.0 - exp(sl / CAST(n AS DOUBLE))
             / (s / CAST(n AS DOUBLE)), 6) AS atkinson
FROM a ORDER BY grp
"""


@register("atkinson_inequality", _Q1_ORACLE)
def atkinson_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A(1) = 1 - geomean/mean per cohort; quantized-ln sums keep the
    only cross-row aggregate order-free."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return atkinson_index(spark.sql(_FIX), "grp", "y").orderBy("grp")


_Q2_ORACLE = f"""
WITH fix AS ({_FIX}),
p1 AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS s
  FROM fix GROUP BY grp),
p2 AS (
  SELECT f.grp, min(p.n) AS n, min(p.s) AS s,
         CAST(sum(CASE WHEN f.y * p.n > p.s THEN f.y ELSE 0 END)
              AS BIGINT) AS shi,
         CAST(sum(CASE WHEN f.y * p.n > p.s THEN 1 ELSE 0 END)
              AS BIGINT) AS nhi,
         CAST(sum(CASE WHEN NOT (f.y * p.n > p.s) THEN f.y ELSE 0 END)
              AS BIGINT) AS slo,
         CAST(sum(CASE WHEN NOT (f.y * p.n > p.s) THEN 1 ELSE 0 END)
              AS BIGINT) AS nlo
  FROM fix f JOIN p1 p ON f.grp = p.grp GROUP BY f.grp)
SELECT grp, n, s AS total,
       round(CAST((shi * n - nhi * s) + (nlo * s - slo * n) AS DOUBLE)
             / CAST(2 * s * n AS DOUBLE), 6) AS hoover
FROM p2 ORDER BY grp
"""


@register("hoover_inequality", _Q2_ORACLE)
def hoover_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robin Hood index, exact end-to-end: the y > mu split as the
    integer comparison y*n > S, one final division."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return hoover_index(spark.sql(_FIX), "grp", "y").orderBy("grp")


_Q3_ORACLE = f"""
WITH fix AS ({_FIX}),
rk AS (
  SELECT grp, y,
         row_number() OVER (PARTITION BY grp ORDER BY y, id) AS r,
         count(*) OVER (PARTITION BY grp) AS n
  FROM fix),
a AS (
  SELECT grp, CAST(max(n) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS s,
         CAST(sum(CASE WHEN r <= (4 * n) // 10 THEN y ELSE 0 END)
              AS BIGINT) AS b40,
         CAST(sum(CASE WHEN r > n - n // 10 THEN y ELSE 0 END)
              AS BIGINT) AS t10
  FROM rk GROUP BY grp)
SELECT grp, n, b40 AS bottom40_sum, t10 AS top10_sum,
       round(CAST(t10 AS DOUBLE) / CAST(b40 AS DOUBLE), 6) AS palma,
       round(CAST(t10 AS DOUBLE) / CAST(s AS DOUBLE), 6)
         AS top10_share
FROM a ORDER BY grp
"""


@register("palma_ratio_deciles", _Q3_ORACLE)
def palma_ratio_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10% / bottom-40% income ratio from exact (value, id)-rank
    order statistics."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return palma_ratio(spark.sql(_FIX), "grp", "y", "id").orderBy("grp")
