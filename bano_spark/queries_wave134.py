"""Wave-134 driver queries: deterministic RANSAC
(operators/ransac.py) — hash-seeded minimal samples, consensus
voting, exact-integer refit — on a 20%-gross-outlier fixture where
naive OLS is visibly biased (slope ~2.45 vs planted 3) and RANSAC
recovers ~2.92.

Oracle: same three-stage computation in SQL — row_number sampling,
per-candidate line table, integer inlier votes, argmax via a rank
window, and the exact-sum OLS refit — every float a fixed chain on
exact integers, so results match bit-for-bit before round-to-6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.ransac import ransac_candidates, ransac_line
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_FIX = """
SELECT user_id % 6 AS grp, event_id AS id, u1 % 60 AS x,
       CASE WHEN u3 % 5 = 0 THEN u2 % 200
            ELSE 7 + 3 * (u1 % 60) + (u2 % 5) - 2 END AS y
FROM (SELECT user_id, event_id,
             (event_id * 2654435761 + 13) % 2147483648 AS u1,
             (event_id * 1103515245 + 12345) % 2147483648 AS u2,
             (event_id * 69069 + 7) % 2147483648 AS u3
      FROM events)"""

_BSQL = "CAST(y2 - y1 AS DOUBLE) / CAST(x2 - x1 AS DOUBLE)"

_BASE_CTE = f"""
fix AS ({_FIX}),
pts AS (
  SELECT grp, x, y,
         row_number() OVER (PARTITION BY grp ORDER BY id) - 1 AS r,
         count(*) OVER (PARTITION BY grp) AS n
  FROM fix),
smp AS (
  SELECT p.grp, CAST(t.range AS BIGINT) AS s,
         max(CASE WHEN p.r = (t.range * 2654435761 + 101) % p.n
             THEN p.x END) AS x1,
         max(CASE WHEN p.r = (t.range * 2654435761 + 101) % p.n
             THEN p.y END) AS y1,
         max(CASE WHEN p.r = (t.range * 1103515245 + 57) % p.n
             THEN p.x END) AS x2,
         max(CASE WHEN p.r = (t.range * 1103515245 + 57) % p.n
             THEN p.y END) AS y2
  FROM pts p CROSS JOIN range(0, 16) t GROUP BY 1, 2),
lines AS (
  SELECT grp, s,
         CASE WHEN x2 <> x1 THEN {_BSQL} END AS b,
         CASE WHEN x2 <> x1 THEN CAST(y1 AS DOUBLE)
              - ({_BSQL}) * CAST(x1 AS DOUBLE) END AS a
  FROM smp),
cnt AS (
  SELECT l.grp, l.s, l.a, l.b,
         CASE WHEN l.a IS NULL THEN CAST(-1 AS BIGINT)
              ELSE CAST(sum(CASE WHEN abs(CAST(p.y AS DOUBLE)
                   - (l.a + l.b * CAST(p.x AS DOUBLE))) <= 2.5
                   THEN 1 ELSE 0 END) AS BIGINT) END AS inl
  FROM pts p JOIN lines l ON p.grp = l.grp
  GROUP BY 1, 2, 3, 4)"""

_Q1_ORACLE = f"""
WITH {_BASE_CTE}
SELECT grp, CAST(s AS INT) AS cand, round(b, 6) AS slope,
       round(a, 6) AS icept, inl AS inliers
FROM cnt ORDER BY grp, cand
"""


@register("ransac_candidate_votes", _Q1_ORACLE)
def ransac_candidate_votes(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """All 16 hash-seeded candidate lines with their consensus votes
    — integer counts, no double sums anywhere."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return ransac_candidates(spark.sql(_FIX), "grp", "x", "y",
                             "id").orderBy("grp", "cand")


_OLS = """({n} * CAST({sxy} AS DOUBLE)
  - CAST({sx} AS DOUBLE) * CAST({sy} AS DOUBLE))
  / ({n} * CAST({sxx} AS DOUBLE)
     - CAST({sx} AS DOUBLE) * CAST({sx} AS DOUBLE))"""

_Q2_ORACLE = f"""
WITH {_BASE_CTE},
best AS (
  SELECT grp, s, a, b, inl,
         row_number() OVER (PARTITION BY grp
                            ORDER BY inl DESC, s) AS rk
  FROM cnt),
fit AS (
  SELECT p.grp,
         CAST(max(p.n) AS BIGINT) AS n,
         CAST(max(b.s) AS INT) AS best_cand,
         max(b.inl) AS inliers,
         CAST(sum(CASE WHEN abs(CAST(p.y AS DOUBLE)
              - (b.a + b.b * CAST(p.x AS DOUBLE))) <= 2.5
              THEN 1 ELSE 0 END) AS BIGINT) AS ni,
         CAST(sum(CASE WHEN abs(CAST(p.y AS DOUBLE)
              - (b.a + b.b * CAST(p.x AS DOUBLE))) <= 2.5
              THEN p.x ELSE 0 END) AS BIGINT) AS sx,
         CAST(sum(CASE WHEN abs(CAST(p.y AS DOUBLE)
              - (b.a + b.b * CAST(p.x AS DOUBLE))) <= 2.5
              THEN p.y ELSE 0 END) AS BIGINT) AS sy,
         CAST(sum(CASE WHEN abs(CAST(p.y AS DOUBLE)
              - (b.a + b.b * CAST(p.x AS DOUBLE))) <= 2.5
              THEN p.x * p.y ELSE 0 END) AS BIGINT) AS sxy,
         CAST(sum(CASE WHEN abs(CAST(p.y AS DOUBLE)
              - (b.a + b.b * CAST(p.x AS DOUBLE))) <= 2.5
              THEN p.x * p.x ELSE 0 END) AS BIGINT) AS sxx,
         CAST(sum(p.x) AS BIGINT) AS tx, CAST(sum(p.y) AS BIGINT) AS ty,
         CAST(sum(p.x * p.y) AS BIGINT) AS txy,
         CAST(sum(p.x * p.x) AS BIGINT) AS txx
  FROM pts p JOIN best b ON p.grp = b.grp AND b.rk = 1
  GROUP BY 1)
SELECT grp, n, best_cand, inliers,
       round({_OLS.format(n='CAST(ni AS DOUBLE)', sx='sx', sy='sy',
                          sxy='sxy', sxx='sxx')}, 6) AS slope_ransac,
       round((CAST(sy AS DOUBLE)
              - ({_OLS.format(n='CAST(ni AS DOUBLE)', sx='sx', sy='sy',
                              sxy='sxy', sxx='sxx')})
              * CAST(sx AS DOUBLE)) / CAST(ni AS DOUBLE), 6)
         AS icept_ransac,
       round({_OLS.format(n='CAST(n AS DOUBLE)', sx='tx', sy='ty',
                          sxy='txy', sxx='txx')}, 6) AS slope_ols,
       round((CAST(ty AS DOUBLE)
              - ({_OLS.format(n='CAST(n AS DOUBLE)', sx='tx', sy='ty',
                              sxy='txy', sxx='txx')})
              * CAST(tx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
         AS icept_ols
FROM fit ORDER BY grp
"""


@register("ransac_robust_fit", _Q2_ORACLE)
def ransac_robust_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consensus winner refit on its inliers vs naive OLS — RANSAC
    slope lands near the planted 3, OLS is outlier-dragged."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return ransac_line(spark.sql(_FIX), "grp", "x", "y",
                       "id").orderBy("grp")
