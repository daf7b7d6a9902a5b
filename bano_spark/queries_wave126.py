"""Wave-126 driver queries: post-regression diagnostics
(operators/diagnostics.py) — Jarque-Bera normality per group,
Ljung-Box whiteness per user series, Breusch-Pagan
heteroscedasticity LM — the audit triple a warehouse publishes next
to every fitted model (complements welch_ttest / ks_two_sample /
durbin_watson_residuals).

Fixtures (all exact-integer, hash-derived from event_id):
- JB: every event_type gets a uniform mod-97 draw (ex-kurtosis -1.2,
  skew 0) EXCEPT 'error', planted as the SQUARE of a mod-10 draw —
  strongly right-skewed, so its jb_stat dominates by orders of
  magnitude.
- LB: white mod-41 noise per user, except users with user_id%15==0
  planted with a period-4 staircase (+ small noise) — large positive
  rho4-driven Q.
- BP: y = 5 + 3x + eps with eps ~ U[-x, x] for odd-user group 1
  (variance grows with x -> hetero) vs U[-10,10] for group 0.

All three statistics are fixed double chains over exact integer /
dyadic sums (see the operator module's exactness contract), so the
oracles mirror the arithmetic textually and match bit-for-bit
unrounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.diagnostics import (breusch_pagan, jarque_bera,
                                              ljung_box)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _events(spark: SparkSession, sf_dir: str) -> None:
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")


# ---------------------------------------------------------------------------
# bz01 — Jarque-Bera normality audit per event_type
# ---------------------------------------------------------------------------

_JB_FIX = """
SELECT event_type AS grp,
       CASE WHEN event_type = 'error'
            THEN (u % 10) * (u % 10)
            ELSE u % 97 END AS x
FROM (SELECT event_type,
             (event_id * 2654435761 + 13) % 2147483648 AS u
      FROM events)"""

_Q1_ORACLE = f"""
WITH fix AS ({_JB_FIX}),
a AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s1,
         CAST(sum(x*x) AS BIGINT) AS s2,
         CAST(sum(x*x*x) AS BIGINT) AS s3,
         CAST(sum(x*x*x*x) AS BIGINT) AS s4
  FROM fix GROUP BY 1),
b AS (
  SELECT grp, n, CAST(n AS DOUBLE) AS nd,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
         CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
  FROM a),
c AS (
  SELECT grp, n, nd,
         r2 - m * m AS m2,
         r3 - 3.0 * m * r2 + 2.0 * m * m * m AS m3,
         r4 - 4.0 * m * r3 + 6.0 * m * m * r2 - 3.0 * m * m * m * m AS m4
  FROM b),
d AS (
  SELECT grp, n, nd,
         m3 / sqrt(m2 * m2 * m2) AS skew,
         m4 / (m2 * m2) AS kurt
  FROM c)
SELECT grp, n,
       round(skew, 6) AS skewness,
       round(kurt - 3.0, 6) AS ex_kurtosis,
       round(nd / 6.0 * (skew * skew
             + (kurt - 3.0) * (kurt - 3.0) / 4.0), 6) AS jb_stat,
       nd / 6.0 * (skew * skew
             + (kurt - 3.0) * (kurt - 3.0) / 4.0)
         > 5.991464547107979 AS reject_5pct
FROM d ORDER BY grp
"""


@register("jarque_bera_groups", _Q1_ORACLE)
def jarque_bera_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hash aggregate (raw moments to x^4, exact bigints); the
    planted squared-uniform 'error' group dwarfs every uniform
    group's jb_stat."""
    _events(spark, sf_dir)
    return jarque_bera(spark.sql(_JB_FIX), "grp", "x").orderBy("grp")


# ---------------------------------------------------------------------------
# bz02 — Ljung-Box whiteness per user series (lags 1..5)
# ---------------------------------------------------------------------------

_LB_FIX = """
SELECT grp, ord,
       CASE WHEN grp % 15 = 0
            THEN (rn % 4) * 10 + u % 5
            ELSE u % 41 END AS x
FROM (SELECT user_id AS grp, event_id AS ord,
             (event_id * 2654435761 + 13) % 2147483648 AS u,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY event_id) AS rn
      FROM events)"""

_LB_K = range(1, 6)

_Q2_ORACLE = f"""
WITH fix AS ({_LB_FIX}),
lg AS (
  SELECT grp, x,
         {', '.join(f'lag(x, {k}) OVER w AS l{k}' for k in _LB_K)}
  FROM fix WINDOW w AS (PARTITION BY grp ORDER BY ord)),
a AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(x*x) AS BIGINT) AS ss,
         {', '.join(
             f"CAST(sum(CASE WHEN l{k} IS NOT NULL THEN x*l{k} ELSE 0 END)"
             f" AS BIGINT) AS p{k},"
             f" CAST(sum(CASE WHEN l{k} IS NOT NULL THEN x ELSE 0 END)"
             f" AS BIGINT) AS a{k},"
             f" CAST(sum(CASE WHEN l{k} IS NOT NULL THEN l{k} ELSE 0 END)"
             f" AS BIGINT) AS b{k}" for k in _LB_K)}
  FROM lg GROUP BY 1 HAVING count(*) >= 8),
b AS (
  SELECT grp, n, CAST(n AS DOUBLE) AS nd,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         CAST(ss AS DOUBLE) AS ssd,
         {', '.join(f'CAST(p{k} AS DOUBLE) AS p{k},'
                    f' CAST(a{k} + b{k} AS DOUBLE) AS ab{k}'
                    for k in _LB_K)}
  FROM a),
c AS (
  SELECT grp, n, nd,
         {', '.join(
             f'(p{k} - m * ab{k} + (nd - {k}.0) * m * m)'
             f' / (ssd - nd * m * m) AS r{k}' for k in _LB_K)}
  FROM b),
d AS (
  SELECT grp, n, nd, r1, r2, r3,
         ({' + '.join(f'r{k} * r{k} / (nd - {k}.0)' for k in _LB_K)})
           * nd * (nd + 2.0) AS q
  FROM c)
SELECT grp, n,
       round(r1, 6) AS rho1, round(r2, 6) AS rho2,
       round(r3, 6) AS rho3, round(q, 6) AS q_lb,
       q > 11.070497693516351 AS reject_5pct
FROM d ORDER BY grp
"""


@register("ljung_box_whiteness", _Q2_ORACLE)
def ljung_box_whiteness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user portmanteau: one partition-bounded lag window + one
    hash aggregate; planted period-4 users reject, white users
    mostly do not."""
    _events(spark, sf_dir)
    return ljung_box(spark.sql(_LB_FIX), "grp", "ord", "x",
                     max_lag=5, min_n=8).orderBy("grp")


# ---------------------------------------------------------------------------
# bz03 — Breusch-Pagan heteroscedasticity LM per cohort
# ---------------------------------------------------------------------------

_BP_FIX = """
SELECT grp, x, 5 + 3 * x + eps AS y
FROM (
  SELECT user_id % 2 AS grp, u1 % 50 AS x,
         CASE WHEN user_id % 2 = 1
              THEN u2 % (1 + 2 * (u1 % 50)) - (u1 % 50)
              ELSE u2 % 21 - 10 END AS eps
  FROM (SELECT user_id,
               (event_id * 2654435761 + 13) % 2147483648 AS u1,
               (event_id * 1103515245 + 12345) % 2147483648 AS u2
        FROM events))"""

_Q3_ORACLE = f"""
WITH fix AS ({_BP_FIX}),
s1 AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x*y) AS BIGINT) AS sxy,
         CAST(sum(x*x) AS BIGINT) AS sxx
  FROM fix GROUP BY 1),
coef AS (
  SELECT grp,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b1,
         sx, sy, n
  FROM s1),
coef2 AS (
  SELECT grp, b1,
         (CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) AS b0
  FROM coef),
resid AS (
  SELECT f.grp, f.x, c.b0, c.b1,
         CAST(floor((CAST(f.y AS DOUBLE) - c.b0
                     - c.b1 * CAST(f.x AS DOUBLE)) * 8.0) AS DOUBLE) AS zq
  FROM fix f JOIN coef2 c ON f.grp = c.grp),
zz AS (
  SELECT grp, x, b0, b1, zq * zq / 64.0 AS z FROM resid),
s2 AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         min(b0) AS b0, min(b1) AS b1,
         sum(z) AS sz, sum(z * CAST(x AS DOUBLE)) AS szx,
         sum(z * z) AS szz,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x*x) AS BIGINT) AS sxx
  FROM zz GROUP BY 1),
fin AS (
  SELECT grp, n, b0, b1,
         CAST(n AS DOUBLE) * szx - CAST(sx AS DOUBLE) * sz AS cov,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
         CAST(n AS DOUBLE) * szz - sz * sz AS vz
  FROM s2)
SELECT grp, n, round(b0, 6) AS beta0, round(b1, 6) AS beta1,
       round(cov * cov / (vx * vz), 6) AS r2_aux,
       round(CAST(n AS DOUBLE) * (cov * cov / (vx * vz)), 6) AS lm_stat,
       CAST(n AS DOUBLE) * (cov * cov / (vx * vz))
         > 3.8414588206941245 AS hetero_5pct
FROM fin ORDER BY grp
"""


@register("breusch_pagan_hetero", _Q3_ORACLE)
def breusch_pagan_hetero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two aggregation passes with the O(groups) OLS coefficient
    table broadcast back; the odd-user cohort's variance grows with
    x and is flagged, the even cohort is not."""
    _events(spark, sf_dir)
    return breusch_pagan(spark.sql(_BP_FIX), "grp", "x", "y",
                         scale=8).orderBy("grp")
