"""Wave-130 driver queries: AdaBoost over decision stumps
(operators/boosting.py) — per-round chosen stump + coefficients, and
the ensemble-vs-first-stump training error.

Fixture: the axis-aligned CONJUNCTION y = +1 iff (x1 <= 22 AND
x2 <= 30) over hash-uniform features — unlearnable by any single
stump (best solo: 261/2000 errors at sf0.01-sized data) but three
boosted stumps cut errors ~4x (69/2000), the textbook boosting win.

Oracle: the full 3-round fit REPLAYED IN SQL — per-round candidate
error tables from exact integer pattern x candidate counts, argmin
via ORDER BY (eps, cid) LIMIT 1, the chosen stump threaded to the
next round by CROSS JOINing the 1-row pick CTE, and pattern weights
applied in the same left-assoc textual order as the engine (wave-126
expansion discipline) — so eps matches bit-for-bit; the ensemble
error count uses the ln-free product rule and is an exact integer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.boosting import (CAND, adaboost_margin_errors,
                                           adaboost_stumps)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_FIX = """
SELECT u1 % 40 AS x1, u2 % 40 AS x2,
       CASE WHEN u1 % 40 <= 22 AND u2 % 40 <= 30 THEN 1 ELSE -1 END AS y
FROM (SELECT (event_id * 2654435761 + 13) % 2147483648 AS u1,
             (event_id * 1103515245 + 12345) % 2147483648 AS u2
      FROM events)"""

_CAND_VALUES = ", ".join(
    f"({cid}, {fi}, {th}, {pol})"
    for cid, (fi, th, pol) in enumerate(CAND))


def _mist(feat: str, th: str, pol: str, x1: str, x2: str,
          y: str) -> str:
    """SQL mistake indicator mirroring boosting._h / _mist."""
    return (f"CASE WHEN (CASE WHEN (CASE WHEN {feat} = 1 THEN {x1} "
            f"ELSE {x2} END) <= {th} THEN {pol} ELSE -({pol}) END) "
            f"<> {y} THEN 1 ELSE 0 END")


def _pick_cte(r: int) -> str:
    return (f"SELECT feat AS feat{r}, th AS th{r}, pol AS pol{r}, "
            f"eps AS eps{r}, (1.0 - eps) / eps AS g{r}, "
            f"sqrt((1.0 - eps) / eps) AS fct{r}, "
            f"0.5 * ln((1.0 - eps) / eps) AS alpha{r} FROM p{r}")


_CMIST = _mist("c.feat", "c.th", "c.pol", "d.x1", "d.x2", "d.y")

# round-3 pattern weights in the engine's left-assoc textual order
_W3 = ["((1.0 / p1.fct1) * (1.0 / p2.fct2))",
       "(p1.fct1 * (1.0 / p2.fct2))",
       "((1.0 / p1.fct1) * p2.fct2)",
       "(p1.fct1 * p2.fct2)"]

_FIT_CTES = f"""
cand AS (SELECT * FROM (VALUES {_CAND_VALUES}) AS t(cid, feat, th, pol)),
fix AS ({_FIX}),
r1 AS (
  SELECT c.cid, c.feat, c.th, c.pol,
         CAST(count(*) AS BIGINT) AS n0,
         CAST(sum({_mist('c.feat', 'c.th', 'c.pol',
                         'd.x1', 'd.x2', 'd.y')}) AS BIGINT) AS mi0
  FROM fix d CROSS JOIN cand c GROUP BY 1, 2, 3, 4),
p1 AS (
  SELECT cid, feat, th, pol,
         (CAST(mi0 AS DOUBLE) * 1.0) / (CAST(n0 AS DOUBLE) * 1.0) AS eps
  FROM r1 ORDER BY eps, cid LIMIT 1),
p1x AS ({_pick_cte(1)}),
d2 AS (
  SELECT f.x1, f.x2, f.y,
         {_mist('p.feat1', 'p.th1', 'p.pol1', 'f.x1', 'f.x2', 'f.y')}
           AS m1
  FROM fix f CROSS JOIN p1x p),
r2 AS (
  SELECT c.cid, c.feat, c.th, c.pol,
         CAST(sum(CASE WHEN d.m1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN d.m1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN d.m1 = 0 AND {_CMIST} = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS mi0,
         CAST(sum(CASE WHEN d.m1 = 1 AND {_CMIST} = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS mi1
  FROM d2 d CROSS JOIN cand c GROUP BY 1, 2, 3, 4),
p2 AS (
  SELECT r.cid, r.feat, r.th, r.pol,
         (CAST(r.mi0 AS DOUBLE) * (1.0 / p.fct1)
          + CAST(r.mi1 AS DOUBLE) * p.fct1)
         / (CAST(r.n0 AS DOUBLE) * (1.0 / p.fct1)
            + CAST(r.n1 AS DOUBLE) * p.fct1) AS eps
  FROM r2 r CROSS JOIN p1x p ORDER BY eps, cid LIMIT 1),
p2x AS ({_pick_cte(2)}),
d3 AS (
  SELECT f.x1, f.x2, f.y,
         {_mist('p1.feat1', 'p1.th1', 'p1.pol1',
                'f.x1', 'f.x2', 'f.y')} AS m1,
         {_mist('p2.feat2', 'p2.th2', 'p2.pol2',
                'f.x1', 'f.x2', 'f.y')} AS m2
  FROM fix f CROSS JOIN p1x p1 CROSS JOIN p2x p2),
r3 AS (
  SELECT c.cid, c.feat, c.th, c.pol,
         {', '.join(
             f"CAST(sum(CASE WHEN d.m1 + 2 * d.m2 = {pid} "
             f"THEN 1 ELSE 0 END) AS BIGINT) AS n{pid}, "
             f"CAST(sum(CASE WHEN d.m1 + 2 * d.m2 = {pid} "
             f"AND {_CMIST} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS mi{pid}"
             for pid in range(4))}
  FROM d3 d CROSS JOIN cand c GROUP BY 1, 2, 3, 4),
p3 AS (
  SELECT r.cid, r.feat, r.th, r.pol,
         ({' + '.join(f"CAST(r.mi{pid} AS DOUBLE) * {_W3[pid]}"
                      for pid in range(4))})
         / ({' + '.join(f"CAST(r.n{pid} AS DOUBLE) * {_W3[pid]}"
                        for pid in range(4))}) AS eps
  FROM r3 r CROSS JOIN p1x p1 CROSS JOIN p2x p2
  ORDER BY eps, cid LIMIT 1),
p3x AS ({_pick_cte(3)})"""

_Q1_ORACLE = f"""
WITH {_FIT_CTES}
SELECT 1 AS round, feat1 AS feat, th1 AS threshold, pol1 AS polarity,
       round(eps1, 6) AS eps, round(alpha1, 6) AS alpha FROM p1x
UNION ALL
SELECT 2, feat2, th2, pol2, round(eps2, 6), round(alpha2, 6) FROM p2x
UNION ALL
SELECT 3, feat3, th3, pol3, round(eps3, 6), round(alpha3, 6) FROM p3x
ORDER BY round
"""


def _picks(spark: SparkSession, sf_dir: str) -> tuple:
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    d = spark.sql(_FIX)
    return d, adaboost_stumps(d, rounds=3)


@register("adaboost_stump_rounds", _Q1_ORACLE)
def adaboost_stump_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three boosting rounds, each one integer hash aggregate with the
    chosen stump carried as a broadcast 1-row frame."""
    _, picks = _picks(spark, sf_dir)
    parts = [
        p.select(F.lit(r).alias("round"),
                 F.col(f"feat{r}").alias("feat"),
                 F.col(f"th{r}").alias("threshold"),
                 F.col(f"pol{r}").alias("polarity"),
                 F.round(f"eps{r}", 6).alias("eps"),
                 F.round(f"alpha{r}", 6).alias("alpha"))
        for r, p in enumerate(picks, 1)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("round")


_Q2_ORACLE = f"""
WITH {_FIT_CTES},
fin AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum({_mist('p1.feat1', 'p1.th1', 'p1.pol1',
                         'f.x1', 'f.x2', 'f.y')}) AS BIGINT)
           AS stump1_errors,
         CAST(sum(CASE WHEN
           ((CASE WHEN {_mist('p1.feat1', 'p1.th1', 'p1.pol1',
                             'f.x1', 'f.x2', 'f.y')} = 1
                  THEN (1.0 / p1.g1) ELSE p1.g1 END
             * CASE WHEN {_mist('p2.feat2', 'p2.th2', 'p2.pol2',
                                'f.x1', 'f.x2', 'f.y')} = 1
                    THEN (1.0 / p2.g2) ELSE p2.g2 END)
            * CASE WHEN {_mist('p3.feat3', 'p3.th3', 'p3.pol3',
                               'f.x1', 'f.x2', 'f.y')} = 1
                   THEN (1.0 / p3.g3) ELSE p3.g3 END) <= 1.0
           THEN 1 ELSE 0 END) AS BIGINT) AS ensemble_errors
  FROM fix f CROSS JOIN p1x p1 CROSS JOIN p2x p2 CROSS JOIN p3x p3)
SELECT n, stump1_errors, ensemble_errors,
       round(CAST(stump1_errors AS DOUBLE) / CAST(n AS DOUBLE), 6)
         AS stump1_rate,
       round(CAST(ensemble_errors AS DOUBLE) / CAST(n AS DOUBLE), 6)
         AS ensemble_rate,
       ensemble_errors <= stump1_errors AS boosted_improves
FROM fin
"""


@register("adaboost_ensemble_error", _Q2_ORACLE)
def adaboost_ensemble_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble margin errors via the ln-free product rule; on the
    conjunction fixture boosting cuts the solo-stump error ~4x."""
    d, picks = _picks(spark, sf_dir)
    return adaboost_margin_errors(d, picks)
