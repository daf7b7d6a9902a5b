"""Wave-124 driver queries: sharp regression discontinuity and
propensity-score stratification (operators/causal.py §RDD/§strata) —
the quasi-experimental designs next to wave 119's Wald IV and the
existing did_estimator / cuped_adjustment.

RDD fixture: integer running variable r in 0..99, cutoff 50, outcome
y = 10 + 2r + 30*1{r>=50} + noise — the naive side-mean difference is
slope-biased by construction while the local-linear jump recovers 30.
Strata fixture: confounder x in 0..9 drives BOTH treatment propensity
(0.2..0.7 via an integer threshold) and the outcome (+3x), true effect
4 — naive diff biased upward, stratification removes it.

Exactness: integer sufficient statistics everywhere; RDD estimates are
pure division chains (unrounded); the stratified ATE micro-quantizes
the per-stratum arm-mean difference to the 2^-20 grid so the weighted
cross-strata sum is exact under any aggregation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.causal import sharp_rdd, stratified_ate
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _rdd_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return f"""
SELECT user_id % 6 AS grp,
       (u{d}1024) % 100 AS r,
       10 + 2 * ((u{d}1024) % 100)
          + 30 * (CASE WHEN (u{d}1024) % 100 >= 50 THEN 1 ELSE 0 END)
          + (u{d}262144) % 9 - 4 AS y
FROM (SELECT user_id,
             (event_id * 2654435761 + 77) % 2147483648 AS u
      FROM events)"""


def _strata_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    x = f"(u{d}2048) % 10"
    dtr = f"CASE WHEN (u{d}65536) % 10 < 2 + (6 * ({x})){d}10 THEN 1 ELSE 0 END"
    return f"""
SELECT user_id % 6 AS grp, {x} AS x, {dtr} AS d,
       5 + 4 * ({dtr}) + 3 * ({x}) + (u{d}4194304) % 7 - 3 AS y
FROM (SELECT user_id,
             (event_id * 2654435761 + 83) % 2147483648 AS u
      FROM events)"""


def _rdd_side_sql(tag: str, lo: str, hi: str) -> str:
    return f"""
  CAST(SUM(CASE WHEN r >= {lo} AND r < {hi} THEN 1 ELSE 0 END)
       AS BIGINT) AS n{tag},
  CAST(SUM(CASE WHEN r >= {lo} AND r < {hi} THEN r ELSE 0 END)
       AS BIGINT) AS sr{tag},
  CAST(SUM(CASE WHEN r >= {lo} AND r < {hi} THEN y ELSE 0 END)
       AS BIGINT) AS sy{tag},
  CAST(SUM(CASE WHEN r >= {lo} AND r < {hi} THEN r * r ELSE 0 END)
       AS BIGINT) AS srr{tag},
  CAST(SUM(CASE WHEN r >= {lo} AND r < {hi} THEN r * y ELSE 0 END)
       AS BIGINT) AS sry{tag}"""


def _rdd_est_sql(cutoff: int, h: int) -> str:
    """CTEs g (sums) and est (fits) for the given bandwidth."""
    def fit(tag: str) -> tuple[str, str]:
        n, sr, sy, srr, sry = (f"CAST(n{tag} AS DOUBLE)",
                               f"CAST(sr{tag} AS DOUBLE)",
                               f"CAST(sy{tag} AS DOUBLE)",
                               f"CAST(srr{tag} AS DOUBLE)",
                               f"CAST(sry{tag} AS DOUBLE)")
        slope = (f"(({n} * {sry} - {sr} * {sy})"
                 f" / ({n} * {srr} - {sr} * {sr}))")
        at_c = (f"(({sy} - {slope} * {sr}) / {n}"
                f" + {slope} * {float(cutoff)!r})")
        return slope, at_c

    sl, fl = fit("l")
    sr_, fr = fit("r")
    return f"""
g AS (
  SELECT grp, {_rdd_side_sql('l', str(cutoff - h), str(cutoff))},
         {_rdd_side_sql('r', str(cutoff), str(cutoff + h))}
  FROM fix GROUP BY grp),
est AS (
  SELECT grp, nl, nr, {fr} - {fl} AS tau_hat,
         {sl} AS slope_left, {sr_} AS slope_right,
         CAST(syr AS DOUBLE) / CAST(nr AS DOUBLE)
           - CAST(syl AS DOUBLE) / CAST(nl AS DOUBLE) AS naive_diff
  FROM g)"""


_Q1_ORACLE = f"""
WITH fix AS ({_rdd_sql('duckdb')}),
{_rdd_est_sql(50, 25)}
SELECT grp, nl, nr, tau_hat, slope_left, slope_right, naive_diff
FROM est ORDER BY grp
"""


@register("rdd_sharp_effect", _Q1_ORACLE)
def rdd_sharp_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-linear RDD at cutoff 50, bandwidth 25: tau_hat recovers
    the planted jump 30 (unrounded); naive side-mean diff is
    slope-biased to ~30 + 2*h."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    d = sharp_rdd(spark.sql(_rdd_sql("spark")), "grp",
                  cutoff=50, h=25)
    return (d.select("grp", "nl", "nr", "tau_hat", "slope_left",
                     "slope_right", "naive_diff")
            .orderBy("grp"))


def _bw_oracle() -> str:
    parts = []
    for h in (10, 25, 40):
        parts.append(f"""
SELECT grp, CAST({h} AS BIGINT) AS h, nl + nr AS n_window, tau_hat
FROM (WITH fix AS ({_rdd_sql('duckdb')}),
{_rdd_est_sql(50, h)}
SELECT * FROM est)""")
    return ("\nUNION ALL".join(parts)
            + "\nORDER BY grp, h")


@register("rdd_bandwidth_sensitivity", _bw_oracle())
def rdd_bandwidth_sensitivity(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """tau_hat at bandwidths 10/25/40 — stable around 30 because the
    true conditional mean is exactly linear on both sides."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    fix = spark.sql(_rdd_sql("spark"))
    outs = []
    for h in (10, 25, 40):
        outs.append(sharp_rdd(fix, "grp", cutoff=50, h=h)
                    .select("grp", F.lit(h).cast("bigint").alias("h"),
                            (F.col("nl") + F.col("nr"))
                            .alias("n_window"), "tau_hat"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("grp", "h")


_Q3_ORACLE = f"""
WITH fix AS ({_strata_sql('duckdb')}),
s AS (
  SELECT grp, x,
         CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN d = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
         CAST(SUM(CASE WHEN d = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0
  FROM fix GROUP BY 1, 2),
g AS (
  SELECT grp,
         CAST(count(*) AS BIGINT) AS n_strata,
         CAST(SUM(CASE WHEN n1 > 0 AND n0 > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_strata_used,
         CAST(SUM(CASE WHEN n1 > 0 AND n0 > 0 THEN n1 + n0 ELSE 0 END)
              AS BIGINT) AS n_used,
         SUM(CASE WHEN n1 > 0 AND n0 > 0
             THEN CAST(n1 + n0 AS DOUBLE)
                  * (FLOOR((CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                            - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                           * 1048576.0) / 1048576.0)
             ELSE 0.0 END) AS wsum,
         CAST(SUM(n1) AS BIGINT) AS nt1,
         CAST(SUM(n0) AS BIGINT) AS nt0,
         CAST(SUM(sy1) AS BIGINT) AS syt1,
         CAST(SUM(sy0) AS BIGINT) AS syt0
  FROM s GROUP BY grp)
SELECT grp, n_strata, n_strata_used,
       CAST(syt1 AS DOUBLE) / CAST(nt1 AS DOUBLE)
         - CAST(syt0 AS DOUBLE) / CAST(nt0 AS DOUBLE) AS naive_diff,
       wsum / CAST(n_used AS DOUBLE) AS ate_stratified
FROM g ORDER BY grp
"""


@register("propensity_stratified_ate", _Q3_ORACLE)
def propensity_stratified_ate(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Confounder-stratified ATE: the naive difference carries the +3x
    confounding, the stratified estimate recovers the planted effect 4
    (micro-quantized exact weighted sum)."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    d = stratified_ate(spark.sql(_strata_sql("spark")), "grp", "x")
    return (d.select("grp", "n_strata", "n_strata_used", "naive_diff",
                     "ate_stratified")
            .orderBy("grp"))
