"""Wave-122 driver queries: logistic regression by IRLS
(operators/glm.py) — coefficient recovery, Newton contraction, and
held-in classification quality vs the majority baseline.

Fixture: x in 0..9 from HIGH hash bits; y ~ Bernoulli(sigmoid(-2 +
0.4x)) realized by comparing an independent 14-bit hash slice to
16384*sigmoid (integer-vs-irrational compare — no boundary risk), so
the data really is logistic with known coefficients; groups by
user_id % 4.

Exactness: per the operator contract — micro-quantized sigmoid
(floor p*2^14) makes every aggregated sum dyadic-exact; coefficients
rounded to 6 for the residual libm-exp ulp at step 2.

Ref parity: the supervised-classifier layer over the same keyed-census
shape as naive_bayes_confusion (wave 89) — a trainable filter for the
selection pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.glm import logit_irls
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _fix_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return f"""
SELECT user_id % 4 AS grp,
       CAST((u{d}2048) % 10 AS BIGINT) AS x,
       CASE WHEN CAST((u{d}65536) % 16384 AS DOUBLE)
                 < 16384.0 / (1.0 + EXP(2.0 - 0.4
                              * CAST((u{d}2048) % 10 AS DOUBLE)))
            THEN 1 ELSE 0 END AS y
FROM (SELECT user_id,
             (event_id * 2654435761 + 51) % 2147483648 AS u
      FROM events)"""


Q = 16384.0


def _irls_sql() -> str:
    """Two unrolled IRLS steps as DuckDB CTEs over `fix`; final betas
    in b2 (grp, n, b0, b1, d0_1, d1_1, d0_2, d1_2)."""
    def step(tag: str, prev: str) -> str:
        return f"""
j{tag} AS (
  SELECT f.grp, f.x, f.y, b.b0 AS pb0, b.b1 AS pb1,
         FLOOR((1.0 / (1.0 + EXP(-(b.b0 + b.b1 * f.x)))) * {Q!r})
           / {Q!r} AS pq
  FROM fix f JOIN {prev} b ON b.grp = f.grp),
g{tag} AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         MAX(pb0) AS pb0, MAX(pb1) AS pb1,
         SUM(pq * (1.0 - pq)) AS sw,
         SUM(pq * (1.0 - pq) * x) AS swx,
         SUM(pq * (1.0 - pq) * x * x) AS swxx,
         SUM(y - pq) AS sr,
         SUM((y - pq) * x) AS srx
  FROM j{tag} GROUP BY grp),
b{tag} AS (
  SELECT grp, n,
         pb0 + (swxx * sr - swx * srx)
               / (sw * swxx - swx * swx) AS b0,
         pb1 + (sw * srx - swx * sr)
               / (sw * swxx - swx * swx) AS b1,
         (swxx * sr - swx * srx) / (sw * swxx - swx * swx) AS d0,
         (sw * srx - swx * sr) / (sw * swxx - swx * swx) AS d1
  FROM g{tag})"""
    return f"""
b0cte AS (SELECT DISTINCT grp, CAST(0.0 AS DOUBLE) AS b0,
                 CAST(0.0 AS DOUBLE) AS b1 FROM fix),
{step('1', 'b0cte')},
{step('2', 'b1')}"""


_Q1_ORACLE = f"""
WITH fix AS ({_fix_sql('duckdb')}),
{_irls_sql()}
SELECT grp, n, ROUND(b0, 6) AS beta0, ROUND(b1, 6) AS beta1
FROM b2 ORDER BY grp
"""


@register("logit_irls_coefficients", _Q1_ORACLE)
def logit_irls_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group logistic coefficients after 2 IRLS steps from (0,0)
    — approaching the planted (-2, 0.4)."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    b = logit_irls(spark.sql(_fix_sql("spark")), "grp", steps=2)
    return (b.select("grp", "n", F.round("b0", 6).alias("beta0"),
                     F.round("b1", 6).alias("beta1"))
            .orderBy("grp"))


_Q2_ORACLE = f"""
WITH fix AS ({_fix_sql('duckdb')}),
{_irls_sql()}
SELECT b2.grp,
       ROUND(SQRT(b1.d0 * b1.d0 + b1.d1 * b1.d1), 6) AS step1_norm,
       ROUND(SQRT(b2.d0 * b2.d0 + b2.d1 * b2.d1), 6) AS step2_norm,
       SQRT(b2.d0 * b2.d0 + b2.d1 * b2.d1)
         < SQRT(b1.d0 * b1.d0 + b1.d1 * b1.d1) AS contracting
FROM b2 JOIN b1 ON b1.grp = b2.grp
ORDER BY b2.grp
"""


@register("logit_irls_convergence", _Q2_ORACLE)
def logit_irls_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newton-step norms: step 2 must contract vs step 1 (quadratic
    convergence of IRLS on clean logistic data)."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    b = logit_irls(spark.sql(_fix_sql("spark")), "grp", steps=2)
    n1 = F.sqrt(F.col("d0_1") * F.col("d0_1")
                + F.col("d1_1") * F.col("d1_1"))
    n2 = F.sqrt(F.col("d0_2") * F.col("d0_2")
                + F.col("d1_2") * F.col("d1_2"))
    return (b.select("grp", F.round(n1, 6).alias("step1_norm"),
                     F.round(n2, 6).alias("step2_norm"),
                     (n2 < n1).alias("contracting"))
            .orderBy("grp"))


_Q3_ORACLE = f"""
WITH fix AS ({_fix_sql('duckdb')}),
{_irls_sql()}
SELECT f.grp, CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN (CASE WHEN b.b0 + b.b1 * f.x >= 0
                           THEN 1 ELSE 0 END) = f.y
                     THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS acc,
       GREATEST(CAST(SUM(f.y) AS DOUBLE) / CAST(count(*) AS DOUBLE),
                1.0 - CAST(SUM(f.y) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE)) AS majority,
       CAST(SUM(CASE WHEN (CASE WHEN b.b0 + b.b1 * f.x >= 0
                           THEN 1 ELSE 0 END) = f.y
                     THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE)
       > GREATEST(CAST(SUM(f.y) AS DOUBLE) / CAST(count(*) AS DOUBLE),
                  1.0 - CAST(SUM(f.y) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE)) AS beats_majority
FROM fix f JOIN b2 b ON b.grp = f.grp
GROUP BY f.grp
ORDER BY f.grp
"""


@register("logit_irls_fit_quality", _Q3_ORACLE)
def logit_irls_fit_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-in 0.5-threshold accuracy of the 2-step fit vs the
    majority-class baseline — the fitted boundary (~x=5) must beat it."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    fix = spark.sql(_fix_sql("spark"))
    b = logit_irls(fix, "grp", steps=2) \
        .select("grp", "b0", "b1")
    j = fix.join(F.broadcast(b), "grp")
    pred = F.when(F.col("b0") + F.col("b1") * F.col("x") >= 0, 1) \
        .otherwise(0)
    correct = F.when(pred == F.col("y"), 1).otherwise(0)
    ybar = F.sum("y").cast("double") / F.count(F.lit(1)).cast("double")
    acc = (F.sum(correct).cast("double")
           / F.count(F.lit(1)).cast("double"))
    return (j.groupBy("grp")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 acc.alias("acc"),
                 F.greatest(ybar, F.lit(1.0) - ybar).alias("majority"),
                 (acc > F.greatest(ybar, F.lit(1.0) - ybar))
                 .alias("beats_majority"))
            .orderBy("grp"))
