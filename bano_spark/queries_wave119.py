"""Wave-119 driver queries: clustering-agreement metrics
(operators/agreement.py) and Wald instrumental-variable estimation
(operators/causal.py).

NMI fixture: predicted labels copy event_type with probability 0.8,
else fall into 4 hash-derived noise classes — per user-bucket dataset.
IV fixture: integer structural equations with known beta = 2, a
positive confounder (OLS biased upward by construction), and a strong
first stage (coefficient 3 on z) — all sufficient statistics exact
integers, estimators bit-exact unrounded.

Ref parity: partition-quality and causal-effect layers over the same
keyed-census shape as the reference's batch stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.agreement import agreement_metrics
from bano_spark.operators.causal import wald_iv
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _labels_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    cat = ("concat('nz', CAST((u2{d}2097152) % 4 AS STRING))"
           if dialect == "spark"
           else "'nz' || CAST((u2{d}2097152) % 4 AS VARCHAR)")
    cat = cat.replace("{d}", d)
    return f"""
SELECT user_id % 5 AS ds, event_type AS l_true,
       CASE WHEN (u2{d}131072) % 10 < 8 THEN event_type
            ELSE {cat} END AS l_pred
FROM (SELECT user_id, event_type,
             (event_id * 2654435761 + 41) % 2147483648 AS u2
      FROM events)"""


def _iv_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return f"""
SELECT user_id % 8 AS grp,
       (u{d}2048) % 2 AS z,
       5 + 3 * ((u{d}2048) % 2) + (u{d}16384) % 10
         + (u{d}262144) % 7 AS x,
       2 * (5 + 3 * ((u{d}2048) % 2) + (u{d}16384) % 10
            + (u{d}262144) % 7)
         + 4 * ((u{d}16384) % 10) + (u{d}4194304) % 5 AS y
FROM (SELECT user_id,
             (event_id * 2654435761 + 37) % 2147483648 AS u
      FROM events)"""


_NM01_ORACLE = f"""
WITH labels AS ({_labels_sql("duckdb")}),
cont AS (SELECT ds, l_true, l_pred, count(*) AS nij
         FROM labels GROUP BY 1, 2, 3),
m1 AS (SELECT ds, l_true, count(*) AS ni FROM labels GROUP BY 1, 2),
m2 AS (SELECT ds, l_pred, count(*) AS nj FROM labels GROUP BY 1, 2),
tot AS (SELECT ds, count(*) AS n FROM labels GROUP BY 1),
mi AS (
  SELECT c.ds, sum((CAST(c.nij AS DOUBLE) / CAST(t.n AS DOUBLE))
         * ln((CAST(t.n AS DOUBLE) * CAST(c.nij AS DOUBLE))
              / (CAST(a.ni AS DOUBLE) * CAST(b.nj AS DOUBLE))))
           AS mi_raw
  FROM cont c
  JOIN m1 a ON a.ds = c.ds AND a.l_true = c.l_true
  JOIN m2 b ON b.ds = c.ds AND b.l_pred = c.l_pred
  JOIN tot t ON t.ds = c.ds
  GROUP BY c.ds),
h1 AS (
  SELECT m.ds, sum(-(CAST(m.ni AS DOUBLE) / CAST(t.n AS DOUBLE))
         * ln(CAST(m.ni AS DOUBLE) / CAST(t.n AS DOUBLE))) AS h_true_raw
  FROM m1 m JOIN tot t ON t.ds = m.ds GROUP BY m.ds),
h2 AS (
  SELECT m.ds, sum(-(CAST(m.nj AS DOUBLE) / CAST(t.n AS DOUBLE))
         * ln(CAST(m.nj AS DOUBLE) / CAST(t.n AS DOUBLE))) AS h_pred_raw
  FROM m2 m JOIN tot t ON t.ds = m.ds GROUP BY m.ds),
k1 AS (SELECT ds, CAST(count(*) AS BIGINT) AS k_true FROM m1 GROUP BY ds),
k2 AS (SELECT ds, CAST(count(*) AS BIGINT) AS k_pred FROM m2 GROUP BY ds)
SELECT t.ds, CAST(t.n AS BIGINT) AS n, k1.k_true, k2.k_pred,
       round(h1.h_true_raw, 6) AS h_true,
       round(h2.h_pred_raw, 6) AS h_pred,
       round(mi.mi_raw, 6) AS mi,
       round(CASE WHEN h1.h_true_raw = 0 OR h2.h_pred_raw = 0 THEN 0.0
             ELSE mi.mi_raw / sqrt(h1.h_true_raw * h2.h_pred_raw) END,
             6) AS nmi,
       round(CASE WHEN h1.h_true_raw = 0 THEN 1.0
             ELSE mi.mi_raw / h1.h_true_raw END, 6) AS homogeneity,
       round(CASE WHEN h2.h_pred_raw = 0 THEN 1.0
             ELSE mi.mi_raw / h2.h_pred_raw END, 6) AS completeness,
       round(CASE WHEN (CASE WHEN h1.h_true_raw = 0 THEN 1.0
                        ELSE mi.mi_raw / h1.h_true_raw END)
                  + (CASE WHEN h2.h_pred_raw = 0 THEN 1.0
                     ELSE mi.mi_raw / h2.h_pred_raw END) = 0 THEN 0.0
             ELSE 2 * (CASE WHEN h1.h_true_raw = 0 THEN 1.0
                       ELSE mi.mi_raw / h1.h_true_raw END)
                    * (CASE WHEN h2.h_pred_raw = 0 THEN 1.0
                       ELSE mi.mi_raw / h2.h_pred_raw END)
                  / ((CASE WHEN h1.h_true_raw = 0 THEN 1.0
                      ELSE mi.mi_raw / h1.h_true_raw END)
                     + (CASE WHEN h2.h_pred_raw = 0 THEN 1.0
                        ELSE mi.mi_raw / h2.h_pred_raw END)) END,
             6) AS v_measure
FROM tot t
JOIN mi ON mi.ds = t.ds JOIN h1 ON h1.ds = t.ds
JOIN h2 ON h2.ds = t.ds JOIN k1 ON k1.ds = t.ds
JOIN k2 ON k2.ds = t.ds
ORDER BY t.ds
"""


@register("clustering_agreement_nmi", _NM01_ORACLE)
def clustering_agreement_nmi(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """NMI / homogeneity / completeness / V-measure per dataset for
    the 80%-faithful predicted partition."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    labels = spark.sql(_labels_sql("spark"))
    return agreement_metrics(labels, "ds", "l_true", "l_pred") \
        .orderBy("ds")


_IV02_ORACLE = f"""
WITH ivd AS ({_iv_sql("duckdb")}),
g AS (
  SELECT grp,
         CAST(sum(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN z = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
         CAST(sum(CASE WHEN z = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
         CAST(sum(CASE WHEN z = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
         CAST(sum(CASE WHEN z = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
         CAST(sum(CASE WHEN z = 1 THEN x * x ELSE 0 END) AS BIGINT)
           AS sxx1,
         CAST(sum(CASE WHEN z = 0 THEN x * x ELSE 0 END) AS BIGINT)
           AS sxx0,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(count(*) AS BIGINT) AS n
  FROM ivd GROUP BY grp)
SELECT grp, n1, n0,
       (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE))
       / (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS beta_iv,
       ((CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
         - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
           - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
       / (((CAST(sxx1 AS DOUBLE) - CAST(sx1 * sx1 AS DOUBLE)
            / CAST(n1 AS DOUBLE))
           + (CAST(sxx0 AS DOUBLE) - CAST(sx0 * sx0 AS DOUBLE)
              / CAST(n0 AS DOUBLE)))
          / CAST(n1 + n0 - 2 AS DOUBLE)
          * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n0 AS DOUBLE)))
         AS f_first_stage,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS beta_ols,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE)
       - (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE))
         / (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS ols_bias
FROM g
ORDER BY grp
"""


@register("iv_wald_estimator", _IV02_ORACLE)
def iv_wald_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per group: the Wald IV estimate of the (known, = 2) structural
    effect, the first-stage F, and the upward-biased OLS slope."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    d = wald_iv(spark.sql(_iv_sql("spark")), "grp")
    return (d.select("grp", "n1", "n0", "beta_iv", "f_first_stage",
                     "beta_ols", "ols_bias")
            .orderBy("grp"))


_IV03_ORACLE = f"""
WITH ivd AS ({_iv_sql("duckdb")}),
g AS (
  SELECT grp,
         CAST(sum(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN z = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
         CAST(sum(CASE WHEN z = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
         CAST(sum(CASE WHEN z = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
         CAST(sum(CASE WHEN z = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
         CAST(sum(CASE WHEN z = 1 THEN x * x ELSE 0 END) AS BIGINT)
           AS sxx1,
         CAST(sum(CASE WHEN z = 0 THEN x * x ELSE 0 END) AS BIGINT)
           AS sxx0,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(count(*) AS BIGINT) AS n
  FROM ivd GROUP BY grp),
est AS (
  SELECT grp,
         (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE))
         / (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS beta_iv,
         ((CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
           - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
          * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
         / (((CAST(sxx1 AS DOUBLE) - CAST(sx1 * sx1 AS DOUBLE)
              / CAST(n1 AS DOUBLE))
             + (CAST(sxx0 AS DOUBLE) - CAST(sx0 * sx0 AS DOUBLE)
                / CAST(n0 AS DOUBLE)))
            / CAST(n1 + n0 - 2 AS DOUBLE)
            * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n0 AS DOUBLE)))
           AS f_first_stage,
         CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE)
         - (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE))
           / (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS ols_bias
  FROM g)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN f_first_stage > 10 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_strong,
       min(beta_iv) AS beta_iv_min,
       max(beta_iv) AS beta_iv_max,
       (count(*) = sum(CASE WHEN ols_bias > 0 THEN 1 ELSE 0 END))
         AS all_bias_positive
FROM est
"""


@register("iv_strength_summary", _IV03_ORACLE)
def iv_strength_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit: every group's instrument is strong (F > 10) and
    OLS is biased upward everywhere (positive confounding by
    construction); beta_iv range brackets the true effect 2."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    d = wald_iv(spark.sql(_iv_sql("spark")), "grp")
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("f_first_stage") > 10, 1).otherwise(0))
        .cast("bigint").alias("n_strong"),
        F.min("beta_iv").alias("beta_iv_min"),
        F.max("beta_iv").alias("beta_iv_max"),
        (F.count(F.lit(1)) ==
         F.sum(F.when(F.col("ols_bias") > 0, 1).otherwise(0)))
        .alias("all_bias_positive"))
