"""Wave-125 driver queries: t-closeness (ordered-EMD) and a
deterministic DP Laplace histogram (operators/privacy.py) — the
distributional-privacy layer completing kanonymity_audit /
l_diversity_audit / randomized_response_freq.

t-closeness fixture: 12 quasi-identifier classes; the sensitive
8-level ordinal is near-uniform globally, but class 3 is PLANTED
concentrated on levels 4..7, so its EMD (~0.29) violates t = 0.15
while sampling noise keeps every other class well below.

DP fixture: Laplace(1/eps) noise at eps in {0.1, 1.0} via the inverse
CDF at a content-hash uniform — reproducible, so the utility audit
(L1 / max error per eps) is an exact statement, not a sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.privacy import dp_laplace_histogram, t_closeness
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


M = 8
T_THRESH = 0.15
EPS = [0.1, 1.0]


def _tc_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return f"""
SELECT user_id % 12 AS cls,
       CASE WHEN user_id % 12 = 3 THEN 4 + ((u{d}8192) % 8) % 4
            ELSE (u{d}8192) % 8 END AS lv
FROM (SELECT user_id,
             (event_id * 2654435761 + 91) % 2147483648 AS u
      FROM events)"""


_Q1_ORACLE = f"""
WITH fix AS ({_tc_sql('duckdb')}),
ncs AS (SELECT cls, lv, CAST(count(*) AS BIGINT) AS ncs
        FROM fix GROUP BY 1, 2),
nc AS (SELECT cls, CAST(SUM(ncs) AS BIGINT) AS nc FROM ncs GROUP BY 1),
gdist AS (SELECT lv, CAST(count(*) AS BIGINT) AS ns FROM fix GROUP BY 1),
ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM fix),
dom AS (SELECT nc.cls, nc.nc, CAST(range AS BIGINT) AS lv
        FROM nc, range(0, {M})),
filled AS (
  SELECT d.cls, d.lv, d.nc, COALESCE(ncs.ncs, 0) AS ncs,
         COALESCE(gdist.ns, 0) AS ns, ntot.n
  FROM dom d
  LEFT JOIN ncs ON ncs.cls = d.cls AND ncs.lv = d.lv
  LEFT JOIN gdist ON gdist.lv = d.lv
  CROSS JOIN ntot),
seqs AS (
  SELECT cls, MIN(nc) AS n,
         list(CAST(ncs AS DOUBLE) / CAST(nc AS DOUBLE)
              - CAST(ns AS DOUBLE) / CAST(n AS DOUBLE)
              ORDER BY lv) AS sq
  FROM filled GROUP BY cls),
emds AS (
  SELECT cls, n,
         list_reduce(
           list_prepend([CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)],
                        list_transform(sq, p -> [p, CAST(0.0 AS DOUBLE)])),
           (a, v) -> [a[1] + v[1], a[2] + abs(a[1] + v[1])]
         )[2] / CAST({M - 1} AS DOUBLE) AS emd
  FROM seqs)
SELECT cls, CAST(n AS BIGINT) AS n, emd,
       emd > {T_THRESH!r} AS violates_t
FROM emds ORDER BY cls
"""


@register("t_closeness_audit", _Q1_ORACLE)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class ordered EMD to the global sensitive distribution
    (unrounded — IEEE chain in fixed level order); exactly the planted
    class 3 violates t = 0.15."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    d = t_closeness(spark.sql(_tc_sql("spark")), "cls", "lv", M)
    return (d.withColumn("violates_t", F.col("emd") > F.lit(T_THRESH))
            .orderBy("cls"))


def _dp_base_sql() -> str:
    return """
base AS (
  SELECT event_type AS cat, CAST(count(*) AS BIGINT) AS true_n,
         CAST(SUM(event_id) AS BIGINT) AS idsum
  FROM events GROUP BY 1),
noisy AS (
  SELECT cat, true_n, eps,
         CAST(true_n AS DOUBLE)
         + (-1.0 / eps) * SIGN(v) * LN(1.0 - 2.0 * ABS(v)) AS noisy
  FROM (
    SELECT cat, true_n, eps,
           (CAST((idsum * 2654435761 + 131
                  + CAST(CEIL(eps * 1000) AS BIGINT)) % 2147483648
                 AS DOUBLE) + 0.5) / 2147483648.0 - 0.5 AS v
    FROM base
    CROSS JOIN (SELECT CAST(unnest(ARRAY[0.1, 1.0]) AS DOUBLE) AS eps)))"""


_Q2_ORACLE = f"""
WITH {_dp_base_sql()}
SELECT cat, eps, true_n, ROUND(noisy, 6) AS noisy,
       ROUND(ABS(noisy - true_n), 6) AS abs_err
FROM noisy ORDER BY cat, eps
"""


@register("dp_laplace_histogram", _Q2_ORACLE)
def dp_laplace_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, eps): true count vs reproducible Laplace-noised
    count and its absolute error."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("events")
    d = dp_laplace_histogram(ev, "event_type", EPS)
    return (d.select("cat", "eps", "true_n",
                     F.round("noisy", 6).alias("noisy"),
                     F.round("abs_err", 6).alias("abs_err"))
            .orderBy("cat", "eps"))


_Q3_ORACLE = f"""
WITH {_dp_base_sql()}
SELECT eps, CAST(count(*) AS BIGINT) AS n_cells,
       ROUND(SUM(ABS(noisy - true_n)), 6) AS l1_err,
       ROUND(MAX(ABS(noisy - true_n)), 6) AS max_err,
       ROUND(SUM(ABS(noisy - true_n) / true_n), 6) AS sum_rel_err
FROM noisy GROUP BY eps ORDER BY eps
"""


@register("dp_epsilon_utility", _Q3_ORACLE)
def dp_epsilon_utility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Utility-vs-privacy: L1 / max / relative error per epsilon —
    eps = 0.1 costs ~10x the error of eps = 1.0."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("events")
    d = dp_laplace_histogram(ev, "event_type", EPS)
    err = F.abs(F.col("noisy") - F.col("true_n"))
    return (d.groupBy("eps")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"),
                 F.round(F.sum(err), 6).alias("l1_err"),
                 F.round(F.max(err), 6).alias("max_err"),
                 F.round(F.sum(err / F.col("true_n")), 6)
                 .alias("sum_rel_err"))
            .orderBy("eps"))
