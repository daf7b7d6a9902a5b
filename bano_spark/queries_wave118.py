"""Wave-118 driver queries: rank-2 ALS matrix factorization
(operators/als.py) over customer-part ratings derived from lineitem.

Fixture: ratings 1..5 and dyadic item factors (1, k/128) from
high-bit hashes; lambda = 0.5. The user half-step is bit-exact
unrounded (dyadic sums + one division per component); the item
half-step runs on 1/4096-quantized user factors (order-free sums
again); training error vs the global-mean baseline is round-6
(the sum-order precedent).

Ref parity: the d^2 sufficient-statistics groupBy is the same shape
as ridge_regression_gram (wave 80) made per-entity; completes the
recommender family (itemcf, slope_one) with latent factors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.als import solve_factors
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _ratings_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return f"""
SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS it,
       1 + (((l.l_partkey * 2654435761 + 31) % 2147483648){d}512) % 5
         AS r,
       CAST(1 AS DOUBLE) AS q1,
       CAST((((l.l_partkey * 2654435761 + 31) % 2147483648{d}1024)
             % 256) - 128 AS DOUBLE) / 128 AS q2
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_orderkey % 5 = 0"""


def _ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .createOrReplaceTempView("lineitem")
    spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .createOrReplaceTempView("orders")
    d = " div "
    return spark.sql(f"""
SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS it,
       1 + (((l.l_partkey * 2654435761 + 31) % 2147483648){d}512) % 5
         AS r,
       CAST(1 AS DOUBLE) AS q1,
       CAST((((l.l_partkey * 2654435761 + 31) % 2147483648{d}1024)
             % 256) - 128 AS DOUBLE) / 128 AS q2
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_orderkey % 5 = 0""")


_SOLVE_SQL = """
solved AS (
  SELECT u, n, s11, s12, s22, b1, b2,
         s11 + 0.5 AS a11, s12 AS a12, s22 + 0.5 AS a22,
         (s11 + 0.5) * (s22 + 0.5) - s12 * s12 AS det,
         ((s22 + 0.5) * b1 - s12 * b2)
           / ((s11 + 0.5) * (s22 + 0.5) - s12 * s12) AS p1,
         ((s11 + 0.5) * b2 - s12 * b1)
           / ((s11 + 0.5) * (s22 + 0.5) - s12 * s12) AS p2
  FROM (
    SELECT u, CAST(count(*) AS BIGINT) AS n,
           sum(q1 * q1) AS s11, sum(q1 * q2) AS s12,
           sum(q2 * q2) AS s22,
           sum(q1 * r) AS b1, sum(q2 * r) AS b2
    FROM ratings GROUP BY u))
"""


_AL01_ORACLE = f"""
WITH ratings AS ({_ratings_sql("duckdb")}),
{_SOLVE_SQL}
SELECT u, n, a11, a12, a22, b1, b2, det, p1, p2
FROM solved
WHERE u % 7 = 0
ORDER BY u
"""


@register("als_user_factors", _AL01_ORACLE)
def als_user_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rank-2 user factors for every 7th customer — dyadic
    Gramian sums and the closed 2x2 solve, unrounded."""
    s = solve_factors(_ratings(spark, sf_dir), "u", "q1", "q2", "r")
    return (s.filter(F.expr("u % 7 = 0"))
            .select("u", "n", "a11", "a12", "a22", "b1", "b2", "det",
                    "p1", "p2")
            .orderBy("u"))


_AL02_ORACLE = f"""
WITH ratings AS ({_ratings_sql("duckdb")}),
{_SOLVE_SQL},
gmean AS (SELECT CAST(sum(r) AS DOUBLE) / CAST(count(*) AS DOUBLE)
            AS mu FROM ratings),
resid AS (
  SELECT r.u,
         (r.r - (s.p1 * r.q1 + s.p2 * r.q2))
           * (r.r - (s.p1 * r.q1 + s.p2 * r.q2)) AS e_als,
         (r.r - g.mu) * (r.r - g.mu) AS e_base
  FROM ratings r JOIN solved s ON s.u = r.u CROSS JOIN gmean g)
SELECT u, CAST(count(*) AS BIGINT) AS n,
       round(sum(e_als), 6) AS sse_als,
       round(sum(e_base), 6) AS sse_base,
       round(sum(e_als), 6) <= round(sum(e_base), 6) AS improved
FROM resid
GROUP BY u
ORDER BY u
"""


@register("als_training_error", _AL02_ORACLE)
def als_training_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user training SSE of the solved factors vs the global-mean
    baseline — the ridge solve must (weakly) beat the constant
    predictor it nests."""
    rat = _ratings(spark, sf_dir)
    s = solve_factors(rat, "u", "q1", "q2", "r")
    g = rat.agg((F.sum("r").cast("double")
                 / F.count(F.lit(1)).cast("double")).alias("mu"))
    pred = F.col("p1") * F.col("q1") + F.col("p2") * F.col("q2")
    d = (rat.join(s.select("u", "p1", "p2"), "u")
         .crossJoin(F.broadcast(g))
         .withColumn("e_als", (F.col("r") - pred) * (F.col("r") - pred))
         .withColumn("e_base", (F.col("r") - F.col("mu"))
                     * (F.col("r") - F.col("mu"))))
    return (d.groupBy("u")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.round(F.sum("e_als"), 6).alias("sse_als"),
                 F.round(F.sum("e_base"), 6).alias("sse_base"))
            .withColumn("improved",
                        F.col("sse_als") <= F.col("sse_base"))
            .orderBy("u"))


_AL03_ORACLE = f"""
WITH ratings AS ({_ratings_sql("duckdb")}),
{_SOLVE_SQL},
quant AS (
  SELECT u, round(p1 * 4096, 0) / 4096 AS z1,
         round(p2 * 4096, 0) / 4096 AS z2
  FROM solved),
item AS (
  SELECT it, CAST(count(*) AS BIGINT) AS n_users,
         sum(z1 * z1) AS s11, sum(z1 * z2) AS s12,
         sum(z2 * z2) AS s22,
         sum(z1 * r) AS b1, sum(z2 * r) AS b2
  FROM ratings r JOIN quant q ON q.u = r.u
  GROUP BY it)
SELECT it, n_users,
       ((s22 + 0.5) * b1 - s12 * b2)
         / ((s11 + 0.5) * (s22 + 0.5) - s12 * s12) AS q1_new,
       ((s11 + 0.5) * b2 - s12 * b1)
         / ((s11 + 0.5) * (s22 + 0.5) - s12 * s12) AS q2_new
FROM item
WHERE it % 11 = 0
ORDER BY it
"""


@register("als_item_halfstep", _AL03_ORACLE)
def als_item_halfstep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The alternation's second half: item factors re-solved against
    1/4096-quantized user factors (order-free dyadic sums again) for
    every 11th part."""
    rat = _ratings(spark, sf_dir)
    s = solve_factors(rat, "u", "q1", "q2", "r")
    quant = s.select(
        "u",
        (F.round(F.col("p1") * 4096, 0) / 4096).alias("z1"),
        (F.round(F.col("p2") * 4096, 0) / 4096).alias("z2"))
    joined = rat.join(quant, "u")
    it = solve_factors(joined, "it", "z1", "z2", "r")
    return (it.filter(F.expr("it % 11 = 0"))
            .select("it", F.col("n").alias("n_users"),
                    F.col("p1").alias("q1_new"),
                    F.col("p2").alias("q2_new"))
            .orderBy("it"))
