"""Wave-115 driver queries: exact Bayesian A/B testing
(operators/bayes_ab.py) — closed-form Beta-posterior comparison per
event_type experiment.

Fixture: a 1/37 deterministic event subsample; arm and conversion are
independent high-bit hash draws (low-bit periodicity note), with arm
B's true rate 10 points higher — so decisions are non-trivial and
direction-known. Posteriors are Beta(1 + conv, 1 + non-conv).

  * P(B beats A) + the 95%-threshold decision,
  * expected loss of shipping either arm (the shifted-parameter h
    identity) and the min-loss recommendation,
  * closed-form posterior summaries (mean/sd/normal interval) —
    pure integer-ratio + sqrt arithmetic, bit-exact unrounded.

Ref parity: decision layer over per-group conversion counts — the
same keyed-aggregate shape as the reference's commune batch stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.bayes_ab import duck_prob, prob_b_beats_a
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _counts_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return f"""
SELECT event_type,
       CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
       CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
FROM (
  SELECT event_type, (u{d}2048) % 2 AS arm,
         CASE WHEN (u{d}8192) % 100 < 15 + 10 * ((u{d}2048) % 2)
              THEN 1 ELSE 0 END AS conv
  FROM (SELECT event_type,
               (event_id * 2654435761 + 23) % 2147483648 AS u
        FROM events WHERE event_id % 37 = 0))
GROUP BY event_type"""


def _posteriors(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return (spark.sql(_counts_sql("spark"))
            .withColumn("aa", F.expr("c_a + 1"))
            .withColumn("ba", F.expr("n_a - c_a + 1"))
            .withColumn("ab_", F.expr("c_b + 1"))
            .withColumn("bb", F.expr("n_b - c_b + 1")))


_POST_SQL = """
post AS (
  SELECT *, c_a + 1 AS aa, n_a - c_a + 1 AS ba,
         c_b + 1 AS ab_, n_b - c_b + 1 AS bb
  FROM counts)
"""


_BA01_ORACLE = f"""
WITH counts AS ({_counts_sql("duckdb")}),
{_POST_SQL}
SELECT event_type, n_a, c_a, n_b, c_b,
       round({duck_prob("aa", "ba", "ab_", "bb")}, 6) AS p_b_beats_a,
       CASE WHEN round({duck_prob("aa", "ba", "ab_", "bb")}, 6) > 0.95
            THEN 'ship_b'
            WHEN round({duck_prob("aa", "ba", "ab_", "bb")}, 6) < 0.05
            THEN 'ship_a'
            ELSE 'continue' END AS decision
FROM post
ORDER BY event_type
"""


@register("bayes_ab_prob", _BA01_ORACLE)
def bayes_ab_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per experiment: exact P(B beats A) under Beta(1,1) priors and
    the 95% decision."""
    p = F.expr(f"round({prob_b_beats_a('aa', 'ba', 'ab_', 'bb')}, 6)")
    return (_posteriors(spark, sf_dir)
            .withColumn("p_b_beats_a", p)
            .withColumn("decision",
                        F.when(F.col("p_b_beats_a") > 0.95, "ship_b")
                        .when(F.col("p_b_beats_a") < 0.05, "ship_a")
                        .otherwise("continue"))
            .select("event_type", "n_a", "c_a", "n_b", "c_b",
                    "p_b_beats_a", "decision")
            .orderBy("event_type"))


def _loss_exprs(prob, fmt):
    """Expected loss of shipping A / B via the shifted-parameter h
    identity (same builder for both dialects):

      E[max(pB-pA, 0)] = muB * h(aA,bA,aB+1,bB) - muA * h(aA+1,bA,aB,bB)

    (E[p * 1{..}] absorbs p into a +1-shifted Beta times its mean),
    and loss(ship B) = loss(ship A) - (muB - muA).
    """
    mu_a = "(CAST(aa AS DOUBLE) / CAST(aa + ba AS DOUBLE))"
    mu_b = "(CAST(ab_ AS DOUBLE) / CAST(ab_ + bb AS DOUBLE))"
    loss_a = (f"({mu_b} * {prob('aa', 'ba', '(ab_ + 1)', 'bb')}"
              f" - {mu_a} * {prob('(aa + 1)', 'ba', 'ab_', 'bb')})")
    loss_b = f"({loss_a} - ({mu_b} - {mu_a}))"
    return fmt(loss_a), fmt(loss_b), None, None


_LOSS_A_D, _LOSS_B_D, _, _ = _loss_exprs(duck_prob,
                                         lambda e: f"round({e}, 6)")

_BA02_ORACLE = f"""
WITH counts AS ({_counts_sql("duckdb")}),
{_POST_SQL}
SELECT event_type,
       {_LOSS_A_D} AS loss_ship_a,
       {_LOSS_B_D} AS loss_ship_b,
       CASE WHEN {_LOSS_A_D} <= {_LOSS_B_D} THEN 'a' ELSE 'b' END
         AS min_loss_arm
FROM post
ORDER BY event_type
"""


@register("bayes_ab_expected_loss", _BA02_ORACLE)
def bayes_ab_expected_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected posterior loss of shipping each arm (the risk-based
    stopping rule) and the min-loss recommendation."""
    la_s, lb_s, _, _ = _loss_exprs(prob_b_beats_a,
                                   lambda e: f"round({e}, 6)")
    d = (_posteriors(spark, sf_dir)
         .withColumn("loss_ship_a", F.expr(la_s))
         .withColumn("loss_ship_b", F.expr(lb_s)))
    return (d.withColumn("min_loss_arm",
                         F.when(F.col("loss_ship_a")
                                <= F.col("loss_ship_b"), "a")
                         .otherwise("b"))
            .select("event_type", "loss_ship_a", "loss_ship_b",
                    "min_loss_arm")
            .orderBy("event_type"))


_BA03_ORACLE = f"""
WITH counts AS ({_counts_sql("duckdb")}),
{_POST_SQL}
SELECT event_type,
       CAST(aa AS DOUBLE) / CAST(aa + ba AS DOUBLE) AS mean_a,
       CAST(ab_ AS DOUBLE) / CAST(ab_ + bb AS DOUBLE) AS mean_b,
       sqrt(CAST(aa * ba AS DOUBLE)
            / CAST((aa + ba) * (aa + ba) * (aa + ba + 1) AS DOUBLE))
         AS sd_a,
       sqrt(CAST(ab_ * bb AS DOUBLE)
            / CAST((ab_ + bb) * (ab_ + bb) * (ab_ + bb + 1) AS DOUBLE))
         AS sd_b,
       CAST(aa AS DOUBLE) / CAST(aa + ba AS DOUBLE)
         - 1.96 * sqrt(CAST(aa * ba AS DOUBLE)
            / CAST((aa + ba) * (aa + ba) * (aa + ba + 1) AS DOUBLE))
         AS lo_a,
       CAST(ab_ AS DOUBLE) / CAST(ab_ + bb AS DOUBLE)
         + 1.96 * sqrt(CAST(ab_ * bb AS DOUBLE)
            / CAST((ab_ + bb) * (ab_ + bb) * (ab_ + bb + 1) AS DOUBLE))
         AS hi_b
FROM post
ORDER BY event_type
"""


@register("bayes_ab_posterior_summary", _BA03_ORACLE)
def bayes_ab_posterior_summary(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Closed-form posterior means / sds / normal-approx interval
    edges — pure integer-ratio + IEEE-sqrt arithmetic, bit-exact
    unrounded."""
    d = _posteriors(spark, sf_dir)
    mean = lambda a, b: (F.col(a).cast("double")  # noqa: E731
                         / (F.col(a) + F.col(b)).cast("double"))
    sd = lambda a, b: F.sqrt(  # noqa: E731
        (F.col(a) * F.col(b)).cast("double")
        / ((F.col(a) + F.col(b)) * (F.col(a) + F.col(b))
           * (F.col(a) + F.col(b) + 1)).cast("double"))
    return (d.select(
        "event_type",
        mean("aa", "ba").alias("mean_a"),
        mean("ab_", "bb").alias("mean_b"),
        sd("aa", "ba").alias("sd_a"),
        sd("ab_", "bb").alias("sd_b"),
        (mean("aa", "ba") - 1.96 * sd("aa", "ba")).alias("lo_a"),
        (mean("ab_", "bb") + 1.96 * sd("ab_", "bb")).alias("hi_b"))
        .orderBy("event_type"))
