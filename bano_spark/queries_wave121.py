"""Wave-121 driver queries: DDSketch relative-error quantiles
(operators/ddsketch.py) — sketch build, accuracy audit vs exact order
statistics, and the bounded-memory collapse trade-off.

Fixture: positive integers 1..100000 derived from the HIGH bits of a
multiplicative hash of event_id (low bits are periodic in id — the
wave-93 lesson), keyed by event_type.

Exactness: bucket = ceil(ln x / ln_gamma) with ln_gamma embedded as
the SAME double literal in both engines; counts/ranks exact integers;
est/rel_err rounded to 6 (values < 1e6, representable).

Ref parity: the quantile role of bano's batch stats rollups, upgraded
to the mergeable sketch a 100 TB SLO dashboard needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from bano_spark.operators.ddsketch import (dd_collapse, dd_gamma,
                                           dd_quantiles, dd_sketch)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


ALPHA = 0.02
GAMMA, LNG = dd_gamma(ALPHA)
QS = [0.05, 0.25, 0.5, 0.9, 0.99]
MAXB = 24


def _fix_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return f"""
SELECT event_type AS grp,
       1 + (((event_id * 2654435761 + 7) % 2147483648){d}1024) % 100000
         AS x
FROM events"""


_BUCKET = f"CAST(CEIL(LN(x) / {LNG!r}) AS BIGINT)"

_SKETCH_CTE = f"""
sk AS (
  SELECT grp, {_BUCKET} AS bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM fix GROUP BY 1, 2)"""

_QLIST = ("(SELECT CAST(unnest(ARRAY[0.05, 0.25, 0.5, 0.9, 0.99])"
          " AS DOUBLE) AS q)")

# shared quantile-extraction CTEs over a sketch CTE named {sk}
def _quant_sql(sk: str, tag: str) -> str:
    return f"""
cum{tag} AS (
  SELECT grp, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY grp) AS n
  FROM {sk}),
hit{tag} AS (
  SELECT c.grp, qq.q, MIN(c.bucket) AS bucket, MIN(c.n) AS n
  FROM cum{tag} c CROSS JOIN {_QLIST} qq
  WHERE c.cum >= GREATEST(1, CAST(CEIL(qq.q * c.n) AS BIGINT))
  GROUP BY 1, 2),
est{tag} AS (
  SELECT grp, q, CAST(n AS BIGINT) AS n,
         2.0 * POW({GAMMA!r}, bucket) / ({GAMMA!r} + 1.0) AS est
  FROM hit{tag})"""


_Q1_ORACLE = f"""
WITH fix AS ({_fix_sql('duckdb')}),
{_SKETCH_CTE}
SELECT grp, bucket, cnt FROM sk ORDER BY grp, bucket
"""


@register("ddsketch_bucket_sketch", _Q1_ORACLE)
def ddsketch_bucket_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch itself: per-key logarithmic bucket histogram — the
    mergeable sufficient statistic (one map-side-combinable groupBy)."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    fix = spark.sql(_fix_sql("spark"))
    return dd_sketch(fix, "grp", "x", ALPHA).orderBy("grp", "bucket")


_Q2_ORACLE = f"""
WITH fix AS ({_fix_sql('duckdb')}),
{_SKETCH_CTE},
{_quant_sql('sk', 'f')},
ranked AS (
  SELECT grp, x, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x) AS rn
  FROM fix)
SELECT e.grp, e.q, e.n, ROUND(e.est, 6) AS est,
       CAST(r.x AS DOUBLE) AS exact,
       ROUND(ABS(e.est - r.x) / r.x, 6) AS rel_err,
       ABS(e.est - r.x) / r.x <= {ALPHA!r} AS within_alpha
FROM estf e
JOIN ranked r ON r.grp = e.grp
            AND r.rn = GREATEST(1, CAST(CEIL(e.q * e.n) AS BIGINT))
ORDER BY e.grp, e.q
"""


@register("ddsketch_quantile_audit", _Q2_ORACLE)
def ddsketch_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch quantiles vs the exact rank-ceil(q*n) order statistic:
    every estimate must sit within the alpha=2% relative guarantee."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    fix = spark.sql(_fix_sql("spark"))
    qr = dd_quantiles(dd_sketch(fix, "grp", "x", ALPHA), "grp", QS, ALPHA)
    w = Window.partitionBy("grp").orderBy("x")
    ranked = (fix.withColumn("rn", F.row_number().over(w))
              .select(F.col("grp").alias("grp_r"), "x", "rn"))
    rank = F.greatest(F.lit(1).cast("bigint"),
                      F.ceil(F.col("q") * F.col("n")).cast("bigint"))
    rel = F.abs(F.col("est") - F.col("x")) / F.col("x")
    return (qr.join(ranked, (F.col("grp_r") == F.col("grp"))
                    & (F.col("rn") == rank))
            .select("grp", "q", "n", F.round("est", 6).alias("est"),
                    F.col("x").cast("double").alias("exact"),
                    F.round(rel, 6).alias("rel_err"),
                    (rel <= F.lit(ALPHA)).alias("within_alpha"))
            .orderBy("grp", "q"))


_Q3_ORACLE = f"""
WITH fix AS ({_fix_sql('duckdb')}),
{_SKETCH_CTE},
keepr AS (
  SELECT grp, bucket, cnt,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY bucket DESC) AS r
  FROM sk),
floorb AS (
  SELECT grp, MIN(bucket) AS floor_bucket
  FROM keepr WHERE r <= {MAXB} GROUP BY grp),
coll AS (
  SELECT k.grp,
         CASE WHEN k.r <= {MAXB} THEN k.bucket
              ELSE f.floor_bucket END AS bucket,
         CAST(SUM(k.cnt) AS BIGINT) AS cnt
  FROM keepr k JOIN floorb f ON f.grp = k.grp
  GROUP BY 1, 2),
{_quant_sql('sk', 'f')},
{_quant_sql('coll', 'c')},
ranked AS (
  SELECT grp, x, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x) AS rn
  FROM fix),
nbf AS (SELECT grp, CAST(count(*) AS BIGINT) AS b_full
        FROM sk GROUP BY grp),
nbc AS (SELECT grp, CAST(count(*) AS BIGINT) AS b_coll
        FROM coll GROUP BY grp),
nb AS (SELECT nbf.grp, nbf.b_full, nbc.b_coll
       FROM nbf JOIN nbc ON nbc.grp = nbf.grp)
SELECT ef.grp, ef.q, ROUND(ef.est, 6) AS est_full,
       ROUND(ec.est, 6) AS est_collapsed,
       ABS(ef.est - r.x) / r.x <= {ALPHA!r} AS within_full,
       ABS(ec.est - r.x) / r.x <= {ALPHA!r} AS within_collapsed,
       nb.b_full, nb.b_coll
FROM estf ef
JOIN estc ec ON ec.grp = ef.grp AND ec.q = ef.q
JOIN ranked r ON r.grp = ef.grp
            AND r.rn = GREATEST(1, CAST(CEIL(ef.q * ef.n) AS BIGINT))
JOIN nb ON nb.grp = ef.grp
ORDER BY ef.grp, ef.q
"""


@register("ddsketch_collapse_effect", _Q3_ORACLE)
def ddsketch_collapse_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory collapse to 24 buckets: upper quantiles keep the
    2% guarantee, the collapsed lower tail (q05/q25) loses it — the
    documented DDSketch memory/accuracy trade."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    fix = spark.sql(_fix_sql("spark"))
    sk = dd_sketch(fix, "grp", "x", ALPHA)
    from bano_spark.cache import keep
    sk = keep(sk)
    co = dd_collapse(sk, "grp", MAXB)
    qf = dd_quantiles(sk, "grp", QS, ALPHA) \
        .select("grp", "q", F.col("est").alias("est_full"), "n")
    qc = dd_quantiles(co, "grp", QS, ALPHA) \
        .select("grp", "q", F.col("est").alias("est_collapsed"))
    nb = (sk.groupBy("grp").agg(F.count(F.lit(1)).cast("bigint")
                                .alias("b_full"))
          .join(co.groupBy("grp")
                .agg(F.count(F.lit(1)).cast("bigint")
                     .alias("b_coll")), "grp"))
    w = Window.partitionBy("grp").orderBy("x")
    ranked = (fix.withColumn("rn", F.row_number().over(w))
              .select(F.col("grp").alias("grp_r"), "x", "rn"))
    rank = F.greatest(F.lit(1).cast("bigint"),
                      F.ceil(F.col("q") * F.col("n")).cast("bigint"))
    j = qf.join(qc, ["grp", "q"]).join(nb, "grp")
    return (j.join(ranked, (F.col("grp_r") == F.col("grp"))
                   & (F.col("rn") == rank))
            .select("grp", "q",
                    F.round("est_full", 6).alias("est_full"),
                    F.round("est_collapsed", 6).alias("est_collapsed"),
                    ((F.abs(F.col("est_full") - F.col("x")) / F.col("x"))
                     <= F.lit(ALPHA)).alias("within_full"),
                    ((F.abs(F.col("est_collapsed") - F.col("x"))
                      / F.col("x")) <= F.lit(ALPHA))
                    .alias("within_collapsed"),
                    "b_full", "b_coll")
            .orderBy("grp", "q"))
