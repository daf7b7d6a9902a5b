"""Wave-114 driver queries: Johnson two-machine flow-shop scheduling
(operators/flowshop.py) over jobs derived from orders.

Jobs: shop = o_custkey % 50, processing times a = 1 + (u % 97),
b = 1 + ((u >> small) % 89) from the multiplicative hash HIGH bits
(low-bit periodicity note in the verify recipe). Exact integers
throughout.

  * the optimal sequence itself (front class ascending a, back class
    descending b) for a deterministic shop subset,
  * per-shop makespan via the prefix/suffix closed form + classical
    lower bounds and the optimality gap,
  * Johnson vs FIFO (job-id order): the theorem check
    johnson <= fifo on every shop, and the improvement distribution.

Ref parity: batch-ordering cost model for the reference's per-dept
batch pipeline (bano/cumul.py sequential department processing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.flowshop import johnson_sequence, sequence_makespan
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _jobs_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return f"""
SELECT o_orderkey AS job_id,
       o_custkey % 50 AS shop,
       1 + ((u{d}1024) % 97) AS a,
       1 + ((u{d}(1024 * 97)) % 89) AS b
FROM (SELECT o_orderkey, o_custkey,
             (o_orderkey * 2654435761 + 17) % 2147483648 AS u
      FROM orders)"""


def _jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .createOrReplaceTempView("orders")
    return spark.sql(_jobs_sql("spark"))


_SEQ_SQL = """
seqd AS (
  SELECT job_id, shop, a, b,
         CASE WHEN a < b THEN 1 ELSE 2 END AS cls,
         CASE WHEN a < b THEN a ELSE -b END AS skey,
         CAST(row_number() OVER (
             PARTITION BY shop
             ORDER BY CASE WHEN a < b THEN 1 ELSE 2 END,
                      CASE WHEN a < b THEN a ELSE -b END,
                      job_id) AS BIGINT) AS seq
  FROM jobs)
"""


def _makespan_sql(src: str, tag: str) -> str:
    return f"""
{tag}_p AS (
  SELECT shop, seq, a, b,
         sum(a) OVER (PARTITION BY shop ORDER BY seq) AS pref_a,
         sum(b) OVER (PARTITION BY shop ORDER BY seq) AS pref_b,
         sum(b) OVER (PARTITION BY shop) AS tot_b
  FROM {src}),
{tag} AS (
  SELECT shop, CAST(count(*) AS BIGINT) AS n_jobs,
         CAST(sum(a) AS BIGINT) AS sum_a,
         CAST(sum(b) AS BIGINT) AS sum_b,
         CAST(max(pref_a + tot_b - pref_b + b) AS BIGINT) AS makespan
  FROM {tag}_p GROUP BY shop)"""


_FS01_ORACLE = f"""
WITH jobs AS ({_jobs_sql("duckdb")}),
{_SEQ_SQL}
SELECT shop, seq, job_id,
       CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(cls AS BIGINT) AS cls
FROM seqd
WHERE shop % 10 = 0
ORDER BY shop, seq
"""


@register("johnson_schedule_order", _FS01_ORACLE)
def johnson_schedule_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The optimal job sequence for every 10th shop — front class
    (a < b) ascending a, back class descending b, job_id ties."""
    s = johnson_sequence(_jobs(spark, sf_dir))
    return (s.filter(F.expr("shop % 10 = 0"))
            .select("shop", "seq", "job_id",
                    F.col("a").cast("bigint").alias("a"),
                    F.col("b").cast("bigint").alias("b"),
                    F.col("cls").cast("bigint").alias("cls"))
            .orderBy("shop", "seq"))


_FS02_ORACLE = f"""
WITH jobs AS ({_jobs_sql("duckdb")}),
{_SEQ_SQL},
{_makespan_sql("seqd", "ms")},
lb AS (
  SELECT shop, CAST(min(a) AS BIGINT) AS min_a,
         CAST(min(b) AS BIGINT) AS min_b
  FROM jobs GROUP BY shop)
SELECT m.shop, m.n_jobs, m.sum_a, m.sum_b, m.makespan,
       CAST(greatest(m.sum_a + l.min_b, l.min_a + m.sum_b) AS BIGINT)
         AS lower_bound,
       CAST(m.makespan - greatest(m.sum_a + l.min_b, l.min_a + m.sum_b)
            AS BIGINT) AS gap,
       m.makespan = greatest(m.sum_a + l.min_b, l.min_a + m.sum_b)
         AS tight
FROM ms m JOIN lb l ON l.shop = m.shop
ORDER BY m.shop
"""


@register("johnson_makespan", _FS02_ORACLE)
def johnson_makespan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per shop: optimal makespan (closed form), the classical F2
    lower bound max(sum_a + min_b, min_a + sum_b), and the gap."""
    jobs = _jobs(spark, sf_dir)
    ms = sequence_makespan(johnson_sequence(jobs))
    lb = jobs.groupBy("shop").agg(
        F.min("a").cast("bigint").alias("min_a"),
        F.min("b").cast("bigint").alias("min_b"))
    bound = F.greatest(F.col("sum_a") + F.col("min_b"),
                       F.col("min_a") + F.col("sum_b"))
    return (ms.join(lb, "shop")
            .select("shop", "n_jobs", "sum_a", "sum_b", "makespan",
                    bound.cast("bigint").alias("lower_bound"),
                    (F.col("makespan") - bound).cast("bigint")
                    .alias("gap"),
                    (F.col("makespan") == bound).alias("tight"))
            .orderBy("shop"))


_FS03_ORACLE = f"""
WITH jobs AS ({_jobs_sql("duckdb")}),
{_SEQ_SQL},
fifo AS (
  SELECT job_id, shop, a, b,
         CAST(row_number() OVER (PARTITION BY shop ORDER BY job_id)
              AS BIGINT) AS seq
  FROM jobs),
{_makespan_sql("seqd", "msj")},
{_makespan_sql("fifo", "msf")}
SELECT j.shop, j.n_jobs,
       j.makespan AS johnson_makespan,
       f.makespan AS fifo_makespan,
       CAST(f.makespan - j.makespan AS BIGINT) AS saved,
       j.makespan <= f.makespan AS johnson_le_fifo
FROM msj j JOIN msf f ON f.shop = j.shop
ORDER BY j.shop
"""


@register("johnson_vs_fifo", _FS03_ORACLE)
def johnson_vs_fifo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimality evidence per shop: Johnson's makespan never exceeds
    the FIFO (job-id order) makespan; `saved` is the win."""
    jobs = _jobs(spark, sf_dir)
    from pyspark.sql import Window

    msj = sequence_makespan(johnson_sequence(jobs))
    fifo = jobs.withColumn(
        "seq", F.row_number().over(
            Window.partitionBy("shop").orderBy("job_id")).cast("bigint"))
    msf = sequence_makespan(fifo)
    return (msj.alias("j")
            .join(msf.alias("f"), "shop")
            .select("shop", F.col("j.n_jobs").alias("n_jobs"),
                    F.col("j.makespan").alias("johnson_makespan"),
                    F.col("f.makespan").alias("fifo_makespan"),
                    (F.col("f.makespan") - F.col("j.makespan"))
                    .cast("bigint").alias("saved"),
                    (F.col("j.makespan") <= F.col("f.makespan"))
                    .alias("johnson_le_fifo"))
            .orderBy("shop"))
