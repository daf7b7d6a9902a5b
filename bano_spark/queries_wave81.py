"""Wave-81 driver queries: (1) bottom-k-by-hash quantile sketch — the
content-hash bottom-k sample (same family as the engine's KMV distinct
sketch: keep the k rows with the smallest md5(doc_id)) doubles as a
MERGEABLE uniform sample, so quantiles estimated from it are a
shuffle-free approximate-quantile path; the query reports the estimate
NEXT TO the exact rank statistic (iterative range-narrowing operator,
no global sort) so the error is measured, not assumed. (2) l-diversity
audit — the k-anonymity companion (Machanavalli et al. 2007): per
quasi-identifier group, distinct-sensitive-value count and entropy
l-diversity, flagging groups an attacker can link.

Ref parity: the reference publishes per-commune aggregate stats
(communes_summary, sql/create_table_base_bano.sql:140-158) with no
privacy screen; these add the audit a public release of web-derived
data needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# cn01 — bottom-k-by-hash quantile sketch vs exact rank statistic.
# ---------------------------------------------------------------------------
# Sample = the K rows with the smallest (md5(doc_id), doc_id); the
# estimate for quantile q is the sample value at floor(q * (K - 1))
# (zero-indexed lower-rank, matching operators/quantiles.py). Exact
# side uses the same convention over all rows.

_K = 256


_CN01_ORACLE = f"""
WITH v AS (
  SELECT doc_id, n_chars,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents),
samp AS (
  SELECT n_chars,
         row_number() OVER (ORDER BY h, doc_id) AS rk
  FROM v QUALIFY rk <= {_K}),
sq AS (
  SELECT max(CASE WHEN srk = CAST(floor(0.5 * (k - 1)) AS BIGINT) + 1
                  THEN n_chars END) AS est_p50,
         max(CASE WHEN srk = CAST(floor(0.9 * (k - 1)) AS BIGINT) + 1
                  THEN n_chars END) AS est_p90
  FROM (SELECT n_chars,
               row_number() OVER (ORDER BY n_chars) AS srk,
               count(*) OVER () AS k
        FROM samp)),
ex AS (
  SELECT max(CASE WHEN rk = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
                  THEN n_chars END) AS exact_p50,
         max(CASE WHEN rk = CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1
                  THEN n_chars END) AS exact_p90
  FROM (SELECT n_chars,
               row_number() OVER (ORDER BY n_chars) AS rk,
               count(*) OVER () AS n
        FROM v))
SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_rows,
       CAST((SELECT count(*) FROM samp) AS BIGINT) AS k,
       CAST(sq.est_p50 AS BIGINT) AS est_p50,
       CAST(sq.est_p90 AS BIGINT) AS est_p90,
       CAST(ex.exact_p50 AS BIGINT) AS exact_p50,
       CAST(ex.exact_p90 AS BIGINT) AS exact_p90,
       CAST(sq.est_p50 - ex.exact_p50 AS BIGINT) AS err_p50,
       CAST(sq.est_p90 - ex.exact_p90 AS BIGINT) AS err_p90
FROM sq, ex
"""


@register("hash_bottomk_quantiles", _CN01_ORACLE)
def q_bottomk_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample side: TakeOrdered top-K on (md5, doc_id) — K rows cross
    the wire, mergeable across partitions by construction (a bottom-k
    of bottom-ks is the bottom-k). Estimate: O(K) sort_array fold in
    one aggregate. Exact side: operators/quantiles.exact_quantiles —
    O(log) shared scans, O(bins) driver state, never a global sort.
    At 100 TB the sketch path touches K rows post-scan and the exact
    path is the audited range-narrowing operator."""
    from bano_spark.operators.quantiles import exact_quantiles

    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n_rows = docs.count()
    ex50, ex90 = exact_quantiles(docs, "n_chars", [0.5, 0.9])
    samp = (docs
            .withColumn("h", F.md5(F.col("doc_id").cast("string")))
            .orderBy("h", "doc_id").limit(_K)
            .select("n_chars"))
    est = samp.agg(
        F.sort_array(F.collect_list("n_chars")).alias("vs"),
        F.count(F.lit(1)).alias("k"))
    pick = lambda q: F.element_at(  # noqa: E731
        F.col("vs"), (F.floor(F.lit(q) * (F.col("k") - 1)) + 1).cast("int"))
    return est.select(
        F.lit(n_rows).cast("bigint").alias("n_rows"),
        F.col("k").cast("bigint").alias("k"),
        pick(0.5).cast("bigint").alias("est_p50"),
        pick(0.9).cast("bigint").alias("est_p90"),
        F.lit(int(ex50)).cast("bigint").alias("exact_p50"),
        F.lit(int(ex90)).cast("bigint").alias("exact_p90"),
        (pick(0.5) - F.lit(int(ex50))).cast("bigint").alias("err_p50"),
        (pick(0.9) - F.lit(int(ex90))).cast("bigint").alias("err_p90"))


# ---------------------------------------------------------------------------
# cn02 — l-diversity audit.
# ---------------------------------------------------------------------------
# Quasi-identifier = (lang, source); sensitive class = n_chars % 10
# (a deterministic stand-in for a sensitive categorical). Per QI
# group: size, distinct-l, entropy-l = exp(H), and the l>=3 flag on
# BOTH criteria (distinct AND entropy).

_L = 3

_CN02_ORACLE = f"""
WITH d AS (
  SELECT lang, source, n_chars % 10 AS sens FROM documents),
cnt AS (
  SELECT lang, source, sens, count(*) AS c
  FROM d GROUP BY lang, source, sens),
cnt2 AS (
  SELECT lang, source, c,
         sum(c) OVER (PARTITION BY lang, source) AS tot
  FROM cnt),
grp AS (
  SELECT lang, source,
         max(tot) AS n,
         count(*) AS distinct_l,
         -sum((CAST(c AS DOUBLE) / tot) * ln(CAST(c AS DOUBLE) / tot)) AS h
  FROM cnt2 GROUP BY lang, source)
SELECT lang, source,
       CAST(n AS BIGINT) AS n_rows,
       CAST(distinct_l AS BIGINT) AS distinct_l,
       round(exp(h), 6) AS entropy_l,
       CASE WHEN distinct_l >= {_L} AND exp(h) >= {_L}
            THEN 1 ELSE 0 END AS meets_l3
FROM grp
ORDER BY lang, source
"""


@register("l_diversity_audit", _CN02_ORACLE)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two keyed aggregations (QI+sens, then QI) — map-side combined,
    one exchange each; the entropy is computed from exact integer
    counts so both engines evaluate the identical rational p's. At
    100 TB this is the same shape as host_quality_rollup."""
    from pyspark.sql import Window

    d = (_read(spark, sf_dir, "documents")
         .select("lang", "source", (F.col("n_chars") % 10).alias("sens")))
    cnt = d.groupBy("lang", "source", "sens").agg(
        F.count(F.lit(1)).alias("c"))
    cnt2 = cnt.withColumn(
        "tot", F.sum("c").over(Window.partitionBy("lang", "source")))
    p = F.col("c").cast("double") / F.col("tot")
    tot = cnt2.groupBy("lang", "source").agg(
        F.max("tot").alias("n"),
        F.count(F.lit(1)).alias("distinct_l"),
        (-F.sum(p * F.log(p))).alias("h"))
    return tot.select(
        "lang", "source",
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("distinct_l").cast("bigint").alias("distinct_l"),
        F.round(F.exp("h"), 6).alias("entropy_l"),
        F.when((F.col("distinct_l") >= _L) & (F.exp("h") >= _L), 1)
        .otherwise(0).alias("meets_l3")
    ).orderBy("lang", "source")
