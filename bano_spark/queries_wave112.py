"""Wave-112 driver queries: WAND / Block-Max-WAND pruning audit
(operators/wand.py) over the documents corpus.

The audit quantifies how much of the postings traversal a WAND top-k
engine skips (candidates whose term-upper-bound sum < θ, the k-th
exact score) and proves the safety invariant (no true top-k document
is prunable). Block-max bounds (per 32-doc block) tighten the global
bounds; BMW prunability is a superset of WAND prunability.

Numeric discipline: BM25 contributions reuse the wave-4 bm25_topk
formula text verbatim (engine-identical doubles), then everything is
quantized to micro-units (round(x*1e6) AS BIGINT) so all sums and
comparisons are exact integers.

Ref parity: retrieval-side pruning cost model for the same corpus
bm25_topk serves (ref anchor: bano/core.py name-match candidate
filtering — the same "bound first, score later" shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.wand import wand_audit
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_K = 10
_BLOCK = 32


def _base_cte(terms: list[str]) -> str:
    tlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return r"""
dl AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS DOUBLE) AS dl
  FROM documents),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
tok AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM tok WHERE term IN (""" + tlist + r""") GROUP BY 1, 2),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
con AS (
  SELECT t.doc_id, t.term, t.doc_id // """ + str(_BLOCK) + r""" AS blk,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * t.tf * 2.2
           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS s
  FROM tf t
  JOIN dfs d ON d.term = t.term
  JOIN dl ON dl.doc_id = t.doc_id
  CROSS JOIN stats s),
exact AS (
  SELECT doc_id, CAST(round(sum(s) * 1e6, 0) AS BIGINT) AS score_micro
  FROM con GROUP BY doc_id),
theta AS (
  SELECT min(score_micro) AS theta_micro
  FROM (SELECT score_micro FROM exact
        ORDER BY score_micro DESC, doc_id ASC LIMIT """ + str(_K) + r""")),
topk AS (
  SELECT doc_id, TRUE AS in_topk
  FROM (SELECT doc_id FROM exact
        ORDER BY score_micro DESC, doc_id ASC LIMIT """ + str(_K) + r""")),
ub AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         CAST(round(max(s) * 1e6, 0) AS BIGINT) AS ub_micro,
         CAST(count(DISTINCT blk) AS BIGINT) AS n_blocks
  FROM con GROUP BY term),
bub AS (
  SELECT term, blk, CAST(round(max(s) * 1e6, 0) AS BIGINT) AS bub_micro
  FROM con GROUP BY term, blk),
per_doc AS (
  SELECT c.doc_id,
         CAST(sum(u.ub_micro) AS BIGINT) AS wand_ub,
         CAST(sum(b.bub_micro) AS BIGINT) AS bmw_ub
  FROM (SELECT DISTINCT doc_id, term, blk FROM con) c
  JOIN ub u ON u.term = c.term
  JOIN bub b ON b.term = c.term AND b.blk = c.blk
  GROUP BY c.doc_id),
cands AS (
  SELECT e.doc_id, e.score_micro, p.wand_ub, p.bmw_ub,
         coalesce(k.in_topk, FALSE) AS in_topk,
         p.wand_ub < t.theta_micro AS wand_prunable,
         p.bmw_ub < t.theta_micro AS bmw_prunable,
         t.theta_micro
  FROM exact e
  JOIN per_doc p ON p.doc_id = e.doc_id
  LEFT JOIN topk k ON k.doc_id = e.doc_id
  CROSS JOIN theta t)
"""


_TERMS_A = ["hash", "join", "scan"]
_TERMS_B = ["dup", "table", "fast"]


_WD01_ORACLE = f"""
WITH {_base_cte(_TERMS_A)}
SELECT in_topk, wand_prunable, bmw_prunable,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(score_micro) AS BIGINT) AS min_score,
       CAST(max(score_micro) AS BIGINT) AS max_score
FROM cands
GROUP BY in_topk, wand_prunable, bmw_prunable
ORDER BY in_topk, wand_prunable, bmw_prunable
"""


@register("wand_candidate_classes", _WD01_ORACLE)
def wand_candidate_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate census by (in_topk, WAND-prunable, BMW-prunable) —
    the safety proof is the absence of any (true, *, true) row."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cands = wand_audit(docs, _TERMS_A, k=_K, block=_BLOCK)["cands"]
    return (cands.groupBy("in_topk", "wand_prunable", "bmw_prunable")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.min("score_micro").cast("bigint").alias("min_score"),
                 F.max("score_micro").cast("bigint").alias("max_score"))
            .orderBy("in_topk", "wand_prunable", "bmw_prunable"))


_WD02_ORACLE = f"""
WITH {_base_cte(_TERMS_A)}
SELECT u.term, u.df, u.ub_micro,
       (SELECT CAST(max(bub_micro) AS BIGINT) FROM bub b
        WHERE b.term = u.term) AS max_bub,
       u.n_blocks
FROM ub u
ORDER BY u.term
"""


@register("wand_term_bounds", _WD02_ORACLE)
def wand_term_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query term: document frequency, global score upper bound,
    tightest block bound, block count — the skip-list metadata a
    BMW index stores."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    b = wand_audit(docs, _TERMS_A, k=_K, block=_BLOCK)["bounds"]
    return (b.select("term", "df", "ub_micro",
                     F.col("max_bub").cast("bigint").alias("max_bub"),
                     "n_blocks")
            .orderBy("term"))


_WD03_ORACLE = f"""
WITH {_base_cte(_TERMS_B)}
SELECT CAST(max(theta_micro) AS BIGINT) AS theta_micro,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN wand_prunable THEN 1 ELSE 0 END) AS BIGINT)
         AS n_wand_prunable,
       CAST(sum(CASE WHEN bmw_prunable THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bmw_prunable,
       CAST(sum(CASE WHEN in_topk AND wand_prunable THEN 1 ELSE 0 END)
            AS BIGINT) AS n_unsafe,
       CAST(sum(CASE WHEN wand_prunable THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS wand_rate,
       CAST(sum(CASE WHEN bmw_prunable THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS bmw_rate
FROM cands
"""


@register("wand_pruning_summary", _WD03_ORACLE)
def wand_pruning_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row pruning economics for a second query: θ, candidate
    volume, WAND vs BMW skip rates, and the unsafe count (must be 0)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cands = wand_audit(docs, _TERMS_B, k=_K, block=_BLOCK)["cands"]
    si = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0))  # noqa: E731
    return (cands.agg(
        F.max("theta_micro").cast("bigint").alias("theta_micro"),
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        si("wand_prunable").cast("bigint").alias("n_wand_prunable"),
        si("bmw_prunable").cast("bigint").alias("n_bmw_prunable"),
        F.sum(F.when(F.col("in_topk") & F.col("wand_prunable"), 1)
              .otherwise(0)).cast("bigint").alias("n_unsafe"),
        (si("wand_prunable").cast("double")
         / F.count(F.lit(1)).cast("double")).alias("wand_rate"),
        (si("bmw_prunable").cast("double")
         / F.count(F.lit(1)).cast("double")).alias("bmw_rate")))
