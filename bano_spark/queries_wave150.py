"""Wave-150 driver queries: corpus curation plan
(operators/curation.py) — the end-to-end keep/drop table (lang ->
quality -> prefix dedup -> per-source token budget, first failing
stage recorded) and its funnel rollup.

Oracle: the same staged logic in SQL — cross-multiplied diversity
compare, min-doc_id prefix clusters, deterministic
(n_chars DESC, doc_id) budget window — all integer/string decisions,
exact at any scale."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.curation import curation_funnel, curation_plan
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_PLAN_CTE = """
w AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS words,
         CAST(count(DISTINCT term) AS BIGINT) AS dw
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents)
  WHERE term <> '' GROUP BY doc_id),
d AS (
  SELECT doc_id, source, lang, n_chars,
         array_to_string(list_slice(string_split(text, ' '), 1, 5),
                         ' ') AS pfx,
         words, dw,
         lang = 'en' AS lang_ok,
         n_chars >= 100 AND n_chars <= 2000
           AND dw * 10 >= words * 3 AS qual_ok
  FROM documents JOIN w USING (doc_id)),
keeper AS (
  SELECT pfx, min(doc_id) AS keep_id
  FROM d WHERE lang_ok AND qual_ok GROUP BY pfx),
d2 AS (
  SELECT d.*, d.lang_ok AND d.qual_ok
           AND d.doc_id = k.keep_id AS dup_ok
  FROM d LEFT JOIN keeper k ON d.pfx = k.pfx),
d3 AS (
  SELECT *, sum(CASE WHEN dup_ok THEN words ELSE 0 END)
           OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM d2),
plan AS (
  SELECT doc_id, source, lang, words, dw AS distinct_words,
         dup_ok AND cum <= 300 AS kept,
         CASE WHEN NOT lang_ok THEN 'lang'
              WHEN NOT qual_ok THEN 'quality'
              WHEN NOT dup_ok THEN 'duplicate'
              WHEN NOT (dup_ok AND cum <= 300) THEN 'budget'
         END AS drop_reason
  FROM d3)"""

_Q1_ORACLE = f"""
WITH {_PLAN_CTE}
SELECT * FROM plan ORDER BY doc_id
"""


@register("corpus_curation_plan", _Q1_ORACLE)
def corpus_curation_plan(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Per-document keep/drop lineage across the four curation
    stages, one pass each."""
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("documents")
    return curation_plan(spark.table("documents")).orderBy("doc_id")


_Q2_ORACLE = f"""
WITH {_PLAN_CTE}
SELECT COALESCE(drop_reason, 'kept') AS stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(words) AS BIGINT) AS n_words
FROM plan GROUP BY 1 ORDER BY 1
"""


@register("corpus_curation_funnel", _Q2_ORACLE)
def corpus_curation_funnel(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """The funnel rollup a curation run publishes: docs and words
    per outcome."""
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("documents")
    return curation_funnel(spark.table("documents"))
