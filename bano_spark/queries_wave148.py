"""Wave-148 driver queries: extractive summarization
(operators/extractive.py) — top-2 centroid chunks per document and
the per-source selected-vs-rest cosine separation.

Oracle: same explode/aggregate/join pipeline in SQL; cosine is one
fixed chain on exact integer dot/norms (bit-identical selection);
rollup means quantize cosine to 2^-20 before summing."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.extractive import (extractive_topk,
                                             summary_rollup)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_BASE_CTE = """
d AS (SELECT doc_id, source, string_split(text, ' ') AS arr
      FROM documents),
ix AS (SELECT doc_id, source, arr,
              unnest(generate_series(1, len(arr))) AS i
       FROM d),
w AS (SELECT doc_id, source, (i - 1) // 12 AS chunk,
             arr[CAST(i AS INT)] AS term
      FROM ix WHERE arr[CAST(i AS INT)] <> ''),
tfc AS (SELECT doc_id, source, chunk, term,
               CAST(count(*) AS BIGINT) AS ct
        FROM w GROUP BY 1, 2, 3, 4),
tfd AS (SELECT doc_id, term, CAST(sum(ct) AS BIGINT) AS dt
        FROM tfc GROUP BY 1, 2),
ns AS (SELECT doc_id, source, chunk,
              CAST(sum(ct * ct) AS BIGINT) AS ns,
              CAST(sum(ct) AS BIGINT) AS n_terms
       FROM tfc GROUP BY 1, 2, 3),
nd AS (SELECT doc_id, CAST(sum(dt * dt) AS BIGINT) AS nd
       FROM tfd GROUP BY 1),
dots AS (SELECT t.doc_id, t.chunk,
                CAST(sum(t.ct * f.dt) AS BIGINT) AS dot
         FROM tfc t JOIN tfd f
           ON t.doc_id = f.doc_id AND t.term = f.term
         GROUP BY 1, 2),
nch AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
        FROM ns GROUP BY 1),
cosq AS (
  SELECT ns.doc_id, ns.source, ns.chunk, ns.n_terms, nch.n_chunks,
         CAST(dot AS DOUBLE) / sqrt(CAST(ns.ns * nd.nd AS DOUBLE))
           AS cos
  FROM ns JOIN dots ON ns.doc_id = dots.doc_id
                    AND ns.chunk = dots.chunk
  JOIN nd ON ns.doc_id = nd.doc_id
  JOIN nch ON ns.doc_id = nch.doc_id
  WHERE nch.n_chunks >= 4),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY cos DESC, chunk) AS rank
  FROM cosq)"""

_Q1_ORACLE = f"""
WITH {_BASE_CTE}
SELECT doc_id, chunk, n_terms, round(cos, 6) AS cos, rank
FROM rk WHERE rank <= 2 ORDER BY doc_id, rank
"""


@register("extractive_summary_chunks", _Q1_ORACLE)
def extractive_summary_chunks(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Top-2 centroid chunks per document — exact-integer cosine,
    deterministic (cos DESC, chunk) tie-break."""
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("documents")
    docs = spark.table("documents")
    return extractive_topk(docs, k=2)


_Q2_ORACLE = f"""
WITH {_BASE_CTE},
q AS (SELECT source, doc_id,
             CASE WHEN rank <= 2 THEN 1 ELSE 0 END AS sel,
             floor(cos * 1048576.0) / 1048576.0 AS qc
      FROM rk)
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_chunks,
       round(sum(CASE WHEN sel = 1 THEN qc ELSE 0.0 END)
             / CAST(sum(sel) AS DOUBLE), 6) AS mean_cos_selected,
       round(sum(CASE WHEN sel = 0 THEN qc ELSE 0.0 END)
             / CAST(sum(1 - sel) AS DOUBLE), 6) AS mean_cos_rest
FROM q GROUP BY source ORDER BY source
"""


@register("extractive_summary_separation", _Q2_ORACLE)
def extractive_summary_separation(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Selected chunks' mean centroid cosine vs the rest, per
    source — the selection-quality rollup."""
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("documents")
    return summary_rollup(spark.table("documents"), k=2)
