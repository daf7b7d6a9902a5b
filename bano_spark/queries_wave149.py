"""Wave-149 driver queries: scalar int8 quantization audit
(operators/sq8.py) over the embeddings table — cosine distortion per
query (mean ~1e-3 at 64 dims) and recall@10 of the quantized
ranking.

Oracles: identical per-dim affine codes (floor(x+0.5), explicit
clamp), identical index-order cosine folds (never SQL SUM over
exploded rows), identical (cos DESC, vec_id) tie-breaks — rankings
match exactly, so recall is an exact integer."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.sq8 import DIM, sq8_distortion, sq8_recall
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _dot(a: str, b: str) -> str:
    return (f"list_reduce(list_prepend([CAST(0 AS DOUBLE)], "
            f"list_transform(generate_series(1, {DIM}), "
            f"i -> [CAST(i AS DOUBLE)])), "
            f"(s, v) -> [s[1] + CAST({a}[CAST(v[1] AS INT)] AS DOUBLE) "
            f"* CAST({b}[CAST(v[1] AS INT)] AS DOUBLE)])[1]")


def _cos(a: str, b: str) -> str:
    return (f"({_dot(a, b)} / sqrt({_dot(a, a)} * {_dot(b, b)}))")


_BASE_CTE = f"""
ex AS (
  SELECT vec_id, embedding,
         unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings),
e2 AS (
  SELECT vec_id, i - 1 AS pos,
         CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
  FROM ex),
dims AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM e2 GROUP BY 1),
de AS (
  SELECT vec_id,
         list(mn + least(CAST(255 AS DOUBLE), greatest(
                CAST(0 AS DOUBLE),
                floor((v - mn) * 255.0 / (mx - mn) + 0.5)))
              * (mx - mn) / 255.0 ORDER BY pos) AS deq
  FROM e2 JOIN dims USING (pos) GROUP BY vec_id),
dd AS (
  SELECT e.vec_id, e.embedding, de.deq
  FROM embeddings e JOIN de ON e.vec_id = de.vec_id),
pr AS (
  SELECT q.vec_id AS qid, q.embedding AS qe, q.deq AS qd,
         v.vec_id AS vid, v.embedding AS ve, v.deq AS vd
  FROM dd q CROSS JOIN dd v
  WHERE q.vec_id % 25 = 0 AND q.vec_id <> v.vec_id),
sc AS (
  SELECT qid, vid, {_cos('qe', 've')} AS ce, {_cos('qd', 'vd')} AS cq
  FROM pr)"""

_Q1_ORACLE = f"""
WITH {_BASE_CTE},
er AS (
  SELECT qid, abs(cq - ce) AS err,
         floor(abs(cq - ce) * 16777216.0) / 16777216.0 AS qerr
  FROM sc)
SELECT qid, CAST(count(*) AS BIGINT) AS n_pairs,
       round(sum(qerr) / CAST(count(*) AS DOUBLE), 6)
         AS mean_abs_err,
       round(max(err), 6) AS max_abs_err
FROM er GROUP BY qid ORDER BY qid
"""


@register("sq8_cosine_distortion", _Q1_ORACLE)
def sq8_cosine_distortion(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Per query: |cos_sq8 - cos_exact| stats over all pairs."""
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .createOrReplaceTempView("embeddings")
    return sq8_distortion(spark.table("embeddings"), qmod=25)


_Q2_ORACLE = f"""
WITH {_BASE_CTE},
te AS (SELECT qid, vid FROM (
  SELECT qid, vid, row_number() OVER (PARTITION BY qid
           ORDER BY ce DESC, vid) AS r FROM sc) WHERE r <= 10),
tq AS (SELECT qid, vid FROM (
  SELECT qid, vid, row_number() OVER (PARTITION BY qid
           ORDER BY cq DESC, vid) AS r FROM sc) WHERE r <= 10),
m AS (SELECT te.qid, CAST(count(*) AS BIGINT) AS n_matched
      FROM te JOIN tq ON te.qid = tq.qid AND te.vid = tq.vid
      GROUP BY te.qid)
SELECT t.qid, CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
       round(CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / 10.0, 6)
         AS recall_at_k
FROM (SELECT DISTINCT qid FROM te) t
LEFT JOIN m ON t.qid = m.qid ORDER BY t.qid
"""


@register("sq8_topk_recall", _Q2_ORACLE)
def sq8_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the int8 ranking vs exact — typically 0.9-1.0 at
    64 dims."""
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .createOrReplaceTempView("embeddings")
    return sq8_recall(spark.table("embeddings"), qmod=25, k=10)
