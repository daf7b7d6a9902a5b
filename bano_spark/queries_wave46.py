"""Wave-46 driver queries: ranking / retrieval evaluation metrics
(MRR, per-query NDCG@10, per-query average precision, tie-correct
ROC-AUC) over a deterministic relevance fixture — each user's events
ranked by value with `click`/`purchase` as the relevant class. These
evaluate the rankings the engine's BM25 / ANN / kNN-match operators
produce; the AUC oracle is the classical mid-rank Mann-Whitney form
while the engine computes the same quantity with a bucketed
distributed prefix sum (no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


_REL = "event_type IN ('click', 'purchase')"


def _ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relevance fixture: query = user, score = value (desc),
    tiebreak = event_id (asc), relevant = click/purchase."""
    return (_read(spark, sf_dir, "events")
            .select("user_id", "value", "event_id",
                    F.expr(_REL).alias("rel")))


_ORDER_SQL = "ORDER BY value DESC, event_id"


# ---------------------------------------------------------------------------
# bf01 — mean reciprocal rank over all user queries.
# ---------------------------------------------------------------------------

_BF01_ORACLE = f"""
WITH r AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id {_ORDER_SQL}) AS rn,
         {_REL} AS rel
  FROM events
),
q AS (SELECT user_id, min(CASE WHEN rel THEN rn END) AS fr
      FROM r GROUP BY user_id)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(count(fr) AS BIGINT) AS n_with_relevant,
       round(sum(coalesce(1.0 / fr, 0)) / count(*), 6) AS mrr
FROM q
"""


@register("mrr_first_relevant", _BF01_ORACLE)
def q_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.ranking import reciprocal_rank_summary

    return reciprocal_rank_summary(
        _ranked(spark, sf_dir), "user_id",
        [F.desc("value"), F.asc("event_id")], "rel")


# ---------------------------------------------------------------------------
# bf02 — per-query NDCG@10 with binary gains (IDCG from n_rel alone).
# ---------------------------------------------------------------------------

_BF02_ORACLE = f"""
WITH r AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id {_ORDER_SQL}) AS rn,
         {_REL} AS rel
  FROM events
),
q AS (
  SELECT user_id,
         CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
         sum(CASE WHEN rel AND rn <= 10
                  THEN 1.0 / log2(rn + 1.0) END) AS dcg
  FROM r GROUP BY user_id
)
SELECT user_id, n_rel,
       round(CASE WHEN n_rel > 0 THEN
         coalesce(dcg, 0) / list_reduce(
           list_transform(
             generate_series(1, CAST(least(n_rel, 10) AS INT)),
             i -> 1.0 / log2(i + 1.0)),
           (a, x) -> a + x)
       ELSE 0.0 END, 6) AS ndcg_10
FROM q ORDER BY user_id
"""


@register("ndcg_at_10", _BF02_ORACLE)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.ranking import ndcg_at_k

    return ndcg_at_k(_ranked(spark, sf_dir), "user_id",
                     [F.desc("value"), F.asc("event_id")], "rel",
                     k=10).orderBy("user_id")


# ---------------------------------------------------------------------------
# bf03 — per-query average precision (precision@rank at each hit).
# ---------------------------------------------------------------------------

_BF03_ORACLE = f"""
WITH r AS (
  SELECT user_id, {_REL} AS rel,
         row_number() OVER (PARTITION BY user_id {_ORDER_SQL}) AS rn,
         sum(CASE WHEN {_REL} THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id {_ORDER_SQL}
                 ROWS UNBOUNDED PRECEDING) AS cr
  FROM events
)
SELECT user_id,
       CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
       round(coalesce(sum(CASE WHEN rel THEN cr * 1.0 / rn END)
                      / sum(CASE WHEN rel THEN 1 ELSE 0 END), 0.0), 6)
         AS ap
FROM r GROUP BY user_id ORDER BY user_id
"""


@register("average_precision_ranking", _BF03_ORACLE)
def q_ap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.ranking import average_precision

    return average_precision(
        _ranked(spark, sf_dir), "user_id",
        [F.desc("value"), F.asc("event_id")], "rel").orderBy("user_id")


# ---------------------------------------------------------------------------
# bf04 — global ROC-AUC, tie-correct. Oracle: classical mid-rank
# Mann-Whitney; engine: distinct-score groupBy + bucketed prefix sum.
# ---------------------------------------------------------------------------

_BF04_ORACLE = f"""
WITH s AS (
  SELECT value AS v, CAST({_REL} AS INT) AS y FROM events
),
r AS (
  SELECT y, rank() OVER (ORDER BY v) AS rk,
         count(*) OVER (PARTITION BY v) AS c
  FROM s
),
m AS (SELECT y, rk + (c - 1) / 2.0 AS mr FROM r)
SELECT CAST(sum(y) AS BIGINT) AS n_pos,
       CAST(sum(1 - y) AS BIGINT) AS n_neg,
       round((sum(CASE WHEN y = 1 THEN mr END)
              - sum(y) * (sum(y) + 1) / 2.0)
             / (sum(y) * sum(1 - y)), 6) AS auc
FROM m
"""


@register("roc_auc_events", _BF04_ORACLE)
def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.ranking import roc_auc

    return roc_auc(_ranked(spark, sf_dir), "value", "rel")
