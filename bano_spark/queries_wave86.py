"""Wave-86 driver queries: neighborhood collaborative filtering
(operators/recsys.py). (1) item-item cosine top-k neighbor lists with
an exactly-reproducible ranking — pairs ordered by cos^2 =
(dot*dot)/(ss_i*ss_j), one IEEE division of exactly-representable
integers, so rank order is bit-identical across engines and sqrt only
decorates the displayed value; (2) weighted Slope One predictions
(Lemire & Maclachlan 2005) — deviations and predictions stay INTEGER
until one final division, top-3 unseen items per user.

Oracles: the same co-occurrence algebra as plain SQL (self-join on
user, hash aggregates, per-item / per-user ranking windows).

Ref parity: the reference scores candidate address matches by
source-agreement weights (bano/core.py rapprochement, models.py
poids); item neighborhoods are the data-driven form of "entities that
co-occur across observers are interchangeable".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


# Deterministic implicit ratings: item = hash % 60, rating 1..5 from
# the next hash digits, (user, item) de-duplicated by max(rating).
def _ratings_fix(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return f"""
SELECT user_id, item, max(rating) AS rating
FROM (SELECT user_id,
             CAST(k % 60 AS BIGINT) AS item,
             CAST(1 + (k{d}60) % 5 AS BIGINT) AS rating
      FROM (SELECT user_id,
                   (event_id * 2654435761 + 113) % 2147483648 AS k
            FROM events))
GROUP BY user_id, item
"""


_CF01_ORACLE = f"""
WITH r AS ({_ratings_fix('duckdb')}),
p AS (
  SELECT a.item AS item_i, b.item AS item_j,
         CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum(a.rating * b.rating) AS BIGINT) AS dot
  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item <> b.item
  GROUP BY 1, 2),
ss AS (SELECT item, CAST(sum(rating * rating) AS BIGINT) AS ss
       FROM r GROUP BY item),
j AS (
  SELECT p.item_i, p.item_j, p.n_common,
         CAST(p.dot * p.dot AS DOUBLE)
           / CAST(si.ss * sj.ss AS DOUBLE) AS cos2
  FROM p JOIN ss si ON si.item = p.item_i
         JOIN ss sj ON sj.item = p.item_j),
rk AS (
  SELECT item_i, item_j, n_common, cos2,
         row_number() OVER (PARTITION BY item_i
                            ORDER BY cos2 DESC, item_j) AS rank
  FROM j)
SELECT item_i, item_j, n_common,
       round(sqrt(cos2), 6) + 0.0 AS cosine,
       CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 5 ORDER BY item_i, rank
"""


def _ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return spark.sql(_ratings_fix("spark"))


@register("itemcf_topk_neighbors", _CF01_ORACLE)
def q_itemcf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.recsys import item_cosine_topk

    return item_cosine_topk(_ratings(spark, sf_dir),
                            "user_id", "item", "rating", k=5)


_CF02_ORACLE = f"""
WITH r AS ({_ratings_fix('duckdb')}),
dev AS (
  SELECT a.item AS tgt, b.item AS src,
         CAST(sum(a.rating - b.rating) AS BIGINT) AS num,
         CAST(count(*) AS BIGINT) AS c
  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item <> b.item
  GROUP BY 1, 2),
cand AS (
  SELECT r.user_id, d.tgt AS item,
         CAST(sum(d.num + r.rating * d.c) AS BIGINT) AS pnum,
         CAST(sum(d.c) AS BIGINT) AS den
  FROM r JOIN dev d ON d.src = r.item
  GROUP BY 1, 2),
unseen AS (
  SELECT c.* FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM r
                    WHERE r.user_id = c.user_id AND r.item = c.item)),
rk AS (
  SELECT user_id, item, pnum, den,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY CAST(pnum AS DOUBLE)
                                     / CAST(den AS DOUBLE) DESC,
                                     item) AS rank
  FROM unseen)
SELECT user_id, item, den AS n_support,
       round(CAST(pnum AS DOUBLE) / CAST(den AS DOUBLE), 6) + 0.0
         AS prediction,
       CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 3 ORDER BY user_id, rank
"""


@register("slope_one_recs", _CF02_ORACLE)
def q_slope_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.recsys import slope_one_predict

    return slope_one_predict(_ratings(spark, sf_dir),
                             "user_id", "item", "rating", top_n=3)
