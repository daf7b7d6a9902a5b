"""Wave-44 driver queries: embedding-cluster evaluation on the
labeled embeddings table — pairwise centroid cosine similarity (the
merge-candidate quick look) and the Davies-Bouldin index (the
centroid-only cluster-quality score that avoids silhouette's O(n^2)
pairs). Completes the clustering family (kmeans/dbscan/semdedup)
with its evaluation arm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


_CENTROIDS = """
ex AS (
  SELECT label AS l, i.d - 1 AS d,
         CAST(embedding[i.d] AS DOUBLE) AS v, vec_id
  FROM embeddings,
       (SELECT unnest(generate_series(1, 64)) AS d) i
),
c AS (SELECT l, d, avg(v) AS m FROM ex GROUP BY l, d)
"""


# ---------------------------------------------------------------------------
# bd01 — centroid cosine between label pairs.
# ---------------------------------------------------------------------------

_BD01_ORACLE = f"""
WITH {_CENTROIDS},
p AS (
  SELECT a.l AS la, b.l AS lb,
         sum(a.m * b.m) AS dot, sum(a.m * a.m) AS na,
         sum(b.m * b.m) AS nb
  FROM c a JOIN c b ON b.d = a.d AND a.l < b.l
  GROUP BY a.l, b.l
)
SELECT la AS label_a, lb AS label_b,
       round(dot / (sqrt(na) * sqrt(nb)), 6) AS cosine
FROM p ORDER BY label_a, label_b
"""


@register("label_centroid_cosine", _BD01_ORACLE)
def q_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.clustering import label_centroid_cosine

    embs = _read(spark, sf_dir, "embeddings")
    return (label_centroid_cosine(embs)
            .orderBy("label_a", "label_b"))


# ---------------------------------------------------------------------------
# bd02 — Davies-Bouldin index of the label clustering.
# ---------------------------------------------------------------------------

_BD02_ORACLE = f"""
WITH {_CENTROIDS},
dev AS (
  SELECT ex.l, ex.vec_id, sum((ex.v - c.m) * (ex.v - c.m)) AS d2
  FROM ex JOIN c ON c.l = ex.l AND c.d = ex.d
  GROUP BY ex.l, ex.vec_id
),
scat AS (SELECT l, avg(sqrt(d2)) AS s FROM dev GROUP BY l),
cd AS (
  SELECT a.l AS li, b.l AS lj,
         sqrt(sum((a.m - b.m) * (a.m - b.m))) AS dij
  FROM c a JOIN c b ON b.d = a.d AND a.l <> b.l
  GROUP BY a.l, b.l
),
r AS (
  SELECT cd.li, max((si.s + sj.s) / cd.dij) AS r
  FROM cd JOIN scat si ON si.l = cd.li JOIN scat sj ON sj.l = cd.lj
  GROUP BY cd.li
)
SELECT CAST(count(*) AS BIGINT) AS n_labels,
       round(avg(r), 6) AS db_index
FROM r
"""


@register("davies_bouldin_index", _BD02_ORACLE)
def q_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.clustering import davies_bouldin

    embs = _read(spark, sf_dir, "embeddings")
    return davies_bouldin(embs)
