"""Wave-45 driver queries: sampled silhouette per label (the
per-point cluster-fit score, probe set bounded by construction) and
the Adjusted Rand Index between the reference labels and a hash
partition — the external-agreement closer of the clustering
evaluation arm (centroid cosine, Davies-Bouldin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# be01 — sampled silhouette (probes: vec_id % 5 = 0, i.e. 100 of 500).
# ---------------------------------------------------------------------------

_BE01_ORACLE = """
WITH pr AS (
  SELECT vec_id AS pid, label AS pl, embedding AS pv
  FROM embeddings WHERE vec_id % 5 = 0
),
pairs AS (
  SELECT pr.pid, pr.pl, e.label AS cl,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(generate_series(1, 64), i ->
             (CAST(pr.pv[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))
             * (CAST(pr.pv[i] AS DOUBLE)
                - CAST(e.embedding[i] AS DOUBLE)))),
           (a, x) -> a + x)) AS d
  FROM pr JOIN embeddings e ON e.vec_id <> pr.pid
),
per AS (SELECT pid, pl, cl, avg(d) AS md FROM pairs GROUP BY 1, 2, 3),
a AS (SELECT pid, pl, md AS a FROM per WHERE cl = pl),
b AS (SELECT pid, min(md) AS b FROM per WHERE cl <> pl GROUP BY pid),
s AS (
  SELECT a.pl, (b.b - a.a) / greatest(a.a, b.b) AS s
  FROM a JOIN b ON b.pid = a.pid
)
SELECT pl AS label, CAST(count(*) AS BIGINT) AS n_probes,
       round(avg(s), 6) AS mean_silhouette
FROM s GROUP BY pl ORDER BY label
"""


@register("silhouette_sampled", _BE01_ORACLE)
def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.clustering import silhouette_sampled

    embs = _read(spark, sf_dir, "embeddings")
    return (silhouette_sampled(embs, F.col("vec_id") % 5 == 0)
            .orderBy("label"))


# ---------------------------------------------------------------------------
# be02 — ARI between the reference labels and the vec_id % 10 hash
# partition (chance-level agreement by construction: ARI near 0).
# ---------------------------------------------------------------------------

_BE02_ORACLE = """
WITH ct AS (
  SELECT label AS a, vec_id % 10 AS b, CAST(count(*) AS DOUBLE) AS n
  FROM embeddings GROUP BY 1, 2
),
idx AS (SELECT sum(n * (n - 1) / 2) AS idx, sum(n) AS t,
               CAST(count(*) AS BIGINT) AS cells FROM ct),
ra AS (SELECT sum(m * (m - 1) / 2) AS ra
       FROM (SELECT sum(n) AS m FROM ct GROUP BY a)),
rb AS (SELECT sum(m * (m - 1) / 2) AS rb
       FROM (SELECT sum(n) AS m FROM ct GROUP BY b))
SELECT CAST(idx.t AS BIGINT) AS n, idx.cells AS n_cells,
       round(CASE WHEN (ra.ra + rb.rb) / 2
                       <> ra.ra * rb.rb / (idx.t * (idx.t - 1) / 2)
                  THEN (idx.idx
                        - ra.ra * rb.rb / (idx.t * (idx.t - 1) / 2))
                       / ((ra.ra + rb.rb) / 2
                          - ra.ra * rb.rb / (idx.t * (idx.t - 1) / 2))
             END, 6) AS ari
FROM idx CROSS JOIN ra CROSS JOIN rb
"""


@register("adjusted_rand_index", _BE02_ORACLE)
def q_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.clustering import adjusted_rand_index

    embs = _read(spark, sf_dir, "embeddings").select(
        F.col("label").alias("a"),
        (F.col("vec_id") % 10).alias("b"))
    return adjusted_rand_index(embs)
