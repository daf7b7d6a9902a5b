"""Wave-102 driver queries: MMR result diversification
(operators/diversify.py) — greedy maximal-marginal-relevance top-4
per query, the candidate pairwise-overlap similarity table, and a
redundancy audit of MMR vs plain relevance ranking.

Fixture: docs with doc_id % 16 < 8 form 8 disjoint candidate pools
(query q = doc_id % 16, ~31 candidates each); relevance is the
high-bits hash rel = ((doc_id * 2654435761 + q * 97) // 1024) % 40
(integer 0..39, so w_rel=2 scores 0..78 compete with overlap
penalties 1..30 and diversification genuinely changes picks);
similarity = shared-distinct-term counts between candidate docs.

The oracle unrolls the k=4 greedy rounds as MATERIALIZED CTEs (one
staged argmax per round — the wave-57 lesson: MATERIALIZED or the
base scan re-evaluates 3^rounds times).

Ref parity: the reference's per-commune export dedups near-identical
candidate matches with a batch window (bano/sql/export_csv_dept.sql);
MMR generalizes that to ranked redundancy-aware selection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bano_spark.operators.diversify import mmr_select, pairwise_overlap
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()

K = 4
W_REL = 2


def _cand(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rel = F.expr("((doc_id * 2654435761 + (doc_id % 16) * 97) div 1024)"
                 " % 40")
    return (docs.filter(F.col("doc_id") % 16 < 8)
            .select((F.col("doc_id") % 16).cast("bigint").alias("q"),
                    "doc_id", rel.cast("bigint").alias("rel")))


def _sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dtok = (docs.filter(F.col("doc_id") % 16 < 8)
            .select("doc_id",
                    F.explode(F.split(F.col("text"), r"\s+"))
                    .alias("term"))
            .filter(F.col("term") != "").distinct())
    return pairwise_overlap(dtok)


_BASE_CTE = r"""
cand AS MATERIALIZED (
  SELECT CAST(doc_id % 16 AS BIGINT) AS q, doc_id,
         CAST(((doc_id * 2654435761 + (doc_id % 16) * 97) // 1024) % 40
              AS BIGINT) AS rel
  FROM documents WHERE doc_id % 16 < 8),
dtok AS (
  SELECT DISTINCT doc_id, term
  FROM (SELECT doc_id,
               unnest(string_split_regex(text, '\s+')) AS term
        FROM documents WHERE doc_id % 16 < 8)
  WHERE term <> ''),
sim AS MATERIALIZED (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         CAST(count(*) AS BIGINT) AS sim
  FROM dtok a JOIN dtok b ON a.term = b.term AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
"""


def _mmr_rounds_sql() -> str:
    """Staged greedy rounds as MATERIALIZED CTEs (linear text)."""
    parts = [f"""
sel1 AS MATERIALIZED (
  SELECT q, doc_id, rel, CAST({W_REL} * rel AS BIGINT) AS mmr_score,
         CAST(1 AS BIGINT) AS rank
  FROM (SELECT q, doc_id, rel,
               row_number() OVER (PARTITION BY q
                                  ORDER BY {W_REL} * rel DESC,
                                           doc_id ASC) AS rk
        FROM cand)
  WHERE rk = 1),
all1 AS (SELECT * FROM sel1)"""]
    for r in range(2, K + 1):
        parts.append(f"""
score{r} AS MATERIALIZED (
  SELECT c.q, c.doc_id, c.rel,
         CAST({W_REL} * c.rel - max(coalesce(s.sim, 0)) AS BIGINT)
           AS mmr_score
  FROM cand c
  JOIN all{r - 1} p ON p.q = c.q
  LEFT JOIN sim s ON s.d1 = c.doc_id AND s.d2 = p.doc_id
  WHERE c.doc_id NOT IN (SELECT doc_id FROM all{r - 1})
  GROUP BY c.q, c.doc_id, c.rel),
sel{r} AS MATERIALIZED (
  SELECT q, doc_id, rel, mmr_score, CAST({r} AS BIGINT) AS rank
  FROM (SELECT q, doc_id, rel, mmr_score,
               row_number() OVER (PARTITION BY q
                                  ORDER BY mmr_score DESC,
                                           doc_id ASC) AS rk
        FROM score{r})
  WHERE rk = 1),
all{r} AS (SELECT * FROM all{r - 1} UNION ALL SELECT * FROM sel{r})""")
    return ",".join(parts)


_MM01_ORACLE = f"""
WITH {_BASE_CTE}, {_mmr_rounds_sql()}
SELECT q, rank, doc_id, mmr_score FROM all{K}
"""


@register("mmr_diversified_topk", _MM01_ORACLE)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mmr_select(_cand(spark, sf_dir), _sim(spark, sf_dir),
                      k=K, w_rel=W_REL)


_MM02_ORACLE = f"""
WITH {_BASE_CTE}
SELECT d1, d2, sim FROM sim
"""


@register("mmr_candidate_overlap", _MM02_ORACLE)
def mmr_candidate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sim(spark, sf_dir)


_MM03_ORACLE = f"""
WITH {_BASE_CTE}, {_mmr_rounds_sql()},
toprel AS (
  SELECT q, doc_id, rel
  FROM (SELECT q, doc_id, rel,
               row_number() OVER (PARTITION BY q
                                  ORDER BY rel DESC, doc_id ASC) AS rk
        FROM cand)
  WHERE rk <= {K}),
mmr_pairs AS (
  SELECT a.q, coalesce(s.sim, 0) AS ps
  FROM all{K} a JOIN all{K} b ON a.q = b.q AND a.doc_id < b.doc_id
  LEFT JOIN sim s ON s.d1 = a.doc_id AND s.d2 = b.doc_id),
rel_pairs AS (
  SELECT a.q, coalesce(s.sim, 0) AS ps
  FROM toprel a JOIN toprel b ON a.q = b.q AND a.doc_id < b.doc_id
  LEFT JOIN sim s ON s.d1 = a.doc_id AND s.d2 = b.doc_id),
m AS (SELECT q, CAST(sum(ps) AS BIGINT) AS mmr_pair_sim
      FROM mmr_pairs GROUP BY q),
t AS (SELECT q, CAST(sum(ps) AS BIGINT) AS rel_pair_sim
      FROM rel_pairs GROUP BY q),
mr AS (SELECT q, CAST(sum(rel) AS BIGINT) AS mmr_rel_total
       FROM all{K} GROUP BY q),
tr AS (SELECT q, CAST(sum(rel) AS BIGINT) AS top_rel_total
       FROM toprel GROUP BY q)
SELECT m.q, m.mmr_pair_sim, t.rel_pair_sim, mr.mmr_rel_total,
       tr.top_rel_total
FROM m JOIN t ON t.q = m.q JOIN mr ON mr.q = m.q JOIN tr ON tr.q = m.q
"""


@register("mmr_vs_relevance_redundancy", _MM03_ORACLE)
def mmr_vs_relevance_redundancy(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Redundancy audit: total pairwise similarity inside the MMR
    selection vs inside the plain relevance top-k (MMR should spend a
    bounded amount of relevance to buy a lower pair-sim total)."""
    cand = _cand(spark, sf_dir)
    sim = _sim(spark, sf_dir)
    from bano_spark.cache import keep
    sim = keep(sim)
    sel = mmr_select(cand, sim, k=K, w_rel=W_REL)
    sel = sel.join(cand.select("q", "doc_id", "rel"), ["q", "doc_id"])
    w = Window.partitionBy("q").orderBy(F.col("rel").desc(),
                                        F.col("doc_id").asc())
    toprel = (cand.withColumn("rk", F.row_number().over(w))
              .filter(F.col("rk") <= K).select("q", "doc_id", "rel"))

    def pair_sum(sdf, out):
        a = sdf.select("q", F.col("doc_id").alias("d1"))
        b = sdf.select("q", F.col("doc_id").alias("d2"))
        pairs = (a.join(b, "q").filter(F.col("d1") < F.col("d2"))
                 .join(sim, ["d1", "d2"], "left"))
        return pairs.groupBy("q").agg(
            F.sum(F.coalesce(F.col("sim"), F.lit(0))).cast("bigint")
            .alias(out))

    m = pair_sum(sel, "mmr_pair_sim")
    t = pair_sum(toprel, "rel_pair_sim")
    mr = sel.groupBy("q").agg(F.sum("rel").cast("bigint")
                              .alias("mmr_rel_total"))
    tr = toprel.groupBy("q").agg(F.sum("rel").cast("bigint")
                                 .alias("top_rel_total"))
    return (m.join(t, "q").join(mr, "q").join(tr, "q")
            .select("q", "mmr_pair_sim", "rel_pair_sim",
                    "mmr_rel_total", "top_rel_total"))
