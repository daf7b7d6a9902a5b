"""Wave-107 driver queries: truncated Katz centrality
(operators/katz.py) over a 50-node hash-derived web graph — exact
dyadic scores, the per-length path-count profile, and a seeded
(personalized) variant.

Fixture: edges = distinct (event_id % 50 -> (event_id * 7 + 3) % 50)
excluding self-loops; K = 4, beta = 1/4.  katz_num is an exact
BIGINT; katz_score = katz_num / 256 is one division by a power of
two (bit-identical across engines).

Oracle: K unrolled MATERIALIZED propagation rounds (join + group-sum)
— path counts are integers, never float attenuation mid-stream.

Ref parity: the reference's street-importance signal counts one-hop
references (bano/sql/importance.sql); Katz attenuates the same
signal over k hops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.katz import katz_truncated, path_counts
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()

K = 4


def _graph(spark: SparkSession, sf_dir: str):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    edges = (ev.select((F.col("event_id") % 50).alias("src"),
                       ((F.col("event_id") * 7 + 3) % 50).alias("dst"))
             .filter(F.col("src") != F.col("dst")).distinct())
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct())
    return edges, nodes


def _fix_cte(seeded: bool) -> str:
    init = ("CASE WHEN node % 7 = 0 THEN 1 ELSE 0 END"
            if seeded else "1")
    return f"""
edges AS MATERIALIZED (
  SELECT DISTINCT event_id % 50 AS src, (event_id * 7 + 3) % 50 AS dst
  FROM events WHERE event_id % 50 <> (event_id * 7 + 3) % 50),
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
p0 AS (SELECT node, CAST({init} AS BIGINT) AS paths FROM nodes)
"""


def _rounds() -> str:
    parts = []
    for j in range(1, K + 1):
        parts.append(f"""
p{j} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(sum(p.paths) AS BIGINT) AS paths
  FROM edges e JOIN p{j - 1} p ON p.node = e.src
  GROUP BY e.dst)""")
    return ",".join(parts)


def _katz_select() -> str:
    unions = " UNION ALL ".join(
        f"SELECT node, paths * {4 ** (K - j)} AS w FROM p{j}"
        for j in range(1, K + 1))
    return f"""
agg AS (
  SELECT node, CAST(sum(w) AS BIGINT) AS katz_num
  FROM ({unions}) GROUP BY node)
SELECT n.node,
       CAST(coalesce(a.katz_num, 0) AS BIGINT) AS katz_num,
       CAST(coalesce(a.katz_num, 0) AS DOUBLE) / {4 ** K}
         AS katz_score
FROM nodes n LEFT JOIN agg a ON a.node = n.node
"""


_KZ01_ORACLE = f"WITH {_fix_cte(False)}, {_rounds()}, {_katz_select()}"


@register("katz_centrality_truncated", _KZ01_ORACLE)
def katz_centrality_truncated(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    edges, nodes = _graph(spark, sf_dir)
    return katz_truncated(edges, nodes, k=K)


_KZ02_ORACLE = f"""
WITH {_fix_cte(False)}, {_rounds()},
lay AS ({" UNION ALL ".join(
    f"SELECT {j} AS j, node, paths FROM p{j}" for j in range(1, K + 1))})
SELECT CAST(j AS BIGINT) AS j,
       CAST(sum(paths) AS BIGINT) AS total_paths,
       CAST(max(paths) AS BIGINT) AS max_node_paths,
       CAST(count(*) AS BIGINT) AS n_reached
FROM lay GROUP BY j
"""


@register("path_count_profile_by_length", _KZ02_ORACLE)
def path_count_profile_by_length(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    edges, nodes = _graph(spark, sf_dir)
    pc = path_counts(edges, nodes, k=K)
    return pc.groupBy("j").agg(
        F.sum("paths").cast("bigint").alias("total_paths"),
        F.max("paths").cast("bigint").alias("max_node_paths"),
        F.count(F.lit(1)).cast("bigint").alias("n_reached"))


_KZ03_ORACLE = f"WITH {_fix_cte(True)}, {_rounds()}, {_katz_select()}"


@register("katz_from_seeds", _KZ03_ORACLE)
def katz_from_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized Katz: initial mass only on seed nodes
    (node % 7 == 0) — the 'influence of this cohort' variant."""
    edges, nodes = _graph(spark, sf_dir)
    init = nodes.select(
        "node",
        F.when(F.col("node") % 7 == 0, 1).otherwise(0)
        .cast("bigint").alias("paths"))
    return katz_truncated(edges, nodes, k=K, init=init)
