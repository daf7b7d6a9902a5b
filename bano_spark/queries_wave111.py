"""Wave-111 driver queries: bipartite butterfly counting
(operators/butterfly.py) over the customer-part purchase graph
(distinct (o_custkey, l_partkey) edges from orders x lineitem).

  * global motif census — edges / wedges / butterflies / caterpillars
    + bipartite clustering coefficient (exact integers, one division),
  * per-customer butterfly participation (sum over partners of
    C(shared, 2), exact),
  * pivot-side cost advisor — wedge volume through each side, the
    statistic that decides which side a 100-TB run pivots on.

Oracle: the same closed-form counting in independent SQL (self-join
wedges + HAVING pairs; degree-product caterpillars).

Ref parity: generalizes the reference's shared-key rapprochement
joins (bano/core.py:281-323 two-source name matching) to second-order
co-occurrence structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.butterfly import (butterflies_per_pair,
                                            global_motifs, side_costs)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


# Sparse deterministic edge subset: keep ~1/7 of line items so degrees
# stay moderate at sf0.1 (wedge volume is quadratic in part degree).
_EDGES_SQL = """
edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_orderkey % 7 = 0)
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .filter(F.expr("l_orderkey % 7 = 0"))
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (li.join(od, li.l_orderkey == od.o_orderkey)
            .select(F.col("o_custkey").alias("c"),
                    F.col("l_partkey").alias("p"))
            .distinct())


_BF01_ORACLE = f"""
WITH {_EDGES_SQL},
dl AS (SELECT c, count(*) AS du FROM edges GROUP BY c),
dr AS (SELECT p, count(*) AS dv FROM edges GROUP BY p),
cat AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges,
         CAST(sum((du - 1) * (dv - 1)) AS BIGINT) AS caterpillars
  FROM edges e JOIN dl ON dl.c = e.c JOIN dr ON dr.p = e.p),
pairs AS (
  SELECT a.c AS u1, b.c AS u2, CAST(count(*) AS BIGINT) AS w
  FROM edges a JOIN edges b ON a.p = b.p AND a.c < b.c
  GROUP BY a.c, b.c),
bf AS (
  SELECT CAST(coalesce(sum(w), 0) AS BIGINT) AS wedges,
         CAST(coalesce(sum(w * (w - 1) // 2), 0) AS BIGINT)
           AS butterflies
  FROM pairs)
SELECT c.n_edges, b.wedges, b.butterflies, c.caterpillars,
       4 * CAST(b.butterflies AS DOUBLE) / CAST(c.caterpillars AS DOUBLE)
         AS clustering
FROM cat c, bf b
"""


@register("butterfly_global_census", _BF01_ORACLE)
def butterfly_global_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row bipartite motif census of the purchase graph."""
    return global_motifs(_edges(spark, sf_dir), "c", "p") \
        .select("n_edges", "wedges", "butterflies", "caterpillars",
                "clustering")


_BF02_ORACLE = f"""
WITH {_EDGES_SQL},
pairs AS (
  SELECT a.c AS u1, b.c AS u2, count(*) AS w
  FROM edges a JOIN edges b ON a.p = b.p AND a.c < b.c
  GROUP BY a.c, b.c
  HAVING count(*) >= 2),
contrib AS (
  SELECT u1 AS c, w * (w - 1) // 2 AS bf, 1 AS np FROM pairs
  UNION ALL
  SELECT u2 AS c, w * (w - 1) // 2 AS bf, 1 AS np FROM pairs)
SELECT c, CAST(sum(bf) AS BIGINT) AS butterflies,
       CAST(sum(np) AS BIGINT) AS n_partners
FROM contrib
GROUP BY c
ORDER BY c
"""


@register("butterfly_per_customer", _BF02_ORACLE)
def butterfly_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per customer: butterflies it participates in and how many
    >=2-shared-part partners it has (its dense-co-purchase degree)."""
    pairs = (butterflies_per_pair(_edges(spark, sf_dir), "c", "p")
             .filter(F.col("w") >= 2))
    contrib = (pairs.select(F.col("u1").alias("c"), "bf")
               .unionByName(pairs.select(F.col("u2").alias("c"), "bf")))
    return (contrib.groupBy("c")
            .agg(F.sum("bf").cast("bigint").alias("butterflies"),
                 F.count(F.lit(1)).cast("bigint").alias("n_partners"))
            .orderBy("c"))


_BF03_ORACLE = f"""
WITH {_EDGES_SQL},
r AS (SELECT p AS k FROM edges),
l AS (SELECT c AS k FROM edges),
vr AS (
  SELECT 'right' AS pivot_side, CAST(count(*) AS BIGINT) AS n_vertices,
         CAST(max(d) AS BIGINT) AS max_degree,
         CAST(sum(d * (d - 1) // 2) AS BIGINT) AS wedges
  FROM (SELECT k, count(*) AS d FROM r GROUP BY k)),
vl AS (
  SELECT 'left' AS pivot_side, CAST(count(*) AS BIGINT) AS n_vertices,
         CAST(max(d) AS BIGINT) AS max_degree,
         CAST(sum(d * (d - 1) // 2) AS BIGINT) AS wedges
  FROM (SELECT k, count(*) AS d FROM l GROUP BY k))
SELECT * FROM vr UNION ALL SELECT * FROM vl
ORDER BY pivot_side
"""


@register("butterfly_side_costs", _BF03_ORACLE)
def butterfly_side_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wedge volume through each pivot side — the cost advisor that
    decides the join side (butterfly totals are side-symmetric; the
    work is not)."""
    return side_costs(_edges(spark, sf_dir), "c", "p") \
        .orderBy("pivot_side")
