"""Wave-120 driver queries: Merkle range-tree snapshot digests and
O(diff) change localization (operators/merkle.py).

Fixture: snapshot A is a keyed integer view of events; snapshot B
applies a LOCALIZED deterministic mutation — updates and deletes
confined to leaves {3, 17, 42} of the 64-leaf keyspace plus inserts
at keys k+10^7 (which land back in leaf 42 since 10^7 is a multiple
of 64) — so the dirty set is 3 of 64 leaves and the per-level diff
walk shows the O(diff) localization property, not a fully-dirty tree.

Exactness: every digest is integer arithmetic mod 2^31 with all
intermediate products < 2^52 — bit-identical BIGINTs on both engines;
DuckDB's HUGEINT SUM is cast back to BIGINT before the mod.

Ref parity: the dirty-commune localization role of bano's OSM diff
ingest (import_diff_osm.sh) — identify the changed subset of the
keyspace from digests without re-reading either snapshot row-by-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.merkle import (COMBINE, M, ROW_A, ROW_B, ROW_C,
                                         merkle_diff, merkle_leaves,
                                         merkle_tree)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


# Snapshot fixtures — identical SQL text in both dialects.
_SNAP_A = """
SELECT event_id AS k, user_id * 7 + length(event_type) AS v
FROM events"""

_SNAP_B = f"""
WITH sa AS (
  SELECT event_id AS k, user_id * 7 + length(event_type) AS v,
         (event_id * 2654435761 + 99) % 2147483648 AS h
  FROM events),
su AS (
  SELECT k,
         CASE WHEN k % 64 IN (3, 17, 42) AND h % 7 < 3
              THEN v + 1 ELSE v END AS v, h
  FROM sa),
sd AS (SELECT k, v FROM su WHERE NOT (k % 64 = 17 AND h % 11 = 0)),
si AS (SELECT k + 10000000 AS k, v + 5 AS v
       FROM sa WHERE k % 64 = 42 AND h % 13 = 0)
SELECT k, v FROM sd UNION ALL SELECT k, v FROM si"""


def _oracle_leaves(snap: str, tag: str) -> str:
    """DuckDB CTEs computing the complete 64-leaf digest level for a
    snapshot CTE named `snap`, as t{tag} (node, digest, nrows)."""
    return f"""
l{tag} AS (
  SELECT k % 64 AS node,
         CAST(CAST(SUM((k * {ROW_A} + v * {ROW_B} + {ROW_C}) % {M})
              AS BIGINT) % {M} AS BIGINT) AS digest,
         CAST(count(*) AS BIGINT) AS nrows
  FROM {snap} GROUP BY 1),
c{tag} AS (SELECT CAST(range AS BIGINT) AS node FROM range(0, 64)),
t{tag} AS (
  SELECT c{tag}.node, COALESCE(l{tag}.digest, 0) AS digest,
         COALESCE(l{tag}.nrows, 0) AS nrows
  FROM c{tag} LEFT JOIN l{tag} ON l{tag}.node = c{tag}.node)"""


def _oracle_tree(tag: str) -> str:
    """Unrolled levels 5..0 above t{tag}, plus tree{tag} as the union
    (level, node, digest) including leaf level 6."""
    parts = []
    prev = f"t{tag}"
    for lvl in range(5, -1, -1):
        parts.append(f"""
u{tag}{lvl} AS (
  SELECT CAST(node // 2 AS BIGINT) AS node,
         CAST((CAST(SUM(CASE WHEN node % 2 = 0 THEN digest ELSE 0 END)
               AS BIGINT) * {COMBINE}
               + CAST(SUM(CASE WHEN node % 2 = 1 THEN digest ELSE 0 END)
                 AS BIGINT)) % {M} AS BIGINT) AS digest
  FROM {prev} GROUP BY 1)""")
        prev = f"u{tag}{lvl}"
    union = "\nUNION ALL ".join(
        [f"SELECT CAST(6 AS BIGINT) AS level, node, digest FROM t{tag}"]
        + [f"SELECT CAST({lvl} AS BIGINT), node, digest FROM u{tag}{lvl}"
           for lvl in range(5, -1, -1)])
    parts.append(f"""
tree{tag} AS ({union})""")
    return ",".join(parts)


_Q1_ORACLE = f"""
WITH snap_a AS ({_SNAP_A}),
{_oracle_leaves('snap_a', 'a')},
{_oracle_tree('a')}
SELECT level, node, digest FROM treea ORDER BY level, node
"""


@register("merkle_tree_digests", _Q1_ORACLE)
def merkle_tree_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete 7-level Merkle tree (127 nodes) of snapshot A."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    snap = spark.sql(_SNAP_A)
    return (merkle_tree(spark, snap, "k", "v", leaves=64)
            .orderBy("level", "node"))


_Q2_ORACLE = f"""
WITH snap_a AS ({_SNAP_A}),
snap_b AS ({_SNAP_B}),
{_oracle_leaves('snap_a', 'a')},
{_oracle_leaves('snap_b', 'b')}
SELECT ta.node, ta.digest AS digest_a, tb.digest AS digest_b,
       ta.nrows AS rows_a, tb.nrows AS rows_b
FROM ta JOIN tb ON ta.node = tb.node
WHERE ta.digest <> tb.digest
ORDER BY ta.node
"""


@register("merkle_diff_leaves", _Q2_ORACLE)
def merkle_diff_leaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty leaves between snapshots A and B — expected to be exactly
    the planted leaves {3, 17, 42} with their row-count deltas."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    from bano_spark.operators.merkle import _complete
    la = merkle_leaves(spark.sql(_SNAP_A), "k", "v", 64)
    lb = merkle_leaves(spark.sql(_SNAP_B), "k", "v", 64)
    ca = _complete(spark, la, 64).join(
        la.select("node", "nrows"), "node", "left")
    cb = _complete(spark, lb, 64).join(
        lb.select("node", "nrows"), "node", "left")
    return (ca.select("node", F.col("digest").alias("digest_a"),
                      F.coalesce("nrows", F.lit(0)).cast("bigint")
                      .alias("rows_a"))
            .join(cb.select("node", F.col("digest").alias("digest_b"),
                            F.coalesce("nrows", F.lit(0)).cast("bigint")
                            .alias("rows_b")), "node")
            .filter(F.col("digest_a") != F.col("digest_b"))
            .select("node", "digest_a", "digest_b", "rows_a", "rows_b")
            .orderBy("node"))


_Q3_ORACLE = f"""
WITH snap_a AS ({_SNAP_A}),
snap_b AS ({_SNAP_B}),
{_oracle_leaves('snap_a', 'a')},
{_oracle_tree('a')},
{_oracle_leaves('snap_b', 'b')},
{_oracle_tree('b')}
SELECT ta.level, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(SUM(CASE WHEN ta.digest <> tb.digest THEN 1 ELSE 0 END)
            AS BIGINT) AS n_diff,
       CAST(SUM(CASE WHEN ta.digest <> tb.digest THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dirty_frac
FROM treea ta JOIN treeb tb ON ta.level = tb.level AND ta.node = tb.node
GROUP BY ta.level
ORDER BY ta.level
"""


@register("merkle_diff_traversal", _Q3_ORACLE)
def merkle_diff_traversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-level dirty-node counts of the A-vs-B digest walk: the
    O(diff) localization evidence — <= 3 dirty nodes per level against
    64 leaves, root always dirty."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    ta = merkle_tree(spark, spark.sql(_SNAP_A), "k", "v", 64)
    tb = merkle_tree(spark, spark.sql(_SNAP_B), "k", "v", 64)
    return (merkle_diff(ta, tb)
            .groupBy("level")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
                 F.sum(F.when(F.col("differs"), 1).otherwise(0))
                 .cast("bigint").alias("n_diff"),
                 (F.sum(F.when(F.col("differs"), 1).otherwise(0))
                  .cast("double")
                  / F.count(F.lit(1)).cast("double")).alias("dirty_frac"))
            .orderBy("level"))
