"""Wave-103 driver queries: IPv4/CIDR enrichment
(operators/ipnet.py) — longest-prefix match as bounded per-length
equi-joins, /16 subnet rollups, and a route-table nesting audit.

Fixture: distinct IPs are high-bits hashes of event ids
(ip = ((event_id * 2654435761 + 12345) // 1024) % 2^32); the route
table is sampled FROM that population (so matches exist at every
level): events with id % 13 == 0 contribute a /8 block, % 31 a /16,
% 97 a /24, each with route_id = event_id * 100 + prefix_len.
Duplicate blocks (two sampled events in the same /8) canonicalize to
the smallest route id — part of the operator contract under test.

Pure integer bit arithmetic in both engines (>> / shiftright).

Ref parity: the reference assigns each address point to its most
specific enclosing admin polygon (bano/sql/point_par_rue.sql);
longest-prefix match is the same most-specific-container-wins
semantics on the IPv4 trie.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.ipnet import (
    dedupe_blocks, lpm_join, subnet_rollup)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_IP_EXPR = "((event_id * 2654435761 + 12345) div 1024) % 4294967296"
_IP_SQL = "((event_id * 2654435761 + 12345) // 1024) % 4294967296"


def _ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(F.expr(_IP_EXPR).cast("bigint").alias("ip")).distinct()


def _blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    parts = []
    for mod, plen in [(13, 8), (31, 16), (97, 24)]:
        parts.append(
            ev.filter(F.col("event_id") % mod == 0).select(
                (F.col("event_id") * 100 + plen).cast("bigint")
                .alias("route_id"),
                F.expr(_IP_EXPR).cast("bigint").alias("network"),
                F.lit(plen).cast("int").alias("prefix_len")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_BASE_CTE = f"""
ips AS (SELECT DISTINCT CAST({_IP_SQL} AS BIGINT) AS ip FROM events),
raw_blocks AS (
  SELECT CAST(event_id * 100 + 8 AS BIGINT) AS route_id,
         CAST({_IP_SQL} AS BIGINT) AS network, 8 AS prefix_len
  FROM events WHERE event_id % 13 = 0
  UNION ALL
  SELECT CAST(event_id * 100 + 16 AS BIGINT),
         CAST({_IP_SQL} AS BIGINT), 16
  FROM events WHERE event_id % 31 = 0
  UNION ALL
  SELECT CAST(event_id * 100 + 24 AS BIGINT),
         CAST({_IP_SQL} AS BIGINT), 24
  FROM events WHERE event_id % 97 = 0),
dim AS (
  SELECT prefix_len AS plen,
         CAST(network >> (32 - prefix_len) AS BIGINT) AS net_key,
         CAST(min(route_id) AS BIGINT) AS route_id
  FROM raw_blocks GROUP BY 1, 2)
"""


_IP01_ORACLE = f"""
WITH {_BASE_CTE},
fan AS (
  SELECT i.ip, l.plen, i.ip >> (32 - l.plen) AS net_key
  FROM ips i CROSS JOIN (SELECT DISTINCT plen FROM dim) l),
hit AS (
  SELECT f.ip, d.route_id, d.plen,
         row_number() OVER (PARTITION BY f.ip
                            ORDER BY d.plen DESC, d.route_id ASC) AS rk
  FROM fan f JOIN dim d ON d.plen = f.plen AND d.net_key = f.net_key)
SELECT i.ip, h.route_id,
       CAST(h.plen AS BIGINT) AS matched_len
FROM ips i LEFT JOIN (SELECT * FROM hit WHERE rk = 1) h ON h.ip = i.ip
"""


@register("cidr_longest_prefix_match", _IP01_ORACLE)
def cidr_longest_prefix_match(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    return lpm_join(_ips(spark, sf_dir), _blocks(spark, sf_dir))


_IP02_ORACLE = f"""
WITH ips AS (SELECT DISTINCT CAST({_IP_SQL} AS BIGINT) AS ip FROM events)
SELECT CAST(ip >> 16 AS BIGINT) AS net16,
       CAST(count(*) AS BIGINT) AS n_ips,
       CAST(count(DISTINCT ip >> 8) AS BIGINT) AS n_slash24
FROM ips GROUP BY 1
"""


@register("ip_subnet_rollup", _IP02_ORACLE)
def ip_subnet_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return subnet_rollup(_ips(spark, sf_dir))


_IP03_ORACLE = f"""
WITH {_BASE_CTE},
childfan AS (
  SELECT c.plen AS clen, c.net_key AS ckey, l.plen AS plen_p,
         c.net_key >> (c.plen - l.plen) AS pkey
  FROM dim c JOIN (SELECT DISTINCT plen FROM dim) l
    ON l.plen < c.plen),
nested AS (
  SELECT p.route_id AS parent_route, CAST(count(*) AS BIGINT) AS n
  FROM childfan f
  JOIN dim p ON p.plen = f.plen_p AND p.net_key = f.pkey
  GROUP BY 1)
SELECT d.route_id AS parent_route,
       CAST(d.plen AS BIGINT) AS prefix_len,
       CAST(coalesce(n.n, 0) AS BIGINT) AS n_children
FROM dim d LEFT JOIN nested n ON n.parent_route = d.route_id
"""


@register("cidr_route_table_audit", _IP03_ORACLE)
def cidr_route_table_audit(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Nesting audit: for every canonical block, how many more
    specific blocks it encloses (child net_key right-shifted by the
    length difference equals the parent key — same per-length
    equi-join shape as the LPM itself)."""
    dim = dedupe_blocks(_blocks(spark, sf_dir))
    lens = sorted(r["plen"] for r in
                  dim.select("plen").distinct().collect())
    child = dim.select(F.col("plen").alias("clen"),
                       F.col("net_key").alias("ckey"))
    fan = (child.withColumn(
        "plen_p", F.explode(F.array(*[F.lit(v) for v in lens])))
        .filter(F.col("plen_p") < F.col("clen"))
        .withColumn("pkey",
                    F.expr("ckey >> (clen - plen_p)").cast("bigint")))
    parents = dim.select(F.col("plen").alias("plen_p"),
                         F.col("net_key").alias("pkey"),
                         F.col("route_id").alias("parent_route"))
    nested = (fan.join(F.broadcast(parents), ["plen_p", "pkey"])
              .groupBy("parent_route")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    return (dim.select(F.col("route_id").alias("parent_route"),
                       F.col("plen").cast("bigint").alias("prefix_len"))
            .join(nested, "parent_route", "left")
            .withColumn("n_children",
                        F.coalesce(F.col("n"), F.lit(0)).cast("bigint"))
            .drop("n"))
