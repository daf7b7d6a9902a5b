"""Wave-9 driver queries: link-graph analytics over the crawl
fixtures (host PageRank with dangling-mass redistribution, anchor-text
profiles, reciprocity), fair crawl-budget water-filling, crawl-trap
depth features, robots allowance rates, the Hilbert curve index, and
per-source KL drift — each with a DuckDB oracle over the shared synth
fixtures.

Reference anchors: the link-graph family plays the role of the
reference's importance heuristics (bano/sql/03_*: M1-M3) on the web
graph the crawl fixtures model; the Hilbert index is the
locality-preserving generalization of the tile keys in
bano/models.py's expire-tiles machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.geo.hilbert import hilbert_cte_sql
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


def _links_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.crawl import extract_links

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return extract_links(spark.sql(synth.link_html_select_sql("spark")))


# the x04 extraction as a DuckDB CTE body (shared by the link queries)
_LINKS_CTE = f"""
lraw AS ({synth.link_html_select_sql('duckdb')}),
links AS (
  SELECT doc_id, src_host,
         unnest(regexp_extract_all(html,
             '<a href="([^"]+)">([^<]*)</a>', 1)) AS href,
         unnest(regexp_extract_all(html,
             '<a href="([^"]+)">([^<]*)</a>', 2)) AS anchor
  FROM lraw
),
edges0 AS (
  SELECT doc_id, src_host, href, anchor,
         CASE WHEN href LIKE 'https://%'
              THEN regexp_extract(href, 'https://([^/]+)', 1)
              ELSE src_host END AS dst_host
  FROM links
)"""

_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"


# ---------------------------------------------------------------------------
# y01 — host-graph PageRank over the REAL extracted link edges
# (weight = link multiplicity), 5 iterations, damping 0.85, WITH
# dangling-mass redistribution (hosts that are only ever link targets
# hold rank that re-teleports uniformly — absent from the w80 integer
# fixture, exercised here). Oracle: the same power iteration unrolled
# as chained CTEs, dangling mass as a per-iteration scalar subquery.
# ---------------------------------------------------------------------------

def _y01_oracle(iters: int = 5) -> str:
    parts = [f"""
WITH {_LINKS_CTE},
edges AS (
  SELECT src_host AS src, dst_host AS dst, CAST(count(*) AS DOUBLE) AS w
  FROM edges0 GROUP BY 1, 2
),
outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
norm AS (SELECT e.src, e.dst, e.w / o.ow AS p
         FROM edges e JOIN outw o ON o.src = e.src),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
dang AS (SELECT node FROM nodes
         WHERE NOT EXISTS (SELECT 1 FROM outw o WHERE o.src = node)),
r0 AS (SELECT node, round(1.0 / nn.n, 12) AS rank
       FROM nodes CROSS JOIN nn)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
dm{k} AS (SELECT coalesce(sum(r.rank), 0.0) AS m
          FROM r{k - 1} r JOIN dang d ON d.node = r.node),
r{k} AS (
  SELECT nodes.node,
         round((1.0 - 0.85) * (1.0 / nn.n)
               + 0.85 * (coalesce(c.s, 0.0) + dm{k}.m * (1.0 / nn.n)),
               12) AS rank
  FROM nodes
  LEFT JOIN (SELECT m.dst AS node, sum(r.rank * m.p) AS s
             FROM r{k - 1} r JOIN norm m ON m.src = r.node
             GROUP BY m.dst) c ON c.node = nodes.node
  CROSS JOIN nn CROSS JOIN dm{k})""")
    parts.append(f"""
SELECT node AS host, round(rank, 6) AS rank
FROM r{iters} ORDER BY host""")
    return "".join(parts)


@register("host_graph_pagerank", _y01_oracle())
def y_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import pagerank

    edges = (_links_df(spark, sf_dir)
             .groupBy(F.col("src_host").alias("src"),
                      F.col("dst_host").alias("dst"))
             .agg(F.count(F.lit(1)).cast("double").alias("w")))
    ranks = pagerank(edges, weight="w", iters=5, damping=0.85)
    return (ranks.select(F.col("node").alias("host"),
                         F.round("rank", 6).alias("rank"))
            .orderBy("host"))


# ---------------------------------------------------------------------------
# y02 — anchor-text profile per target host: total in-links, distinct
# anchor texts, and the dominant anchor (max count, ties to the
# lexicographically smallest anchor) — the classic anchor-text signal
# for retrieval (BM25F fields) and link-spam screening.
# ---------------------------------------------------------------------------

_Y02_ORACLE = f"""
WITH {_LINKS_CTE},
pa AS (
  SELECT dst_host, anchor, count(*) AS c
  FROM edges0 GROUP BY dst_host, anchor
),
top AS (
  SELECT dst_host, anchor AS top_anchor FROM pa
  QUALIFY row_number() OVER (PARTITION BY dst_host
                             ORDER BY c DESC, anchor) = 1
)
SELECT p.dst_host, CAST(sum(p.c) AS BIGINT) AS n_links,
       CAST(count(*) AS BIGINT) AS n_anchors,
       t.top_anchor
FROM pa p JOIN top t ON t.dst_host = p.dst_host
GROUP BY p.dst_host, t.top_anchor ORDER BY p.dst_host
"""


@register("anchor_text_profile", _Y02_ORACLE)
def y_anchor_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    pa = (_links_df(spark, sf_dir)
          .groupBy("dst_host", "anchor")
          .agg(F.count(F.lit(1)).alias("c")))
    return (pa.groupBy("dst_host")
            .agg(F.sum("c").alias("n_links"),
                 F.count(F.lit(1)).alias("n_anchors"),
                 F.min_by("anchor",
                          F.struct((-F.col("c")).alias("nc"),
                                   F.col("anchor"))).alias("top_anchor"))
            .orderBy("dst_host"))


# ---------------------------------------------------------------------------
# y03 — host-graph reciprocity: fraction of distinct directed host
# edges whose reverse also exists (self-loops excluded) — the spam/
# link-farm indicator. One distinct + one left-semi self-join.
# ---------------------------------------------------------------------------

_Y03_ORACLE = f"""
WITH {_LINKS_CTE},
e AS (SELECT DISTINCT src_host AS a, dst_host AS b
      FROM edges0 WHERE src_host <> dst_host),
r AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal FROM e
      WHERE EXISTS (SELECT 1 FROM e e2 WHERE e2.a = e.b AND e2.b = e.a)),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
SELECT n_edges, n_reciprocal,
       round(n_reciprocal * 1.0 / n_edges, 6) AS reciprocity
FROM n, r
"""


@register("link_reciprocity", _Y03_ORACLE)
def y_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.crawl import link_reciprocity

    out = link_reciprocity(_links_df(spark, sf_dir))
    return out.select("n_edges", "n_reciprocal",
                      F.round("reciprocity", 6).alias("reciprocity"))


# ---------------------------------------------------------------------------
# y04 — fair crawl-budget water-filling across hosts: threshold t with
# sum(min(n_h, t)) = budget, alloc = min(n_h, t) (small hosts fully
# served, mega-hosts capped at the water level). Engine:
# selection.waterfill_allocation — sorted prefix sums via
# distributed_cumsum, the water level solved in closed form from one
# O(1) driver row. Budget = floor(0.6 * total frontier).
# ---------------------------------------------------------------------------

_Y04_ORACLE = f"""
WITH u AS ({synth.urls_select_sql('duckdb')}),
c AS (SELECT host, count(*) AS n FROM u GROUP BY host),
tot AS (SELECT sum(n) AS total, CAST(count(*) AS BIGINT) AS h FROM c),
b AS (SELECT CAST(floor(0.6 * total) AS BIGINT) AS budget, h FROM tot),
r AS (SELECT host, n,
             row_number() OVER (ORDER BY n, host) AS i,
             sum(n) OVER (ORDER BY n, host ROWS UNBOUNDED PRECEDING) AS cum
      FROM c),
f AS (SELECT r.*, b.budget, b.h FROM r, b),
istar AS (SELECT coalesce(max(CASE WHEN cum + (h - i) * n <= budget
                                   THEN i END), 0) AS ist FROM f),
base AS (SELECT coalesce(max(CASE WHEN i = ist THEN cum END), 0) AS cumst
         FROM f, istar),
thr AS (SELECT CASE WHEN ist >= h THEN NULL
                    ELSE (budget - cumst) * 1.0 / (h - ist) END AS t
        FROM istar, base, b)
SELECT host, CAST(n AS BIGINT) AS n_urls,
       round(CASE WHEN t IS NULL THEN CAST(n AS DOUBLE)
                  ELSE LEAST(CAST(n AS DOUBLE), t) END, 6) AS alloc
FROM f, thr ORDER BY host
"""


@register("crawl_budget_waterfill", _Y04_ORACLE)
def y_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.selection import waterfill_allocation
    from bano_spark.queries_wave8 import _urls

    counts = _urls(spark, sf_dir).groupBy("host") \
        .agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n")).first()[0]
    budget = int(0.6 * total)
    out = waterfill_allocation(counts, budget)
    return (out.select("host", "n_urls",
                       F.round("alloc", 6).alias("alloc"))
            .orderBy("host"))


# ---------------------------------------------------------------------------
# y05 — crawl-trap depth features per host (URL volume, path depth
# moments, distinct-path ratio): calendar/session traps are deep paths
# with distinct ratio near 1 at high volume.
# ---------------------------------------------------------------------------

_Y05_ORACLE = f"""
WITH u AS ({synth.urls_select_sql('duckdb')}),
d AS (SELECT host, path,
             length(path) - length(replace(path, '/', '')) AS dep
      FROM u)
SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(max(dep) AS BIGINT) AS max_depth,
       round(sum(dep) * 1.0 / count(*), 6) AS mean_depth,
       CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
       round(count(DISTINCT path) * 1.0 / count(*), 6) AS distinct_ratio
FROM d GROUP BY host ORDER BY host
"""


@register("crawl_trap_depth", _Y05_ORACLE)
def y_trap_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.crawl import path_depth_stats
    from bano_spark.queries_wave8 import _urls

    out = path_depth_stats(_urls(spark, sf_dir))
    return (out.select("host", "n_urls",
                       F.col("max_depth").cast("bigint").alias("max_depth"),
                       F.round("mean_depth", 6).alias("mean_depth"),
                       "n_paths",
                       F.round("distinct_ratio", 6).alias("distinct_ratio"))
            .orderBy("host"))


# ---------------------------------------------------------------------------
# y06 — per-host robots allowance rate: the fraction of the host's
# frontier the robots rules admit (composition of the x02 decision
# operator) — the fetch-planner's input next to the waterfill budget.
# ---------------------------------------------------------------------------

_Y06_ORACLE = f"""
WITH u AS ({synth.urls_select_sql('duckdb')}),
rr AS ({synth.robots_rules_select_sql('duckdb')}),
r AS (SELECT host, prefix, bool_and(allow) AS allow
      FROM rr GROUP BY host, prefix),
j AS (
  SELECT u.doc_id, u.host, u.path, r.prefix, r.allow
  FROM u LEFT JOIN r
    ON u.host = r.host
   AND substring(u.path, 1, length(r.prefix)) = r.prefix
),
best AS (
  SELECT doc_id, host,
         coalesce(allow, TRUE) AS allowed
  FROM j
  QUALIFY row_number() OVER (
      PARTITION BY doc_id
      ORDER BY coalesce(length(prefix), -1) DESC,
               CASE WHEN allow THEN 1 ELSE 0 END ASC) = 1
)
SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
           AS n_allowed,
       round(sum(CASE WHEN allowed THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
           AS allow_rate
FROM best GROUP BY host ORDER BY host
"""


@register("crawl_allowance_rate", _Y06_ORACLE)
def y_allowance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.crawl import robots_decide
    from bano_spark.queries_wave8 import _urls

    _read(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    urls = _urls(spark, sf_dir)
    rules = spark.sql(synth.robots_rules_select_sql("spark"))
    dec = robots_decide(urls, rules)
    return (dec.groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_urls"),
                 F.sum(F.when(F.col("allowed"), 1).otherwise(0))
                 .alias("n_allowed"))
            .withColumn("allow_rate",
                        F.round(F.col("n_allowed") / F.col("n_urls"), 6))
            .orderBy("host"))


# ---------------------------------------------------------------------------
# y07 — Hilbert curve index (order 8) of the dense points on a
# 16-unit grid: the locality-preserving spatial sort/bucket key.
# Engine: geo/hilbert.hilbert_index — a pure column-expression chain
# (codegen, no UDF, no shuffle); oracle: the SAME step table rendered
# as chained CTEs by hilbert_cte_sql (one source of truth for the
# math, two engines). tests/test_wave9.py pins the formulation to the
# canonical bit-twiddling curve on the full order-4 grid.
# ---------------------------------------------------------------------------

def _y07_oracle() -> str:
    base = (f"SELECT event_id, CAST(floor(x / 16.0) AS BIGINT) AS hx, "
            f"CAST(floor(y / 16.0) AS BIGINT) AS hy "
            f"FROM ({synth.dense_points_select_sql('duckdb')})")
    return (hilbert_cte_sql(base, 8, "duckdb")
            + " ORDER BY event_id")


@register("hilbert_point_order", _y07_oracle())
def y_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.geo.hilbert import hilbert_index

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    pts = spark.sql(synth.dense_points_select_sql("spark")).select(
        "event_id",
        F.floor(F.col("x") / 16.0).cast("bigint").alias("hx"),
        F.floor(F.col("y") / 16.0).cast("bigint").alias("hy"))
    out = hilbert_index(pts, 8, "hx", "hy")
    return out.select("event_id", "hilbert_d").orderBy("event_id")


# ---------------------------------------------------------------------------
# y08 — per-source KL divergence of the add-one-smoothed unigram
# distribution from the corpus mix: the drift detector for a new
# crawl source. The zero-count terms are materialized by the bounded
# vocab x sources broadcast join (the source_mixing discipline).
# ---------------------------------------------------------------------------

_Y08_ORACLE = f"""
WITH toks AS (SELECT source AS src, unnest({_TOKS}) AS t FROM documents),
vocab AS (SELECT t, count(*) AS ct FROM toks GROUP BY t),
tot AS (SELECT CAST(sum(ct) AS DOUBLE) AS nq,
               CAST(count(*) AS DOUBLE) AS v FROM vocab),
ns AS (SELECT src, count(*) AS ns FROM toks GROUP BY src),
pst AS (SELECT src, t, count(*) AS cst FROM toks GROUP BY src, t),
fullv AS (
  SELECT n.src, v0.t, n.ns, v0.ct, coalesce(p.cst, 0) AS cst
  FROM vocab v0 CROSS JOIN ns n
  LEFT JOIN pst p ON p.src = n.src AND p.t = v0.t
)
SELECT src AS source,
       round(sum(((cst + 1.0) / (ns + v))
                 * ln(((cst + 1.0) / (ns + v)) / ((ct + 1.0) / (nq + v)))),
             6) AS kl,
       CAST(count(*) AS BIGINT) AS n_vocab
FROM fullv, tot GROUP BY src ORDER BY source
"""


@register("source_kl_divergence", _Y08_ORACLE)
def y_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import source_kl_divergence

    docs = _read(spark, sf_dir, "documents")
    out = source_kl_divergence(docs)
    return (out.select("source", F.round("kl", 6).alias("kl"), "n_vocab")
            .orderBy("source"))
