"""Wave-60 driver queries: directed strongly-connected components of
a cyclic host graph (transitive-closure squaring + mutual-reach
labels), the Brown-Forsythe robust variance-homogeneity test (the
assumption check behind `anova_f_oneway`), and a k-anonymity release
audit over the documents quasi-identifiers.

The SCC fixture augments the organic .com link edges with
deterministic per-bucket ring edges (odd buckets wrap into cycles,
even buckets stay chains) and keeps only bucket-ascending cross
edges, so the ground truth holds varied cycle SCCs AND singleton
SCCs while the cross edges populate reach with non-mutual pairs —
exercising the mutual-pair filter, not just cycle membership.

Float parity: SCC and k-anonymity are integer/string exact;
Brown-Forsythe follows the anova_f_oneway discipline (ratio
statistics only, 6 dp) with exact interpolated medians on both
engines (Spark `median` == DuckDB `quantile_cont(0.5)`, the same
lo + frac*(hi-lo) algebra)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# bt01 — directed SCCs of the ring-augmented .com host graph.
# ---------------------------------------------------------------------------

_BT01_ORACLE = f"""
WITH RECURSIVE lraw AS ({synth.link_html_select_sql('duckdb')}),
links AS (
  SELECT src_host,
         unnest(regexp_extract_all(html,
             '<a href="([^"]+)">([^<]*)</a>', 1)) AS href
  FROM lraw),
edgesA AS (
  SELECT src_host, CASE WHEN href LIKE 'https://%'
       THEN regexp_extract(href, 'https://([^/]+)', 1)
       ELSE src_host END AS dst_host
  FROM links),
edges0 AS (
  SELECT src_host, dst_host FROM edgesA
  WHERE src_host LIKE '%.com' AND dst_host LIKE '%.com'),
hosts AS (SELECT DISTINCT src_host AS h FROM edges0
          UNION SELECT DISTINCT dst_host FROM edges0),
grp AS (SELECT h,
               CAST(coalesce(nullif(
                    regexp_extract(h, 'd([0-9]+)\\.', 1), ''), '0')
                    AS INT) % 7 AS b
        FROM hosts),
ring AS (
  SELECT h AS u, b,
         CASE WHEN lead(h) OVER w IS NOT NULL THEN lead(h) OVER w
              WHEN b % 2 = 1 THEN first_value(h) OVER w
              ELSE NULL END AS v
  FROM grp
  WINDOW w AS (PARTITION BY b ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING
               AND UNBOUNDED FOLLOWING)),
e AS MATERIALIZED (SELECT DISTINCT u, v FROM (
        SELECT e0.src_host AS u, e0.dst_host AS v
        FROM edges0 e0
        JOIN grp gu ON gu.h = e0.src_host
        JOIN grp gv ON gv.h = e0.dst_host
        WHERE gu.b <= gv.b
        UNION ALL SELECT u, v FROM ring WHERE v IS NOT NULL)
      WHERE u <> v),
reach AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v
  WHERE r.u <> e.v),
reachm AS MATERIALIZED (SELECT u, v FROM reach),
nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
mutual AS (SELECT a.u AS node, a.v AS mate
           FROM reachm a JOIN reachm b
             ON b.u = a.v AND b.v = a.u),
scc AS (SELECT n.node,
               least(n.node, coalesce(min(m.mate), n.node)) AS scc_id
        FROM nodes n LEFT JOIN mutual m ON m.node = n.node
        GROUP BY n.node),
sizes AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS n_nodes
          FROM scc GROUP BY scc_id),
intra AS (SELECT su.scc_id, CAST(count(*) AS BIGINT) AS n_edges_in
          FROM e JOIN scc su ON su.node = e.u
                 JOIN scc sv ON sv.node = e.v
          WHERE su.scc_id = sv.scc_id GROUP BY su.scc_id)
SELECT s.scc_id, s.n_nodes,
       coalesce(i.n_edges_in, CAST(0 AS BIGINT)) AS n_edges_in
FROM sizes s LEFT JOIN intra i ON i.scc_id = s.scc_id
ORDER BY s.scc_id
"""


@register("scc_host_components", _BT01_ORACLE)
def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.crawl import extract_links
    from bano_spark.operators.graph import scc_closure

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    links = extract_links(spark.sql(synth.link_html_select_sql("spark")))
    edges0 = (links.select("src_host", "dst_host")
              .filter(F.col("src_host").like("%.com")
                      & F.col("dst_host").like("%.com")))
    hosts = (edges0.select(F.col("src_host").alias("h"))
             .unionByName(edges0.select(F.col("dst_host").alias("h")))
             .distinct())
    grp = hosts.select(
        "h",
        (F.coalesce(F.nullif(F.regexp_extract("h", r"d([0-9]+)\.", 1),
                             F.lit("")), F.lit("0"))
         .cast("int") % 7).alias("b"))
    w = (Window.partitionBy("b").orderBy("h")
         .rowsBetween(Window.unboundedPreceding,
                      Window.unboundedFollowing))
    ring = grp.select(
        F.col("h").alias("u"),
        F.when(F.lead("h").over(
            Window.partitionBy("b").orderBy("h")).isNotNull(),
            F.lead("h").over(Window.partitionBy("b").orderBy("h")))
        .when(F.col("b") % 2 == 1, F.first("h").over(w))
        .alias("v")).filter(F.col("v").isNotNull())
    gu = grp.select(F.col("h").alias("src_host"), F.col("b").alias("_bu"))
    gv = grp.select(F.col("h").alias("dst_host"), F.col("b").alias("_bv"))
    dag = (edges0.join(F.broadcast(gu), "src_host")
           .join(F.broadcast(gv), "dst_host")
           .filter(F.col("_bu") <= F.col("_bv"))
           .select(F.col("src_host").alias("u"),
                   F.col("dst_host").alias("v")))
    e = dag.unionByName(ring).filter(F.col("u") != F.col("v")).distinct()
    return scc_closure(e, src="u", dst="v")


# ---------------------------------------------------------------------------
# bt02 — Brown-Forsythe variance-homogeneity test of value across the
# event types (median-centered Levene; the assumption check behind
# anova_f_oneway). Ratio statistics only, 6 dp.
# ---------------------------------------------------------------------------

_BT02_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events GROUP BY 1
),
z AS (
  SELECT e.event_type AS g, abs(e.value - med.m) AS z
  FROM events e JOIN med ON med.event_type = e.event_type
),
gr AS (
  SELECT g, CAST(count(*) AS DOUBLE) AS n,
         sum(z) AS s, sum(z * z) AS ss
  FROM z GROUP BY 1
),
a AS (
  SELECT count(*) AS k, sum(n) AS N, sum(s) AS S,
         sum(s * s / n) AS sb, sum(ss - s * s / n) AS ssw
  FROM gr
)
SELECT CAST(k AS BIGINT) AS k, CAST(N AS BIGINT) AS n,
       round(((sb - S * S / N) / (k - 1)) / (ssw / (N - k)), 6)
         AS bf_stat,
       round((sb - S * S / N) / ((sb - S * S / N) + ssw), 6) AS eta_sq
FROM a
"""


@register("brown_forsythe_test", _BT02_ORACLE)
def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import brown_forsythe

    return brown_forsythe(_read(spark, sf_dir, "events"),
                          "event_type", "value")


# ---------------------------------------------------------------------------
# bt03 — k-anonymity release audit over (lang, source, 100-char length
# band) quasi-identifiers, reported per lang, k = 3.
# ---------------------------------------------------------------------------

_BT03_ORACLE = """
WITH cls AS (
  SELECT lang, source,
         CAST(floor(n_chars / 100.0) AS INT) AS len_band,
         count(*) AS n
  FROM documents GROUP BY 1, 2, 3
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN n < 3 THEN n ELSE 0 END) AS BIGINT)
         AS suppressed_rows,
       CAST(min(n) AS BIGINT) AS k_anonymity,
       round(sum(CASE WHEN n < 3 THEN n ELSE 0 END) * 1.0 / sum(n), 6)
         AS suppression_rate
FROM cls GROUP BY lang ORDER BY lang
"""


@register("kanonymity_audit", _BT03_ORACLE)
def q_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import kanonymity_audit

    docs = (_read(spark, sf_dir, "documents")
            .withColumn("len_band",
                        F.floor(F.col("n_chars") / 100.0).cast("int")))
    return kanonymity_audit(docs, ["lang", "source", "len_band"], 3,
                            report_col="lang")
