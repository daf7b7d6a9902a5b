"""Wave-67 driver query: minimum spanning forest of the weighted host
graph — distributed Boruvka in the engine vs SEQUENTIAL Kruskal
replayed inside one DuckDB recursive CTE (one edge per recursion
step, union-find labels carried as a list). Distinct md5-derived edge
weights make the MST unique, so the two opposite execution models
must produce the identical edge set — the strongest kind of
cross-engine check this harness can make.

The fixture densifies the organic undirected host links with +1 and
+2 neighbor edges inside each (suffix, digit-bucket, sub) group, so
~2/3 of edges lose their cycle and the argmin/contraction machinery
does real work (the raw link graph is 99.8% forest already).
All quantities are integers — exact parity."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


_CA01_ORACLE = f"""
WITH RECURSIVE lraw AS ({synth.link_html_select_sql('duckdb')}),
links AS (
  SELECT src_host,
         unnest(regexp_extract_all(html,
             '<a href="([^"]+)">([^<]*)</a>', 1)) AS href
  FROM lraw),
edges0 AS (
  SELECT src_host, CASE WHEN href LIKE 'https://%'
       THEN regexp_extract(href, 'https://([^/]+)', 1)
       ELSE src_host END AS dst_host
  FROM links),
hosts AS (
  -- UNION ALL + outer DISTINCT, NOT plain UNION: inside DuckDB's
  -- WITH RECURSIVE a UNION in a non-recursive CTE does not dedupe
  -- (observed 1227 rows / 1158 distinct), which shifted the lead()
  -- densification windows
  SELECT DISTINCT h FROM (
    SELECT src_host AS h FROM edges0
    UNION ALL SELECT dst_host FROM edges0)),
grp AS (SELECT h,
               regexp_extract(h, 'd[0-9]+\\.(.*)$', 1)
               || '#' ||
               CAST(CAST(coalesce(nullif(
                    regexp_extract(h, 'd([0-9]+)\\.', 1), ''), '0')
                    AS INT) % 7 AS VARCHAR)
               || '#' ||
               CAST(CAST(coalesce(nullif(
                    regexp_extract(h, 'd([0-9]+)\\.', 1), ''), '0')
                    AS INT) // 7 % 4 AS VARCHAR) AS gk
        FROM hosts),
nb AS (
  SELECT h AS a, lead(h) OVER w AS b1, lead(h, 2) OVER w AS b2
  FROM grp WINDOW w AS (PARTITION BY gk ORDER BY h)),
eu AS (
  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
    SELECT src_host AS a, dst_host AS b FROM edges0
    UNION ALL SELECT a, b1 FROM nb WHERE b1 IS NOT NULL
    UNION ALL SELECT a, b2 FROM nb WHERE b2 IS NOT NULL)
  WHERE a <> b),
ew AS MATERIALIZED (
  SELECT u, v,
         CAST(CAST(concat('0x', substr(md5(u || '|' || v), 1, 8))
                   AS UBIGINT) AS BIGINT) AS w,
         CAST(row_number() OVER (ORDER BY
           CAST(CAST(concat('0x', substr(md5(u || '|' || v), 1, 8))
                     AS UBIGINT) AS BIGINT)) AS INT) AS rn
  FROM eu),
nodes AS (SELECT DISTINCT h FROM (
  SELECT u AS h FROM eu UNION ALL SELECT v FROM eu)),
ne AS (SELECT CAST(count(*) AS INT) AS m FROM ew),
kr AS (
  SELECT 0 AS step,
         (SELECT list([h, h]) FROM nodes) AS labels,
         CAST([] AS VARCHAR[][]) AS mst
  UNION ALL
  SELECT q.step + 1,
         CASE WHEN q.cu <> q.cv
              THEN list_transform(q.labels,
                     p -> CASE WHEN p[2] = q.cv
                          THEN [p[1], q.cu] ELSE p END)
              ELSE q.labels END,
         CASE WHEN q.cu <> q.cv
              THEN list_append(q.mst,
                               [q.eu, q.ev, CAST(q.w AS VARCHAR)])
              ELSE q.mst END
  FROM (
    SELECT kr.step, kr.labels, kr.mst, e.u AS eu, e.v AS ev, e.w,
           list_filter(kr.labels, p -> p[1] = e.u)[1][2] AS cu,
           list_filter(kr.labels, p -> p[1] = e.v)[1][2] AS cv
    FROM kr JOIN ew e ON e.rn = kr.step + 1
  ) q, ne
  WHERE q.step < ne.m
),
fin AS (SELECT unnest(mst) AS e FROM kr, ne WHERE step = ne.m)
SELECT e[1] AS u, e[2] AS v, CAST(e[3] AS BIGINT) AS w
FROM fin ORDER BY w
"""


@register("boruvka_mst_forest", _CA01_ORACLE)
def q_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.crawl import extract_links
    from bano_spark.operators.graph import boruvka_mst

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    links = extract_links(spark.sql(synth.link_html_select_sql("spark")))
    edges0 = links.select("src_host", "dst_host")
    hosts = (edges0.select(F.col("src_host").alias("h"))
             .unionByName(edges0.select(F.col("dst_host").alias("h")))
             .distinct())
    digits = F.coalesce(
        F.nullif(F.regexp_extract("h", r"d([0-9]+)\.", 1), F.lit("")),
        F.lit("0")).cast("int")
    grp = hosts.select(
        "h",
        F.concat(F.regexp_extract("h", r"d[0-9]+\.(.*)$", 1),
                 F.lit("#"), (digits % 7).cast("string"),
                 F.lit("#"),
                 F.expr("CAST(coalesce(nullif(regexp_extract(h,"
                        " 'd([0-9]+)\\\\.', 1), ''), '0') AS INT)"
                        " div 7 % 4").cast("string")).alias("gk"))
    wk = Window.partitionBy("gk").orderBy("h")
    nb = grp.select(F.col("h").alias("a"),
                    F.lead("h", 1).over(wk).alias("b1"),
                    F.lead("h", 2).over(wk).alias("b2"))
    pairs = (edges0.select(F.col("src_host").alias("a"),
                           F.col("dst_host").alias("b"))
             .unionByName(nb.filter(F.col("b1").isNotNull())
                          .select("a", F.col("b1").alias("b")))
             .unionByName(nb.filter(F.col("b2").isNotNull())
                          .select("a", F.col("b2").alias("b")))
             .filter(F.col("a") != F.col("b")))
    ew = (pairs.select(F.least("a", "b").alias("u"),
                       F.greatest("a", "b").alias("v"))
          .distinct()
          .withColumn("w", F.expr(
              "CAST(conv(substr(md5(concat(u, '|', v)), 1, 8), 16, 10)"
              " AS BIGINT)")))
    return boruvka_mst(ew, src="u", dst="v", weight="w")
