"""Wave-63 driver queries: Cox proportional-hazards regression over
the survival fixture (the effect-size member of the survival family —
kaplan_meier/nelson_aalen estimate curves, log_rank_test detects a
difference, Cox MEASURES it as a hazard ratio), and longest-path
dependency depth over an acyclic host graph (chain edges within
digit subgroups + strictly bucket-ascending organic links).

Float parity: Cox pins its Newton trajectory by rounding beta to 12
decimals per step and returns ratio statistics at 6 dp (risk-set
suffix sums are folds over the bounded distinct-time table); the DAG
depths are integers (exact parity, nothing rounded) and the fixture
duration/covariate are integer residues."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# bw01 — Cox PH hazard ratio on the survival fixture: covariate
# x in {-1, 0, 1}, durations shortened by 10 per unit of x (a real
# planted effect), ~29% right-censoring.
# ---------------------------------------------------------------------------

def _cox_oracle(iters: int = 3) -> str:
    parts = ["""
WITH base AS (
  SELECT CAST(1 + (event_id % 20)
              + 10 * (1 - ((event_id % 3) - 1)) AS DOUBLE) AS t,
         CAST((event_id % 3) - 1 AS DOUBLE) AS x,
         (event_id % 7) < 5 AS o
  FROM events),
ct AS MATERIALIZED (
  SELECT t, x, CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CASE WHEN o THEN 1 ELSE 0 END) AS DOUBLE) AS d
  FROM base GROUP BY t, x),
b0 AS (SELECT CAST(0 AS DOUBLE) AS b)"""]
    for k in range(1, iters + 2):
        parts.append(f""",
rt{k} AS MATERIALIZED (
  SELECT t, sum(n * exp(b * x)) AS a0,
         sum(n * x * exp(b * x)) AS a1,
         sum(n * x * x * exp(b * x)) AS a2,
         sum(d) AS d, sum(d * x) AS sx, any_value(b) AS b
  FROM ct, b{k - 1} GROUP BY t),
sf{k} AS (
  SELECT t, d, sx, b,
         sum(a0) OVER sw AS s0, sum(a1) OVER sw AS s1,
         sum(a2) OVER sw AS s2
  FROM rt{k}
  WINDOW sw AS (ORDER BY t ROWS BETWEEN CURRENT ROW
                AND UNBOUNDED FOLLOWING)),
ui{k} AS (
  SELECT any_value(b) AS b, sum(sx - d * s1 / s0) AS u,
         sum(d * (s2 / s0 - (s1 / s0) * (s1 / s0))) AS i
  FROM sf{k} WHERE d > 0),
b{k} AS (SELECT round(b + u / i, 12) AS b FROM ui{k})""")
    last = iters + 1
    parts.append(f"""
SELECT (SELECT CAST(count(*) AS BIGINT) FROM base) AS n,
       (SELECT CAST(sum(CASE WHEN o THEN 1 ELSE 0 END) AS BIGINT)
        FROM base) AS n_events,
       round(ui.b, 6) AS beta,
       round(exp(ui.b), 6) AS hazard_ratio,
       round(1.0 / sqrt(ui.i), 6) AS se
FROM ui{last} ui""")
    return "".join(parts)


@register("cox_proportional_hazards", _cox_oracle(3))
def q_cox(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import cox_ph_quantized

    ev = _read(spark, sf_dir, "events").select(
        (1 + (F.col("event_id") % 20)
         + 10 * (1 - ((F.col("event_id") % 3) - 1)))
        .cast("double").alias("duration"),
        ((F.col("event_id") % 3) - 1).cast("double").alias("x"),
        ((F.col("event_id") % 7) < 5).alias("observed"))
    return cox_ph_quantized(ev, iters=3)


# ---------------------------------------------------------------------------
# bw02 — longest-path dependency depth of the acyclic host graph.
# ---------------------------------------------------------------------------

_BW02_ORACLE = f"""
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
hosts AS (SELECT DISTINCT src_host AS h FROM edges0
          UNION SELECT DISTINCT dst_host FROM edges0),
grp AS (SELECT h,
               regexp_extract(h, 'd[0-9]+\\.(.*)$', 1)
               || '#' ||
               CAST(CAST(coalesce(nullif(
                    regexp_extract(h, 'd([0-9]+)\\.', 1), ''), '0')
                    AS INT) % 7 AS VARCHAR) AS gk,
               CAST(coalesce(nullif(
                    regexp_extract(h, 'd([0-9]+)\\.', 1), ''), '0')
                    AS INT) // 7 % 4 AS sub
        FROM hosts),
chain AS (
  SELECT h AS u, lead(h) OVER (PARTITION BY gk, sub ORDER BY h) AS v
  FROM grp),
e AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT e0.src_host AS u, e0.dst_host AS v
    FROM edges0 e0
    JOIN grp gu ON gu.h = e0.src_host
    JOIN grp gv ON gv.h = e0.dst_host
    WHERE gu.gk < gv.gk
    UNION ALL
    SELECT u, v FROM chain WHERE v IS NOT NULL)
  WHERE u <> v),
r AS (
  SELECT v, 1 AS len FROM e
  UNION
  SELECT e.v, r.len + 1 FROM r JOIN e ON e.u = r.v),
nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e)
SELECT n.node, CAST(coalesce(max(r.len), 0) AS BIGINT) AS depth
FROM nodes n LEFT JOIN r ON r.v = n.node
GROUP BY n.node ORDER BY n.node
"""


@register("dag_dependency_depth", _BW02_ORACLE)
def q_dag_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.crawl import extract_links
    from bano_spark.operators.graph import dag_longest_path

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
                 F.lit("#"),
                 (digits % 7).cast("string")).alias("gk"),
        F.expr("CAST(coalesce(nullif(regexp_extract(h, 'd([0-9]+)\\\\.',"
               " 1), ''), '0') AS INT) div 7 % 4").alias("sub"))
    chain = (grp.select(
        F.col("h").alias("u"),
        F.lead("h").over(Window.partitionBy("gk", "sub").orderBy("h"))
        .alias("v"))
        .filter(F.col("v").isNotNull()))
    gu = grp.select(F.col("h").alias("src_host"), F.col("gk").alias("_gu"))
    gv = grp.select(F.col("h").alias("dst_host"), F.col("gk").alias("_gv"))
    dag = (edges0.join(F.broadcast(gu), "src_host")
           .join(F.broadcast(gv), "dst_host")
           .filter(F.col("_gu") < F.col("_gv"))
           .select(F.col("src_host").alias("u"),
                   F.col("dst_host").alias("v")))
    e = dag.unionByName(chain).filter(F.col("u") != F.col("v")).distinct()
    return dag_longest_path(e, src="u", dst="v", max_rounds=60)
