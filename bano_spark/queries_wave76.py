"""Wave-76 driver queries: (1) deterministic md5-draw random walks
from every host of the undirected link graph (the DeepWalk corpus
primitive with the RNG replaced by arithmetic — bit-reproducible on
any topology and replayable in SQL); (2) Poisson-bootstrap median
confidence interval per event type with hash weights (Chamandy et
al. 2012 — the stream-safe bootstrap), 64 replicates, 5th/60th order
statistics. Both all-integer/string — exact parity."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# ci01 — deterministic random walks (length 5) on the host graph.
# ---------------------------------------------------------------------------

def _walk_steps_duckdb(walk_len: int = 5) -> str:
    steps = []
    for t in range(1, walk_len + 1):
        prev = "w0" if t == 1 else f"w{t - 1}"
        key = f"{prev}.start || '|' || {prev}.cur || '|' || '{t}'"
        idx = (f"CAST(CAST(CAST(concat('0x', substr(md5({key}), 1, 8))"
               f" AS UBIGINT) AS BIGINT) % len(adj.nbrs) AS INT) + 1")
        steps.append(
            f"w{t} AS (SELECT {prev}.start, adj.nbrs[{idx}] AS cur "
            f"FROM {prev} JOIN adj ON adj.node = {prev}.cur)")
    return ",\n".join(steps)


_CI01_ORACLE = f"""
WITH lraw AS ({synth.link_html_select_sql('duckdb')}),
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
sym AS (
  SELECT DISTINCT a, b FROM (
    SELECT src_host AS a, dst_host AS b FROM edges0
    UNION ALL SELECT dst_host, src_host FROM edges0)
  WHERE a <> b),
adj AS (SELECT a AS node, list(b ORDER BY b) AS nbrs
        FROM sym GROUP BY a),
w0 AS (SELECT node AS start, node AS cur FROM adj),
{_walk_steps_duckdb(5)}
SELECT start, step, node FROM (
  SELECT start, 0 AS step, cur AS node FROM w0
  UNION ALL SELECT start, 1, cur FROM w1
  UNION ALL SELECT start, 2, cur FROM w2
  UNION ALL SELECT start, 3, cur FROM w3
  UNION ALL SELECT start, 4, cur FROM w4
  UNION ALL SELECT start, 5, cur FROM w5)
ORDER BY start, step, node
"""


@register("hash_random_walks", _CI01_ORACLE)
def q_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.crawl import extract_links
    from bano_spark.operators.graph import hash_random_walks

    _read(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents")
    links = extract_links(spark.sql(synth.link_html_select_sql("spark")))
    return hash_random_walks(links.select("src_host", "dst_host"),
                             src="src_host", dst="dst_host",
                             walk_len=5)


# ---------------------------------------------------------------------------
# ci02 — Poisson-bootstrap median CI per event type.
# ---------------------------------------------------------------------------

_BM_FIXTURE = """
SELECT event_type AS g, event_id AS rid,
       CAST((event_id * 2654435761 + 89) % 2147483648 % 1000
            AS BIGINT) AS x
FROM events
"""

_CI02_ORACLE = f"""
WITH base AS ({_BM_FIXTURE}),
rep AS (
  SELECT g, x, rid, bb.b,
         (rid * 2654435761 + bb.b * 7919) % 2147483648
         // 1048576 % 16 AS h
  FROM base CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS b) bb),
wts AS (
  SELECT g, x, rid, b,
         CASE WHEN h < 6 THEN 0 WHEN h < 12 THEN 1
              WHEN h < 15 THEN 2 ELSE 3 END AS w
  FROM rep),
pos AS (SELECT * FROM wts WHERE w > 0),
tot AS (SELECT g, b, sum(w) AS tw FROM pos GROUP BY g, b),
cum AS (
  SELECT g, b, x, w,
         sum(w) OVER (PARTITION BY g, b ORDER BY x, rid
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cw
  FROM pos),
med AS (
  SELECT cum.g, cum.b, min(x) AS m
  FROM cum JOIN tot ON cum.g = tot.g AND cum.b = tot.b
  WHERE cw * 2 >= tw + 1
  GROUP BY cum.g, cum.b),
fin AS (
  SELECT g, list_sort(list(m)) AS ms FROM med GROUP BY g)
SELECT g AS event_type, CAST(len(ms) AS BIGINT) AS n_replicates,
       CAST(ms[5] AS BIGINT) AS ci_lo,
       CAST(ms[60] AS BIGINT) AS ci_hi,
       CAST(ms[32] AS BIGINT) AS median_mid
FROM fin ORDER BY event_type
"""


@register("bootstrap_median_ci", _CI02_ORACLE)
def q_boot_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import bootstrap_median_ci

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    x = spark.sql(_BM_FIXTURE)
    return bootstrap_median_ci(x, "g", "x", "rid",
                               n_boot=64).withColumnRenamed(
        "g", "event_type")
