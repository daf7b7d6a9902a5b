"""Wave-71 driver queries: (1) hreflang alternate-cluster reciprocity
audit over a synthetic multilingual page corpus (the consistency
check crawlers run before trusting hreflang clusters; the fixture
plants a deterministic fr->en omission on pid % 5 = 0 pages plus
organic one-way links where editions don't exist); (2) two-sample
permutation test of the mean difference per event type with
hash-derived label flips — bit-reproducible Monte-Carlo resampling,
no RNG, and an injected +100 treatment effect on the 'click' group
that the test must flag (p = 1/65) while null groups stay high.

Float parity: reciprocity is integer counting + one 6 dp ratio; the
permutation test's side sums are exact integers so T and every T_b
divide identically across engines and the >= comparisons never flip."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# cd01 — hreflang reciprocity per (src_lang, dst_lang).
# ---------------------------------------------------------------------------

_CD01_ORACLE = f"""
WITH p AS ({synth.alt_html_select_sql('duckdb')}),
raw AS (
  SELECT page_url AS src_url, page_lang AS src_lang,
         unnest(regexp_extract_all(html,
           '<link rel="alternate" hreflang="([a-z]+)" href="([^"]+)">',
           1)) AS dst_lang,
         unnest(regexp_extract_all(html,
           '<link rel="alternate" hreflang="([a-z]+)" href="([^"]+)">',
           2)) AS dst_url
  FROM p),
links AS (SELECT DISTINCT src_url, src_lang, dst_lang, dst_url FROM raw),
back AS (SELECT DISTINCT dst_url AS src_url, src_url AS dst_url,
                1 AS has_back
         FROM links),
marked AS (
  SELECT l.src_lang, l.dst_lang, coalesce(b.has_back, 0) AS hb
  FROM links l LEFT JOIN back b
    ON l.src_url = b.src_url AND l.dst_url = b.dst_url)
SELECT src_lang, dst_lang,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(sum(hb) AS BIGINT) AS n_reciprocal,
       round(sum(hb) / CAST(count(*) AS DOUBLE), 6) AS reciprocity
FROM marked GROUP BY src_lang, dst_lang
ORDER BY src_lang, dst_lang
"""


@register("hreflang_reciprocity", _CD01_ORACLE)
def q_hreflang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.crawl import hreflang_reciprocity

    _read(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents")
    pages = spark.sql(synth.alt_html_select_sql("spark"))
    return hreflang_reciprocity(pages)


# ---------------------------------------------------------------------------
# cd02 — permutation test with hash resampling.
# ---------------------------------------------------------------------------

def _ab_fixture_sql(dialect: str) -> str:
    return """
SELECT event_type AS g, event_id AS rid,
       CAST(user_id % 2 AS INT) AS side,
       CAST(k % 500 + CASE WHEN event_type = 'click'
            AND user_id % 2 = 0 THEN 100 ELSE 0 END AS DOUBLE) AS v
FROM (SELECT event_type, event_id, user_id,
             (event_id * 2654435761 + 37) % 2147483648 AS k
      FROM events)
"""


_CD02_ORACLE = f"""
WITH x AS ({_ab_fixture_sql('duckdb')}),
obs AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         sum(CASE WHEN side = 0 THEN v END)
         / CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS DOUBLE)
         - sum(CASE WHEN side = 1 THEN v END)
         / CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         AS t_obs
  FROM x GROUP BY g),
perm AS (
  SELECT g, b,
         sum(CASE WHEN ps = 0 THEN v END)
         / CAST(sum(CASE WHEN ps = 0 THEN 1 ELSE 0 END) AS DOUBLE)
         - sum(CASE WHEN ps = 1 THEN v END)
         / CAST(sum(CASE WHEN ps = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         AS t_b
  FROM (
    SELECT g, v, bb.b,
           CAST((rid * 2654435761 + bb.b * 7919)
                % 2147483648 // 1048576 % 2 AS INT) AS ps
    FROM x CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS b) bb)
  GROUP BY g, b)
SELECT perm.g AS event_type, any_value(obs.n) AS n,
       round(any_value(obs.t_obs), 6) AS t_obs,
       round((sum(CASE WHEN abs(t_b) >= abs(obs.t_obs)
                  THEN 1 ELSE 0 END) + 1) / 65.0, 6) AS p_value
FROM perm JOIN obs ON perm.g = obs.g
GROUP BY perm.g ORDER BY event_type
"""


@register("permutation_test_mean", _CD02_ORACLE)
def q_perm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import permutation_test_mean

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    x = spark.sql(_ab_fixture_sql("spark"))
    return permutation_test_mean(x, "g", "v", "rid", "side",
                                 n_perm=64).withColumnRenamed(
        "g", "event_type")
