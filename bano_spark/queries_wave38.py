"""Wave-38 driver queries: Juilland's dispersion (even-spread vs
single-part spam terms), source vocabulary overlap (domain-shift
support Jaccard), the Lorenz curve behind host_gini, RFM user
segmentation on exact terciles, and per-cell Hill diversity numbers
(q0/q1/q2 on one effective-species scale).

Reference anchors: dispersion/overlap extend the corpus-mix family
(source_kl, tfidf); Lorenz/RFM ride the exact-quantile machinery
(token budgets, weighted medians); Hill numbers refine
segregation_entropy to per-cell diversity profiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.queries_wave32 import _cells_sql
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# ax01 — Juilland's D over 4 document parts, top 30 terms by count.
# ---------------------------------------------------------------------------

_AX01_ORACLE = """
WITH t AS (
  SELECT doc_id % 4 AS p,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
),
pc AS (SELECT w, p, CAST(count(*) AS DOUBLE) AS c
       FROM t WHERE w <> '' GROUP BY w, p),
g AS (SELECT w, sum(c) AS s, sum(c * c) AS ss FROM pc GROUP BY w)
SELECT w AS term, CAST(s AS BIGINT) AS count,
       round(1 - (sqrt(greatest(ss / 4 - (s / 4) * (s / 4),
                                CAST(0 AS DOUBLE))) / (s / 4))
               / sqrt(CAST(3 AS DOUBLE)), 6) AS juilland_d
FROM g ORDER BY count DESC, term LIMIT 30
"""


@register("juilland_dispersion", _AX01_ORACLE)
def q_juilland(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import juilland_dispersion

    docs = _read(spark, sf_dir, "documents")
    return juilland_dispersion(docs, 4, top_k=30)


# ---------------------------------------------------------------------------
# ax02 — vocabulary Jaccard between source pairs (supports, not
# distributions — the companion of source_kl_divergence).
# ---------------------------------------------------------------------------

_AX02_ORACLE = """
WITH tv AS (
  SELECT DISTINCT source AS s,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
),
tv2 AS (SELECT s, w FROM tv WHERE w <> ''),
sizes AS (SELECT s, count(*) AS v FROM tv2 GROUP BY s),
pairs AS (
  SELECT a.s AS source_a, b.s AS source_b, count(*) AS shared
  FROM tv2 a JOIN tv2 b ON b.w = a.w AND a.s < b.s
  GROUP BY 1, 2
)
SELECT p.source_a, p.source_b,
       CAST(sa.v AS BIGINT) AS v_a, CAST(sb.v AS BIGINT) AS v_b,
       CAST(p.shared AS BIGINT) AS shared,
       round(CAST(p.shared AS DOUBLE) / (sa.v + sb.v - p.shared), 6)
         AS jaccard
FROM pairs p JOIN sizes sa ON sa.s = p.source_a
JOIN sizes sb ON sb.s = p.source_b
ORDER BY p.source_a, p.source_b
"""


@register("source_vocab_overlap", _AX02_ORACLE)
def q_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import source_vocab_overlap

    docs = _read(spark, sf_dir, "documents")
    return (source_vocab_overlap(docs)
            .orderBy("source_a", "source_b"))


# ---------------------------------------------------------------------------
# ax03 — Lorenz curve of order totals at population deciles. The
# oracle rebuilds the engine's exact lower-rank quantile convention
# (value at sorted position floor(q*(n-1)), zero-indexed) and the
# same strict-greater banding.
# ---------------------------------------------------------------------------

_AX03_ORACLE = """
WITH v AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
o AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
b AS (
  SELECT q.i, o.v AS bound
  FROM (SELECT unnest(generate_series(1, 9)) AS i) q
  JOIN n ON TRUE
  JOIN o ON o.rn = CAST(floor(q.i / 10.0 * (n.n - 1)) AS BIGINT) + 1
),
banded AS (
  SELECT (SELECT count(*) FROM b WHERE v.v > b.bound) AS band, v.v
  FROM v
),
bands AS (SELECT band, CAST(count(*) AS BIGINT) AS n, sum(v) AS s
          FROM banded GROUP BY band),
f AS (
  SELECT list(band ORDER BY band) AS bs, list(n ORDER BY band) AS ns,
         list(s ORDER BY band) AS ss FROM bands
),
rows_ AS (
  SELECT unnest(generate_series(1, len(bs))) AS i, bs, ns, ss FROM f
)
SELECT CAST(bs[i] AS INTEGER) AS band, CAST(ns[i] AS BIGINT) AS n,
       round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), ns[1:i]),
                              (a, x) -> a + x) AS DOUBLE)
             / list_reduce(list_prepend(CAST(0 AS BIGINT), ns),
                           (a, x) -> a + x), 6) AS cum_pop_share,
       round(list_reduce(list_prepend(CAST(0 AS DOUBLE), ss[1:i]),
                         (a, x) -> a + x)
             / list_reduce(list_prepend(CAST(0 AS DOUBLE), ss),
                           (a, x) -> a + x), 6) AS cum_value_share
FROM rows_ ORDER BY band
"""


@register("lorenz_curve", _AX03_ORACLE)
def q_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.selection import lorenz_curve

    orders = _read(spark, sf_dir, "orders")
    return lorenz_curve(orders, "o_totalprice", 10).orderBy("band")


# ---------------------------------------------------------------------------
# ax04 — RFM segmentation at a fixed as-of epoch: exact global
# terciles on each axis (engine quantile convention), champion codes
# like '333'. Oracle mirrors the lower-rank threshold selection.
# ---------------------------------------------------------------------------

_AX04_ASOF = 1707000000


def _ax04_tercile(src: str, col: str) -> str:
    """Engine-convention tercile bounds of src.col as a 2-row CTE
    body: value at zero-indexed sorted position floor(q*(n-1))."""
    return f"""
SELECT q.q, o.v AS bound
FROM (SELECT 1 AS q UNION ALL SELECT 2) q
JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM {src}) n ON TRUE
JOIN (SELECT {col} AS v, row_number() OVER (ORDER BY {col}) AS rn
      FROM {src}) o
  ON o.rn = CAST(floor(q.q / 3.0 * (n.n - 1)) AS BIGINT) + 1
"""


_AX04_ORACLE = f"""
WITH rfm AS (
  SELECT user_id,
         CAST(floor(({_AX04_ASOF} - max(CAST(floor(epoch(ts)) AS BIGINT)))
                    / 86400) AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         round(sum(CAST(value AS DOUBLE)), 6) AS monetary
  FROM events GROUP BY user_id
),
rq AS ({_ax04_tercile('rfm', 'recency_days')}),
fq AS ({_ax04_tercile('rfm', 'frequency')}),
mq AS ({_ax04_tercile('rfm', 'monetary')})
SELECT user_id, recency_days, frequency, monetary,
       CAST(4 - (1 + (SELECT count(*) FROM rq
                      WHERE rfm.recency_days > rq.bound))
            AS INTEGER) AS r_score,
       CAST(1 + (SELECT count(*) FROM fq
                 WHERE rfm.frequency > fq.bound) AS INTEGER) AS f_score,
       CAST(1 + (SELECT count(*) FROM mq
                 WHERE rfm.monetary > mq.bound) AS INTEGER) AS m_score,
       CAST(4 - (1 + (SELECT count(*) FROM rq
                      WHERE rfm.recency_days > rq.bound)) AS VARCHAR)
       || CAST(1 + (SELECT count(*) FROM fq
                    WHERE rfm.frequency > fq.bound) AS VARCHAR)
       || CAST(1 + (SELECT count(*) FROM mq
                    WHERE rfm.monetary > mq.bound) AS VARCHAR)
         AS rfm_code
FROM rfm ORDER BY user_id
"""


@register("rfm_segmentation", _AX04_ORACLE)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.eventflow import rfm_segmentation

    ev = _read(spark, sf_dir, "events")
    return (rfm_segmentation(ev, _AX04_ASOF)
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# ax05 — Hill diversity profile (q0, q1, q2) per 8x8 document cell.
# ---------------------------------------------------------------------------

_AX05_ORACLE = f"""
WITH cells AS ({_cells_sql('duckdb')}),
cc AS (SELECT cx, cy, category, CAST(count(*) AS DOUBLE) AS n
       FROM cells GROUP BY 1, 2, 3),
ct AS (
  SELECT cx, cy, sum(n) AS t, CAST(count(*) AS BIGINT) AS q0,
         sum(n * ln(n)) AS nln, sum(n * n) AS nn
  FROM cc GROUP BY cx, cy
)
SELECT cx, cy, CAST(t AS BIGINT) AS n_obs, q0,
       round(exp(ln(t) - nln / t), 6) AS q1,
       round(t * t / nn, 6) AS q2
FROM ct ORDER BY cx, cy
"""


@register("hill_numbers", _AX05_ORACLE)
def q_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import hill_numbers

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    cells = spark.sql(_cells_sql("spark"))
    return hill_numbers(cells).orderBy("cx", "cy")
