"""Wave-20 driver queries: AMS F2 sketch (self-join-size estimation —
the join planner's cardinality oracle, median of 17 deterministic
sign-sum estimators), Holt double-exponential smoothing (level+trend
state fold per key, the linear-trend upgrade of EWMA), Apriori
frequent-pair association rules (support-pruned market-basket mining
over token sets), seasonal-naive MASE (forecast-skill triage per
series), and URL template mining (digit-collapsed crawl structure
detection).

Reference anchors: AMS extends the sketch family (KMV/HLL/CMS) with
the second frequency moment; association rules generalize the
reference's per-source tag cross-tabs (stats.sql); URL templates sit
next to crawl_trap_depth/canonical_url in the crawl-infrastructure
family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.queries_wave4 import _url_case
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# af01 — AMS F2 over the user_id frequency vector of events. Sign
# hashes are pure integer arithmetic; /1024 is a power-of-two
# division (exact), floored THEN parity'd (CAST truncation semantics
# differ across engines, floor doesn't). Median = 9th of 17 order
# statistics by window — deterministic in any engine.
# ---------------------------------------------------------------------------

_AMS_T = 17

_AF01_ORACLE = f"""
WITH freq AS (
  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS f
  FROM events GROUP BY user_id
),
ex AS (SELECT sum(f * f) AS f2 FROM freq),
sk AS (SELECT k, f, unnest(generate_series(0, {_AMS_T - 1})) AS t
       FROM freq),
sg AS (
  SELECT t, sum(f * (1 - 2 * (CAST(floor(
             ((k * 2654435761 + (t + 1) * 40503) % 2147483648)
             / 1024.0) AS BIGINT) % 2))) AS z
  FROM sk GROUP BY t
),
est AS (SELECT t, z * z AS est FROM sg),
med AS (SELECT est FROM (
          SELECT est, row_number() OVER (ORDER BY est, t) AS r FROM est)
        WHERE r = {(_AMS_T + 1) // 2})
SELECT CAST(ex.f2 AS BIGINT) AS f2_exact,
       CAST(med.est AS BIGINT) AS f2_ams,
       round(abs(CAST(med.est AS DOUBLE) - ex.f2) / ex.f2, 6) AS rel_err
FROM ex CROSS JOIN med
"""


@register("ams_f2_estimate", _AF01_ORACLE)
def af_ams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.sketches import ams_f2

    ev = _read(spark, sf_dir, "events")
    return ams_f2(ev, "user_id", t=_AMS_T)


# ---------------------------------------------------------------------------
# af02 — Holt level+trend per user over the raw event stream (ordered
# by ts, event_id — the ewma_per_user total order). Oracle: the SAME
# fold via list_reduce over a prepended init state, accumulator held
# as a LIST (see NOTE below); every literal CAST to DOUBLE (the
# DuckDB DECIMAL trap).
# ---------------------------------------------------------------------------

_H_A, _H_B = 0.5, 0.25

_AF02_ORACLE = f"""
WITH s AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vs
  FROM events GROUP BY user_id HAVING count(*) >= 2
),
f AS (
  SELECT user_id, len(vs) AS n,
         list_reduce(
           list_prepend(
             [CAST(vs[2] AS DOUBLE), CAST(vs[2] - vs[1] AS DOUBLE)],
             list_transform(list_slice(vs, 3, len(vs)),
                            x -> [CAST(x AS DOUBLE),
                                  CAST(0.0 AS DOUBLE)])),
           (s, v) -> [
             CAST({_H_A!r} AS DOUBLE) * v[1]
               + CAST(1.0 - {_H_A!r} AS DOUBLE) * (s[1] + s[2]),
             CAST({_H_B!r} AS DOUBLE)
               * ((CAST({_H_A!r} AS DOUBLE) * v[1]
                   + CAST(1.0 - {_H_A!r} AS DOUBLE) * (s[1] + s[2]))
                  - s[1])
               + CAST(1.0 - {_H_B!r} AS DOUBLE) * s[2]]) AS st
  FROM s
)
SELECT user_id, CAST(n AS BIGINT) AS n_rows,
       round(st[1], 6) AS level, round(st[2], 6) AS trend,
       round(st[1] + st[2], 6) AS forecast
FROM f ORDER BY user_id
"""
# NOTE: the accumulator is a LIST, not a STRUCT — DuckDB 1.0's
# list_reduce mutates a struct accumulator FIELD BY FIELD (while the
# second field's expression runs, s.<first> already holds the new
# value), which silently corrupts any multi-field recurrence. List
# accumulators evaluate all element expressions against the old
# state. (Found the hard way; struct folds looked fine on 1-step
# tests.)


@register("holt_smoothing", _AF02_ORACLE)
def af_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import holt_last

    ev = _read(spark, sf_dir, "events")
    return (holt_last(ev, "user_id", ["ts", "event_id"], "value",
                      alpha=_H_A, beta=_H_B)
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# af03 — Apriori association rules over token SETS of the first 2000
# documents (distinct-per-doc = market-basket semantics, vs
# pmi_cooccurrence's windowed adjacency). Confidence/lift from
# integer counts — one exact division each.
# ---------------------------------------------------------------------------

_AR_DOCS = 2000
_AR_MINC = 300

_AF03_ORACLE = rf"""
WITH items AS (
  SELECT DISTINCT doc_id AS tx, w AS it
  FROM (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents WHERE doc_id < {_AR_DOCS})
  WHERE length(w) > 2
),
ntx AS (SELECT CAST(count(DISTINCT tx) AS BIGINT) AS n FROM items),
l1 AS (SELECT it, CAST(count(*) AS BIGINT) AS c FROM items
       GROUP BY it HAVING count(*) >= {_AR_MINC}),
fi AS (SELECT items.tx, items.it, l1.c FROM items JOIN l1 USING (it)),
l2 AS (
  SELECT a.it AS item_a, b.it AS item_b, a.c AS ca, b.c AS cb,
         CAST(count(*) AS BIGINT) AS cab
  FROM fi a JOIN fi b ON b.tx = a.tx AND a.it < b.it
  GROUP BY 1, 2, 3, 4 HAVING count(*) >= {_AR_MINC}
)
SELECT item_a, item_b, cab AS pair_count,
       round(cab / CAST(ntx.n AS DOUBLE), 6) AS support,
       round(cab / CAST(ca AS DOUBLE), 6) AS conf_a_to_b,
       round(cab / CAST(cb AS DOUBLE), 6) AS conf_b_to_a,
       round(ntx.n * cab / (CAST(ca AS DOUBLE) * cb), 6) AS lift
FROM l2 CROSS JOIN ntx
ORDER BY item_a, item_b
"""


@register("association_rules", _AF03_ORACLE)
def af_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.itemsets import frequent_pairs

    docs = _read(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _AR_DOCS)
    tok = (docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w"))
        .filter(F.length("w") > 2))
    return (frequent_pairs(tok, "doc_id", "w", _AR_MINC)
            .orderBy("item_a", "item_b"))


# ---------------------------------------------------------------------------
# af04 — seasonal-naive MASE per event_type over hourly buckets,
# period 24 (day-over-day). Bucket = floor(naive-epoch/3600) — the
# truncated-seconds field arithmetic composes with the hour floor, so
# both engines bucket identically; lags are ROW lags over the
# observed bucket sequence (documented operator contract).
# ---------------------------------------------------------------------------

_AF04_ORACLE = """
WITH b AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bk,
         sum(value) AS y
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, bk, y,
         lag(y, 24) OVER (PARTITION BY event_type ORDER BY bk) AS sn,
         lag(y, 1) OVER (PARTITION BY event_type ORDER BY bk) AS nv
  FROM b
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
       round(avg(abs(y - sn)), 6) AS mae_seasonal,
       round(avg(abs(y - nv)), 6) AS mae_naive,
       round(avg(abs(y - sn)) / avg(abs(y - nv)), 6) AS mase
FROM s GROUP BY event_type ORDER BY event_type
"""


@register("seasonal_naive_mase", _AF04_ORACLE)
def af_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import seasonal_naive_mase

    ev = _read(spark, sf_dir, "events")
    return (seasonal_naive_mase(ev, "event_type", "ts", "value",
                                period=24)
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# af05 — URL template mining over the canonical_url fixture's raw
# URLs: digit runs collapse to {n} after stripping query/fragment;
# per-template rollup exposes parametrized-page families (dup_ratio
# 1.0 here — every p{k} is distinct — which is itself the assertion:
# templates group, canonical forms stay distinct).
# ---------------------------------------------------------------------------

_AF05_ORACLE = f"""
WITH raw AS (SELECT o_orderkey, {_url_case('VARCHAR')} AS url FROM orders),
t AS (
  SELECT regexp_replace(regexp_replace(url, '[#?].*$', ''),
                        '[0-9]+', '{{n}}', 'g') AS template,
         regexp_replace(url, '[#?].*$', '') AS s,
         length(regexp_replace(regexp_replace(url, '[#?].*$', ''),
                               '^[a-zA-Z]+://[^/]*', ''))
           - length(replace(regexp_replace(regexp_replace(url,
                 '[#?].*$', ''), '^[a-zA-Z]+://[^/]*', ''), '/', ''))
           AS d
  FROM raw
)
SELECT template, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT s) AS BIGINT) AS n_distinct_urls,
       round(count(*) / CAST(count(DISTINCT s) AS DOUBLE), 6)
         AS dup_ratio,
       CAST(max(d) AS BIGINT) AS max_depth
FROM t GROUP BY template ORDER BY template
"""


@register("url_template_mining", _AF05_ORACLE)
def af_urltpl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import url_templates

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    raw = spark.sql(
        f"SELECT o_orderkey, {_url_case('STRING')} AS url FROM orders")
    return url_templates(raw).orderBy("template")
