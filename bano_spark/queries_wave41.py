"""Wave-41 driver queries: Brier score + expected calibration error
(the proper-scoring and one-number calibration summaries over the
quality classifier), Theil T inequality per host decile, per-document
OOV rate against the corpus top-k vocabulary, and per-key
VaR/expected shortfall (tail risk).

Reference anchors: Brier/ECE close the classifier-evaluation family;
Theil T is the decomposable companion of host_gini; OOV is the
tokenizer-coverage triage beside Chao1/Heaps; VaR/ES is the tail
summary behind per-host crawl budgets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.queries_wave39 import _AY02_SCORED, _ay02_scored
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# ba01 — Brier score of the classifier mapped to probabilities
# p = (score + 1) / 2 against the length label.
# ---------------------------------------------------------------------------

_BA01_ORACLE = f"""
WITH {_AY02_SCORED},
r AS (SELECT (score + 1) / 2 AS p,
             CASE WHEN label THEN 1.0 ELSE 0.0 END AS y FROM lab)
SELECT CAST(count(*) AS BIGINT) AS n,
       round(avg(y), 6) AS base_rate,
       round(avg((p - y) * (p - y)), 6) AS brier,
       round(avg(y) * (1 - avg(y)), 6) AS brier_ref
FROM r
"""


@register("brier_score", _BA01_ORACLE)
def q_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import brier_score

    scored = _ay02_scored(spark, sf_dir).select(
        ((F.col("score") + 1) / 2).alias("p"), "label")
    return brier_score(scored, "p", "label")


# ---------------------------------------------------------------------------
# ba02 — Theil T of event values per user decile (x > 0 only).
# ---------------------------------------------------------------------------

_BA02_ORACLE = """
WITH b AS (
  SELECT user_id % 10 AS k, CAST(value AS DOUBLE) AS x
  FROM events WHERE value > 0
),
mu AS (SELECT k, avg(x) AS mu, count(*) AS n FROM b GROUP BY k)
SELECT b.k, CAST(any_value(mu.n) AS BIGINT) AS n,
       round(any_value(mu.mu), 6) AS mean_value,
       round(avg((b.x / mu.mu) * ln(b.x / mu.mu)), 6) AS theil_t
FROM b JOIN mu ON mu.k = b.k
GROUP BY b.k ORDER BY b.k
"""


@register("theil_t_index", _BA02_ORACLE)
def q_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import theil_t_index

    ev = _read(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("k"), "value")
    return theil_t_index(ev, "k", "value").orderBy("k")


# ---------------------------------------------------------------------------
# ba03 — expected calibration error of the classifier probabilities.
# ---------------------------------------------------------------------------

_BA03_ORACLE = f"""
WITH {_AY02_SCORED},
r AS (SELECT (score + 1) / 2 AS p,
             CASE WHEN label THEN 1.0 ELSE 0.0 END AS y FROM lab),
bins AS (
  SELECT CAST(least(greatest(floor(p / 0.1), 0), 9) AS INTEGER) AS b,
         CAST(count(*) AS DOUBLE) AS n, avg(p) AS conf, avg(y) AS acc
  FROM r GROUP BY 1
),
tot AS (SELECT sum(n) AS t FROM bins)
SELECT CAST(any_value(tot.t) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_bins_used,
       round(sum((bins.n / tot.t) * abs(bins.acc - bins.conf)), 6)
         AS ece
FROM bins CROSS JOIN tot
"""


@register("expected_calibration_error", _BA03_ORACLE)
def q_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import expected_calibration_error

    scored = _ay02_scored(spark, sf_dir).select(
        ((F.col("score") + 1) / 2).alias("p"), "label")
    return expected_calibration_error(scored, "p", "label")


# ---------------------------------------------------------------------------
# ba04 — per-document OOV rate vs the corpus top-20 vocabulary.
# ---------------------------------------------------------------------------

_BA04_ORACLE = """
WITH t AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
),
t2 AS (SELECT doc_id, w FROM t WHERE w <> ''),
vocab AS (
  SELECT w FROM (SELECT w, count(*) AS c FROM t2 GROUP BY w
                 ORDER BY c DESC, w LIMIT 20)
)
SELECT t2.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS oov_rate
FROM t2 LEFT JOIN vocab ON vocab.w = t2.w
GROUP BY t2.doc_id ORDER BY t2.doc_id
"""


@register("oov_rate", _BA04_ORACLE)
def q_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import oov_rate

    docs = _read(spark, sf_dir, "documents")
    return oov_rate(docs, 20).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ba05 — VaR(0.95) and expected shortfall of event values per user
# decile (ascending rank; tiebreak event_id).
# ---------------------------------------------------------------------------

_BA05_ORACLE = """
WITH d AS (
  SELECT user_id % 10 AS k, CAST(value AS DOUBLE) AS v, event_id,
         row_number() OVER (PARTITION BY user_id % 10
                            ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id % 10) AS n
  FROM events
),
t AS (SELECT *, CAST(ceil(0.95 * n) AS BIGINT) AS kk FROM d)
SELECT k, CAST(any_value(n) AS BIGINT) AS n,
       round(max(CASE WHEN rn = kk THEN v END), 6) AS var_q,
       round(avg(CASE WHEN rn >= kk THEN v END), 6)
         AS expected_shortfall
FROM t GROUP BY k ORDER BY k
"""


@register("var_expected_shortfall", _BA05_ORACLE)
def q_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import var_expected_shortfall

    ev = _read(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("k"), "value", "event_id")
    return (var_expected_shortfall(ev, "k", "value", 0.95,
                                   tiebreak="event_id")
            .orderBy("k"))
