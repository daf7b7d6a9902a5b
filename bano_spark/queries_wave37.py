"""Wave-37 driver queries: Chao1 vocabulary-richness estimation,
Gumbel block-maxima extremes with 1-in-100 return levels, per-group
Spearman rank correlation, CUPED variance-reduced A/B deltas, and
classifier calibration bins.

Reference anchors: Chao1 joins Good-Turing/Heaps in the corpus-
coverage family; Gumbel extremes summarize per-key burst risk the
way emerging-hotspots summarizes spatial bursts; Spearman/CUPED
extend the Welch/bootstrap statistics arm; calibration bins pair
with threshold_sweep on the wave-29 quality classifier.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# aw01 — Chao1 richness of the document vocabulary.
# ---------------------------------------------------------------------------

_AW01_ORACLE = """
WITH t AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
),
c AS (SELECT w, count(*) AS c FROM t WHERE w <> '' GROUP BY w),
a AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_vocab,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS f1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS f2
  FROM c
)
SELECT n_tokens, n_vocab, CAST(f1 AS BIGINT) AS f1,
       CAST(f2 AS BIGINT) AS f2,
       round(CASE WHEN f2 > 0 THEN n_vocab + f1 * f1 / (2 * f2)
                  ELSE n_vocab + f1 * (f1 - 1) / (2 * (f2 + 1)) END, 6)
         AS chao1
FROM a
"""


@register("chao1_richness", _AW01_ORACLE)
def q_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import chao1_richness

    docs = _read(spark, sf_dir, "documents")
    return chao1_richness(docs)


# ---------------------------------------------------------------------------
# aw02 — Gumbel block maxima per user decile: daily maxima, moment
# fit, 1-in-100-block return level.
# ---------------------------------------------------------------------------

_G = 0.5772156649015329
_SQRT6_PI = math.sqrt(6.0) / math.pi

_AW02_ORACLE = f"""
WITH bm AS (
  SELECT user_id % 10 AS k, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS b,
         max(CAST(value AS DOUBLE)) AS m
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_blocks,
         avg(m) AS mean, stddev_samp(m) AS sd
  FROM bm GROUP BY k HAVING count(*) >= 2
)
SELECT k, n_blocks,
       round(mean - {_G!r} * (sd * {_SQRT6_PI!r}), 6) AS gumbel_mu,
       round(sd * {_SQRT6_PI!r}, 6) AS gumbel_beta,
       round((mean - {_G!r} * (sd * {_SQRT6_PI!r}))
             - (sd * {_SQRT6_PI!r}) * ln(-ln(0.99)), 6)
         AS return_level_100
FROM g ORDER BY k
"""


@register("gumbel_block_maxima", _AW02_ORACLE)
def q_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import gumbel_block_maxima

    ev = _read(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("k"),
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("b"),
        "value")
    return gumbel_block_maxima(ev, "k", "b", "value").orderBy("k")


# ---------------------------------------------------------------------------
# aw03 — Spearman rho per event type between value and a correlated
# companion (value + id-hash noise): monotone association on exact
# integer ranks (tiebreak event_id — no average ranks).
# ---------------------------------------------------------------------------

def _aw03_pairs(dialect: str) -> str:
    return ("SELECT event_type, event_id, value AS x, "
            "value + (event_id * 2654435761) % 500 AS y FROM events")


_AW03_ORACLE = f"""
WITH p AS ({_aw03_pairs('duckdb')}),
r AS (
  SELECT event_type,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY x, event_id) AS DOUBLE) AS rx,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY y, event_id) AS DOUBLE) AS ry
  FROM p
),
a AS (
  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
         sum(rx) AS sx, sum(ry) AS sy, sum(rx * ry) AS sxy,
         sum(rx * rx) AS sxx, sum(ry * ry) AS syy
  FROM r GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       round((sxy / n - (sx / n) * (sy / n))
             / sqrt((sxx / n - (sx / n) * (sx / n))
                    * (syy / n - (sy / n) * (sy / n))), 6)
         AS spearman_rho
FROM a ORDER BY event_type
"""


@register("spearman_by_group", _AW03_ORACLE)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import spearman_by_group

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    p = spark.sql(_aw03_pairs("spark"))
    return (spearman_by_group(p, "event_type", "x", "y",
                              tiebreak="event_id")
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# aw04 — CUPED-adjusted A/B delta: treat = even users, covariate =
# value + id-hash noise (correlated with the metric, as a real
# pre-period covariate would be).
# ---------------------------------------------------------------------------

def _aw04_units(dialect: str) -> str:
    return ("SELECT user_id % 2 = 0 AS treat, value AS y, "
            "value + (event_id * 40503) % 300 AS x FROM events")


_AW04_ORACLE = f"""
WITH u AS ({_aw04_units('duckdb')}),
g AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM u
),
s AS (
  SELECT (sxy / n - (sx / n) * (sy / n))
         / (sxx / n - (sx / n) * (sx / n)) AS theta,
         sx / n AS xbar,
         (sxy / n - (sx / n) * (sy / n)) * (sxy / n - (sx / n) * (sy / n))
         / ((sxx / n - (sx / n) * (sx / n))
            * (syy / n - (sy / n) * (sy / n))) AS r2
  FROM g
),
a AS (
  SELECT CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT)
           AS n_treat,
         CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ctrl,
         sum(CASE WHEN treat THEN y ELSE 0 END)
           / sum(CASE WHEN treat THEN 1 ELSE 0 END) AS mt,
         sum(CASE WHEN NOT treat THEN y ELSE 0 END)
           / sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS mc,
         sum(CASE WHEN treat THEN y - s.theta * (x - s.xbar)
                  ELSE 0 END)
           / sum(CASE WHEN treat THEN 1 ELSE 0 END) AS at,
         sum(CASE WHEN NOT treat THEN y - s.theta * (x - s.xbar)
                  ELSE 0 END)
           / sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS ac,
         any_value(s.theta) AS theta, any_value(s.r2) AS r2
  FROM u CROSS JOIN s
)
SELECT n_treat, n_ctrl, round(mt - mc, 6) AS raw_diff,
       round(at - ac, 6) AS cuped_diff, round(theta, 6) AS theta,
       round(1 - r2, 6) AS var_reduction_factor
FROM a
"""


@register("cuped_adjustment", _AW04_ORACLE)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import cuped_adjustment

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    u = spark.sql(_aw04_units("spark"))
    return cuped_adjustment(u, "treat", "y", "x")


# ---------------------------------------------------------------------------
# aw05 — calibration bins for the wave-29 hashed classifier score
# against the length label: 10 equal-width bins over [-1, 1).
# ---------------------------------------------------------------------------

_AW05_ORACLE = """
WITH d AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE doc_id % 7 = 2 AND len(trim(text)) > 0
),
uni AS (SELECT doc_id, unnest(t) AS f FROM d),
bi AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS f
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM d WHERE len(t) >= 2)
),
feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
w AS (
  SELECT CAST(b AS BIGINT) AS bucket,
         CAST((b * 37) % 128 AS DOUBLE) / 64 - 1 AS weight
  FROM (SELECT unnest(generate_series(0, 63)) AS b)
),
scored AS (
  SELECT feats.doc_id, avg(w.weight) AS score
  FROM feats JOIN w
    ON w.bucket = CAST(CAST(concat('0x', substr(md5(feats.f), 1, 8))
                            AS UBIGINT) % 64 AS BIGINT)
  GROUP BY feats.doc_id
),
lab AS (
  SELECT s.doc_id, s.score,
         CASE WHEN len(d.t) >= 30 THEN 1.0 ELSE 0.0 END AS label
  FROM scored s JOIN d ON d.doc_id = s.doc_id
)
SELECT CAST(least(greatest(floor((score - (-1.0)) / 0.2), 0), 9)
            AS INTEGER) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(score), 6) AS mean_score,
       round(avg(label), 6) AS positive_rate
FROM lab GROUP BY 1 ORDER BY bin
"""


@register("calibration_bins", _AW05_ORACLE)
def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import calibration_bins
    from bano_spark.operators.textstats import hashed_ngram_score

    docs = (_read(spark, sf_dir, "documents")
            .filter((F.col("doc_id") % 7 == 2)
                    & (F.length(F.trim("text")) > 0)))
    weights = spark.range(64).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * 37 % 128).cast("double") / 64 - 1).alias("weight"))
    scored = hashed_ngram_score(docs, weights, 64).select("doc_id", "score")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    lab = docs.select("doc_id", (F.size(toks) >= 30).alias("label"))
    return (calibration_bins(scored.join(lab, "doc_id"), "score", "label")
            .orderBy("bin"))
