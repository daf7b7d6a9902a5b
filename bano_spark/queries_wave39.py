"""Wave-39 driver queries: Nelson-Aalen cumulative hazard (the
hazard-scale companion of Kaplan-Meier on the same risk table), a
Gini decision-stump split sweep, the 2x2 odds ratio with Woolf CI,
Cohen's kappa between two heuristic quality raters, and weighted
mean-center drift per period (center-of-gravity migration).

Reference anchors: Nelson-Aalen completes the survival arm; the
stump/OR/kappa trio closes the classifier-evaluation family
(threshold_sweep, calibration_bins) with impurity, association and
agreement views; center drift is the temporal twin of
std_dev_ellipse over the same point fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# ay01 — Nelson-Aalen cumulative hazard on the wave-31 censored-spell
# fixture: H steps at event times only; oracle folds the identical
# ascending risk table.
# ---------------------------------------------------------------------------

_AY01_ORACLE = """
WITH d AS (
  SELECT CAST((event_id % 50) + 1 AS DOUBLE) AS t,
         (event_id % 7) < 5 AS o
  FROM events
),
tot AS (SELECT count(*) AS n FROM d),
rt AS (
  SELECT t, sum(CASE WHEN o THEN 1 ELSE 0 END) AS d,
         sum(CASE WHEN o THEN 0 ELSE 1 END) AS c
  FROM d GROUP BY t
),
ordered AS (
  SELECT t, d, c,
         sum(d + c) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev
  FROM rt
),
risk AS (
  SELECT t, d, c, tot.n - coalesce(prev, 0) AS nrisk
  FROM ordered CROSS JOIN tot
),
f AS (
  SELECT list(t ORDER BY t) AS ts,
         list(CAST(d AS DOUBLE) / nrisk ORDER BY t) AS hs,
         list(nrisk ORDER BY t) AS ns, list(d ORDER BY t) AS ds
  FROM risk
),
rows_ AS (
  SELECT unnest(generate_series(1, len(ts))) AS i, ts, hs, ns, ds
  FROM f
)
SELECT ts[i] AS duration, CAST(ns[i] AS BIGINT) AS n_risk,
       CAST(ds[i] AS BIGINT) AS n_events,
       round(list_reduce(list_prepend(CAST(0 AS DOUBLE), hs[1:i]),
                         (a, x) -> a + x), 6) AS cum_hazard
FROM rows_ WHERE ds[i] > 0 ORDER BY duration
"""


@register("nelson_aalen_hazard", _AY01_ORACLE)
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import nelson_aalen_hazard

    ev = _read(spark, sf_dir, "events").select(
        ((F.col("event_id") % 50) + 1).cast("double").alias("duration"),
        ((F.col("event_id") % 7) < 5).alias("observed"))
    return nelson_aalen_hazard(ev).orderBy("duration")


# ---------------------------------------------------------------------------
# ay02 — Gini stump sweep of the hashed-classifier score against the
# length label at six candidate thresholds.
# ---------------------------------------------------------------------------

_AY02_TS = [-0.2, -0.1, -0.05, 0.0, 0.05, 0.1]

_AY02_SCORED = """
d AS (
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
  SELECT s.doc_id, s.score, len(d.t) >= 30 AS label
  FROM scored s JOIN d ON d.doc_id = s.doc_id
)"""

_AY02_ORACLE = f"""
WITH {_AY02_SCORED},
th(threshold) AS (VALUES {", ".join(
    f"(CAST({t} AS DOUBLE))" for t in _AY02_TS)}),
agg AS (
  SELECT th.threshold,
         CAST(sum(CASE WHEN score >= th.threshold THEN 1 ELSE 0 END)
              AS DOUBLE) AS nr,
         CAST(sum(CASE WHEN score >= th.threshold AND label
                       THEN 1 ELSE 0 END) AS DOUBLE) AS pr,
         CAST(sum(CASE WHEN score < th.threshold THEN 1 ELSE 0 END)
              AS DOUBLE) AS nl,
         CAST(sum(CASE WHEN score < th.threshold AND label
                       THEN 1 ELSE 0 END) AS DOUBLE) AS pl
  FROM lab CROSS JOIN th GROUP BY th.threshold
)
SELECT threshold, CAST(nl AS BIGINT) AS n_left,
       CAST(nr AS BIGINT) AS n_right,
       CAST(pl AS BIGINT) AS pos_left, CAST(pr AS BIGINT) AS pos_right,
       round(CASE WHEN nl > 0
                  THEN (nl / (nl + nr)) * (2 * (pl / nl) * (1 - pl / nl))
                  ELSE 0.0 END
           + CASE WHEN nr > 0
                  THEN (nr / (nl + nr)) * (2 * (pr / nr) * (1 - pr / nr))
                  ELSE 0.0 END, 6) AS weighted_gini
FROM agg ORDER BY threshold
"""


def _ay02_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    return scored.join(lab, "doc_id")


@register("gini_stump_split", _AY02_ORACLE)
def q_gini_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import gini_stump_split

    return (gini_stump_split(_ay02_scored(spark, sf_dir),
                             "score", "label", _AY02_TS)
            .orderBy("threshold"))


# ---------------------------------------------------------------------------
# ay03 — odds ratio of (long document) by (source parity) with the
# Woolf CI.
# ---------------------------------------------------------------------------

_AY03_ORACLE = """
WITH u AS (
  SELECT n_chars >= 200 AS outcome,
         CAST(substr(source, 4, 10) AS INTEGER) % 2 = 0 AS exposure
  FROM documents
),
a AS (
  SELECT CAST(sum(CASE WHEN exposure AND outcome THEN 1 ELSE 0 END)
              AS DOUBLE) AS a,
         CAST(sum(CASE WHEN exposure AND NOT outcome THEN 1 ELSE 0 END)
              AS DOUBLE) AS b,
         CAST(sum(CASE WHEN NOT exposure AND outcome THEN 1 ELSE 0 END)
              AS DOUBLE) AS c,
         CAST(sum(CASE WHEN NOT exposure AND NOT outcome
                       THEN 1 ELSE 0 END) AS DOUBLE) AS d
  FROM u
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
       round(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
                  THEN (a * d) / (b * c) END, 6) AS odds_ratio,
       round(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
                  THEN exp(ln((a * d) / (b * c))
                           - 1.96 * sqrt(1 / a + 1 / b + 1 / c + 1 / d))
             END, 6) AS ci_low,
       round(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
                  THEN exp(ln((a * d) / (b * c))
                           + 1.96 * sqrt(1 / a + 1 / b + 1 / c + 1 / d))
             END, 6) AS ci_high
FROM a
"""


@register("odds_ratio_2x2", _AY03_ORACLE)
def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import odds_ratio_2x2

    docs = _read(spark, sf_dir, "documents").select(
        (F.col("n_chars") >= 200).alias("outcome"),
        (F.substring("source", 4, 10).cast("int") % 2 == 0)
        .alias("exposure"))
    return odds_ratio_2x2(docs, "exposure", "outcome")


# ---------------------------------------------------------------------------
# ay04 — Cohen's kappa between two heuristic raters: the hashed
# classifier's sign vs the length label.
# ---------------------------------------------------------------------------

_AY04_ORACLE = f"""
WITH {_AY02_SCORED},
r AS (SELECT score >= 0 AS ra, label AS rb FROM lab),
a AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS DOUBLE)
           AS tt,
         CAST(sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS DOUBLE)
           AS tf,
         CAST(sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS DOUBLE)
           AS ft,
         CAST(sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END)
              AS DOUBLE) AS ff
  FROM r
)
SELECT CAST(n AS BIGINT) AS n,
       round((tt + ff) / n, 6) AS po,
       round(((tt + tf) / n) * ((tt + ft) / n)
             + (1 - (tt + tf) / n) * (1 - (tt + ft) / n), 6) AS pe,
       round(CASE WHEN ((tt + tf) / n) * ((tt + ft) / n)
                     + (1 - (tt + tf) / n) * (1 - (tt + ft) / n) <> 1.0
                  THEN ((tt + ff) / n
                        - (((tt + tf) / n) * ((tt + ft) / n)
                           + (1 - (tt + tf) / n) * (1 - (tt + ft) / n)))
                       / (1 - (((tt + tf) / n) * ((tt + ft) / n)
                               + (1 - (tt + tf) / n)
                                 * (1 - (tt + ft) / n))) END, 6) AS kappa
FROM a
"""


@register("cohens_kappa", _AY04_ORACLE)
def q_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import cohens_kappa

    scored = _ay02_scored(spark, sf_dir).select(
        (F.col("score") >= 0).alias("ra"), F.col("label").alias("rb"))
    return cohens_kappa(scored, "ra", "rb")


# ---------------------------------------------------------------------------
# ay05 — weighted mean-center drift of the dense points across four
# deterministic periods (id hash), weights = integer demand.
# ---------------------------------------------------------------------------

def _ay05_points(dialect: str) -> str:
    base = synth.dense_points_select_sql(dialect)
    d = " div " if dialect == "spark" else " // "
    return (f"SELECT event_id, x, y, (event_id{d}19) % 4 AS period, "
            f"CAST(1 + event_id % 3 AS DOUBLE) AS w FROM ({base})")


_AY05_ORACLE = f"""
WITH p AS ({_ay05_points('duckdb')}),
g AS (
  SELECT period, sum(w) AS wt, sum(w * x) AS sx, sum(w * y) AS sy
  FROM p GROUP BY period
),
c AS (
  SELECT period, CAST(wt AS BIGINT) AS n_weight,
         sx / wt AS cx, sy / wt AS cy,
         sx / wt - lag(sx / wt) OVER (ORDER BY period) AS dx,
         sy / wt - lag(sy / wt) OVER (ORDER BY period) AS dy
  FROM g
)
SELECT period, n_weight, round(cx, 6) AS center_x,
       round(cy, 6) AS center_y,
       round(sqrt(dx * dx + dy * dy), 6) AS drift_dist,
       round(atan2(dy, dx), 6) AS drift_bearing
FROM c ORDER BY period
"""


@register("mean_center_drift", _AY05_ORACLE)
def q_center_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import mean_center_drift

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    p = spark.sql(_ay05_points("spark"))
    return (mean_center_drift(p, w_col="w")
            .orderBy("period"))
