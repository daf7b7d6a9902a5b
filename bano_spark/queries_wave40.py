"""Wave-40 driver queries: two-sample log-rank test (the inferential
arm of the survival family), Hellinger distance between source
unigram distributions, Wald-Wolfowitz runs tests per host, McNemar's
paired-classifier test, and cumulative gains bins for the quality
classifier.

Reference anchors: log-rank closes KM/Nelson-Aalen with a test;
Hellinger is the bounded metric companion of source_kl; runs tests
screen per-host fetch-outcome streams; McNemar/gains complete the
classifier-evaluation family (threshold_sweep, calibration, kappa,
stump).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.queries_wave39 import _AY02_SCORED, _ay02_scored
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# az01 — log-rank test between two planted spell groups: group 1 gets
# systematically longer durations, so chi2 is large.
# ---------------------------------------------------------------------------

_AZ01_ORACLE = """
WITH d AS (
  SELECT CAST((event_id % 50) + 1
              + CASE WHEN user_id % 2 = 0 THEN 10 ELSE 0 END
              AS DOUBLE) AS t,
         (event_id % 7) < 5 AS o,
         user_id % 2 = 0 AS g
  FROM events
),
tot AS (
  SELECT CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM d
),
rt AS (
  SELECT t,
         sum(CASE WHEN g AND o THEN 1 ELSE 0 END) AS d1,
         sum(CASE WHEN g AND NOT o THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN NOT g AND o THEN 1 ELSE 0 END) AS d2,
         sum(CASE WHEN NOT g AND NOT o THEN 1 ELSE 0 END) AS c2
  FROM d GROUP BY t
),
pre AS (
  SELECT t, d1, d2,
         coalesce(sum(d1 + c1) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS r1,
         coalesce(sum(d2 + c2) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS r2
  FROM rt
),
terms AS (
  SELECT CAST(d1 AS DOUBLE) AS d1,
         CAST(tot.n1 - r1 AS DOUBLE) AS a1,
         CAST(tot.n2 - r2 AS DOUBLE) AS a2,
         CAST(d1 + d2 AS DOUBLE) AS dd
  FROM pre CROSS JOIN tot
  WHERE d1 + d2 > 0
),
agg AS (
  SELECT sum(d1) AS o1,
         sum(dd * a1 / (a1 + a2)) AS e1,
         sum(CASE WHEN a1 + a2 > 1
                  THEN dd * (a1 / (a1 + a2)) * (a2 / (a1 + a2))
                       * (a1 + a2 - dd) / (a1 + a2 - 1)
                  ELSE 0.0 END) AS v
  FROM terms
)
SELECT tot.n1, tot.n2, CAST(agg.o1 AS BIGINT) AS o1,
       round(agg.e1, 6) AS e1,
       round((agg.o1 - agg.e1) * (agg.o1 - agg.e1) / agg.v, 6) AS chi2
FROM agg CROSS JOIN tot
"""


@register("log_rank_test", _AZ01_ORACLE)
def q_log_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import log_rank_test

    ev = _read(spark, sf_dir, "events").select(
        ((F.col("event_id") % 50) + 1
         + F.when(F.col("user_id") % 2 == 0, 10).otherwise(0))
        .cast("double").alias("duration"),
        ((F.col("event_id") % 7) < 5).alias("observed"),
        (F.col("user_id") % 2 == 0).alias("grp"))
    return log_rank_test(ev)


# ---------------------------------------------------------------------------
# az02 — Hellinger / Bhattacharyya between source unigram
# distributions.
# ---------------------------------------------------------------------------

_AZ02_ORACLE = """
WITH t AS (
  SELECT source AS s,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
),
cnt AS (SELECT s, w, CAST(count(*) AS DOUBLE) AS c
        FROM t WHERE w <> '' GROUP BY s, w),
tot AS (SELECT s, sum(c) AS n FROM cnt GROUP BY s),
p AS (SELECT cnt.s, cnt.w, cnt.c / tot.n AS p
      FROM cnt JOIN tot ON tot.s = cnt.s),
pairs AS (
  SELECT a.s AS source_a, b.s AS source_b,
         sum(sqrt(a.p * b.p)) AS bc
  FROM p a JOIN p b ON b.w = a.w AND a.s < b.s
  GROUP BY 1, 2
)
SELECT source_a, source_b, round(bc, 6) AS bhattacharyya,
       round(sqrt(greatest(1 - bc, CAST(0 AS DOUBLE))), 6) AS hellinger
FROM pairs ORDER BY source_a, source_b
"""


@register("hellinger_source_distance", _AZ02_ORACLE)
def q_hellinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import hellinger_source_distance

    docs = _read(spark, sf_dir, "documents")
    return (hellinger_source_distance(docs)
            .orderBy("source_a", "source_b"))


# ---------------------------------------------------------------------------
# az03 — runs test per host-decile on the above/below-median-ish flag
# (value > 50) ordered by time.
# ---------------------------------------------------------------------------

_AZ03_ORACLE = """
WITH d AS (
  SELECT user_id % 10 AS k, value > 50 AS b, ts, event_id,
         (value > 50) <> lag(value > 50) OVER (
           PARTITION BY user_id % 10 ORDER BY ts, event_id) AS chg
  FROM events
),
g AS (
  SELECT k,
         CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         CAST(sum(CASE WHEN NOT b THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
         CAST(sum(CASE WHEN chg THEN 1 ELSE 0 END) + 1 AS DOUBLE)
           AS runs
  FROM d GROUP BY k
)
SELECT k, CAST(n1 AS BIGINT) AS n_true, CAST(n2 AS BIGINT) AS n_false,
       CAST(runs AS BIGINT) AS n_runs,
       round(1 + 2 * n1 * n2 / (n1 + n2), 6) AS expected_runs,
       round(CASE WHEN (2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2)))
                       / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)) > 0
                  THEN (runs - (1 + 2 * n1 * n2 / (n1 + n2)))
                       / sqrt((2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2)))
                              / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)))
             END, 6) AS z
FROM g ORDER BY k
"""


@register("runs_test", _AZ03_ORACLE)
def q_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import runs_test

    ev = _read(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("k"),
        (F.col("value") > 50).alias("b"), "ts", "event_id")
    return runs_test(ev, "k", "b", ["ts", "event_id"]).orderBy("k")


# ---------------------------------------------------------------------------
# az04 — McNemar's test between the classifier's sign and the length
# label (same raters as cohens_kappa — agreement vs direction).
# ---------------------------------------------------------------------------

_AZ04_ORACLE = f"""
WITH {_AY02_SCORED},
r AS (SELECT score >= 0 AS ra, label AS rb FROM lab),
a AS (
  SELECT CAST(sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END)
              AS DOUBLE) AS b,
         CAST(sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END)
              AS DOUBLE) AS c
  FROM r
)
SELECT CAST(b AS BIGINT) AS b, CAST(c AS BIGINT) AS c,
       round(CASE WHEN b + c > 0
                  THEN (b - c) * (b - c) / (b + c) END, 6) AS chi2
FROM a
"""


@register("mcnemar_test", _AZ04_ORACLE)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import mcnemar_test

    scored = _ay02_scored(spark, sf_dir).select(
        (F.col("score") >= 0).alias("ra"), F.col("label").alias("rb"))
    return mcnemar_test(scored, "ra", "rb")


# ---------------------------------------------------------------------------
# az05 — cumulative gains bins for the classifier score (20 bins over
# [-1, 1), best-first cumulation via the band fold).
# ---------------------------------------------------------------------------

_AZ05_ORACLE = f"""
WITH {_AY02_SCORED},
bands AS (
  SELECT CAST(least(greatest(floor((score - (-1.0)) / 0.1), 0), 19)
              AS INTEGER) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM lab GROUP BY 1
),
f AS (
  SELECT list(bin ORDER BY bin DESC) AS bs,
         list(n ORDER BY bin DESC) AS ns,
         list(pos ORDER BY bin DESC) AS ps
  FROM bands
),
rows_ AS (
  SELECT unnest(generate_series(1, len(bs))) AS i, bs, ns, ps FROM f
)
SELECT CAST(bs[i] AS INTEGER) AS bin, CAST(ns[i] AS BIGINT) AS n,
       CAST(ps[i] AS BIGINT) AS pos,
       round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), ns[1:i]),
                              (a, x) -> a + x) AS DOUBLE)
             / list_reduce(list_prepend(CAST(0 AS BIGINT), ns),
                           (a, x) -> a + x), 6) AS cum_inspected_share,
       round(CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), ps),
                                   (a, x) -> a + x) > 0
                  THEN CAST(list_reduce(
                         list_prepend(CAST(0 AS BIGINT), ps[1:i]),
                         (a, x) -> a + x) AS DOUBLE)
                       / list_reduce(list_prepend(CAST(0 AS BIGINT), ps),
                                     (a, x) -> a + x) END, 6)
         AS cum_positive_capture
FROM rows_ ORDER BY bin DESC
"""


@register("gain_curve_bins", _AZ05_ORACLE)
def q_gain_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import gain_curve_bins

    scored = _ay02_scored(spark, sf_dir)
    return (gain_curve_bins(scored, "score", "label", n_bins=20)
            .orderBy(F.desc("bin")))
