"""Wave-10 driver queries: the HyperLogLog sketch family (per-group
estimate + exact comparison, and register-wise merge proved against a
direct computation), Theil-Sen robust slopes next to their OLS twins
on the drifting series fixture, the Clark-Evans nearest-neighbor
aggregation index over the clustered point fixture, and Poisson
change-rate recrawl scheduling over synthetic capture histories.

Reference anchors: the sketch family generalizes the reference's
exact count(distinct ...) batch stats (bano/sql templates) to the
10^12-row regime; recrawl scheduling plays the role of the
reference's update ordering (bano/cron) driven by observed change
rates rather than a fixed calendar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.operators.sketches import (
    hll_estimate_col, hll_merge, hll_oracle_cte, hll_sketch)
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# z01 — HyperLogLog distinct users per event type (p=6, m=64), next
# to the exact count. Per-type user cardinality (~150) sits in the
# linear-counting correction band — the small-range branch is the one
# exercised here; z02 exercises the raw estimator. The oracle replays
# the identical 60-bit md5 layout via hll_oracle_cte (one generator,
# two engines).
# ---------------------------------------------------------------------------

_Z01_ORACLE = f"""
WITH {hll_oracle_cte("SELECT event_type, user_id FROM events",
                     "event_type", "user_id", 6)},
ex AS (SELECT event_type,
              CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
       FROM events GROUP BY event_type)
SELECT ex.event_type, ex.exact_distinct,
       round(hll_out.hll_estimate, 6) AS hll_estimate
FROM hll_out JOIN ex ON ex.event_type = hll_out.grp
ORDER BY ex.event_type
"""


@register("hll_distinct_users", _Z01_ORACLE)
def z_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    sk = hll_sketch(ev, "event_type", "user_id", p=6)
    est = sk.select("event_type",
                    F.round(hll_estimate_col("registers", 6), 6)
                    .alias("hll_estimate"))
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_distinct")))
    return (est.join(exact, "event_type")
            .select("event_type", "exact_distinct", "hll_estimate")
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# z02 — HLL mergeability: per-type sketches over event_id are merged
# register-wise (hll_merge) and the merged estimate must equal the
# direct single-sketch estimate over all ids — the property that lets
# 10^5 partition-local sketches collapse to one m-byte array instead
# of re-reading the data. 10k distinct ids at m=64 exercises the RAW
# alpha m^2 / Z branch. The oracle computes the direct sketch once
# (merge == direct holds by max-associativity; the engine's merge
# path has to reproduce it).
# ---------------------------------------------------------------------------

_Z02_ORACLE = f"""
WITH {hll_oracle_cte("SELECT 1 AS g, event_id FROM events",
                     "g", "event_id", 6)},
ex AS (SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS exact_distinct
       FROM events)
SELECT ex.exact_distinct,
       round(hll_out.hll_estimate, 6) AS merged_estimate,
       round(hll_out.hll_estimate, 6) AS direct_estimate
FROM hll_out CROSS JOIN ex
"""


@register("hll_union_merge", _Z02_ORACLE)
def z_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    per_type = hll_sketch(ev, "event_type", "event_id", p=6)
    merged = hll_merge(per_type, 6).select(
        F.round(hll_estimate_col("registers", 6), 6)
        .alias("merged_estimate"))
    direct = hll_sketch(ev.withColumn("_g", F.lit(1)), "_g",
                        "event_id", p=6).select(
        F.round(hll_estimate_col("registers", 6), 6)
        .alias("direct_estimate"))
    exact = ev.agg(F.countDistinct("event_id").alias("exact_distinct"))
    return (exact.crossJoin(F.broadcast(merged))
            .crossJoin(F.broadcast(direct))
            .select("exact_distinct", "merged_estimate",
                    "direct_estimate"))


# ---------------------------------------------------------------------------
# z03 — Theil-Sen robust slope vs OLS per user on the drifting series
# fixture: the +300 level shift after observation 50 drags the OLS
# slope up; the pairwise-median slope resists (29.3% breakdown). The
# oracle affords the same O(n_k^2) pair join; medians are exact
# interpolated percentiles in both engines.
# ---------------------------------------------------------------------------

_Z03_ORACLE = f"""
WITH s AS ({synth.series_select_sql('duckdb')}),
p AS (
  SELECT a.user_id, (b.v - a.v) / (b.seq - a.seq) AS sl
  FROM s a JOIN s b ON b.user_id = a.user_id AND a.seq < b.seq
),
ts AS (SELECT user_id, CAST(quantile_cont(sl, 0.5) AS DOUBLE) AS theil,
              CAST(count(*) AS BIGINT) AS n_pairs
       FROM p GROUP BY user_id),
o AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
             (sum(seq * v) - sum(seq) * sum(v) / count(*))
             / (sum(seq * seq) - sum(seq) * sum(seq) * 1.0 / count(*))
             AS ols
      FROM s GROUP BY user_id)
SELECT o.user_id, o.n_obs, ts.n_pairs,
       round(ts.theil, 6) AS theil_sen_slope,
       round(o.ols, 6) AS ols_slope
FROM ts JOIN o ON o.user_id = ts.user_id
ORDER BY o.user_id
"""


@register("theil_sen_slope", _Z03_ORACLE)
def z_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import ols_slope, theil_sen

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    s = spark.sql(synth.series_select_sql("spark"))
    robust = theil_sen(s, "user_id", "seq", "v")
    ols = ols_slope(s, "user_id", "seq", "v")
    return (robust.join(ols, "user_id")
            .select("user_id", "n_obs", "n_pairs",
                    F.round("theil_sen_slope", 6).alias("theil_sen_slope"),
                    F.round("ols_slope", 6).alias("ols_slope"))
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# z04 — Clark-Evans aggregation index over the clustered dense-point
# fixture: R < 1 says clustered (the fixture is, by construction —
# the same signal Ripley's K reads as a curve, reduced to one
# dimensionless statistic + z-score). Engine NN distances are EXACT
# via the doubling-cell ring join; the oracle affords the O(n^2) min.
# ---------------------------------------------------------------------------

_Z04_ORACLE = f"""
WITH d AS ({synth.dense_points_select_sql('duckdb')}),
nn AS (
  SELECT a.event_id,
         min(sqrt((a.x - b.x) * (a.x - b.x)
                  + (a.y - b.y) * (a.y - b.y))) AS nnd
  FROM d a JOIN d b ON a.event_id <> b.event_id
  GROUP BY a.event_id
),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n_points, avg(nnd) AS mean_nn
        FROM nn)
SELECT n_points,
       round(mean_nn, 6) AS mean_nn,
       round(0.5 * sqrt(16000000.0 / n_points), 6) AS expected_nn,
       round(mean_nn / (0.5 * sqrt(16000000.0 / n_points)), 6) AS r_index,
       round((mean_nn - 0.5 * sqrt(16000000.0 / n_points))
             / (0.26136 * sqrt(16000000.0) / n_points), 6) AS z_score
FROM agg
"""


@register("clark_evans_nn", _Z04_ORACLE)
def z_clark_evans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import clark_evans

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    pts = spark.sql(synth.dense_points_select_sql("spark"))
    out = clark_evans(pts, area=16_000_000.0, cell=250.0)
    return out.select("n_points",
                      F.round("mean_nn", 6).alias("mean_nn"),
                      F.round("expected_nn", 6).alias("expected_nn"),
                      F.round("r_index", 6).alias("r_index"),
                      F.round("z_score", 6).alias("z_score"))


# ---------------------------------------------------------------------------
# z05 — recrawl scheduling: per-page Poisson change-rate MLE from the
# capture history (changes between consecutive captures / observed
# span) and the staleness priority rate x age = expected changes
# missed since the last capture — the freshness ordering of the next
# crawl wave.
# ---------------------------------------------------------------------------

_Z05_NOW = "2024-02-15 00:00:00"

_Z05_ORACLE = f"""
WITH c AS ({synth.captures_select_sql('duckdb')}),
w AS (
  SELECT page_key, ts, version,
         lag(version) OVER (PARTITION BY page_key
                            ORDER BY ts, event_id) AS pv
  FROM c
),
per AS (
  SELECT page_key, CAST(count(*) AS BIGINT) AS n_captures,
         CAST(sum(CASE WHEN pv IS NOT NULL AND version <> pv
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
         min(ts) AS f, max(ts) AS l
  FROM w GROUP BY page_key
),
r AS (
  SELECT page_key, n_captures, n_changes,
         CASE WHEN (epoch_us(l) - epoch_us(f)) / 86400000000.0 > 0
              THEN n_changes
                   / ((epoch_us(l) - epoch_us(f)) / 86400000000.0)
              ELSE 0.0 END AS rate,
         (epoch_us(TIMESTAMP '{_Z05_NOW}') - epoch_us(l))
             / 86400000000.0 AS age
  FROM per
)
SELECT page_key, n_captures, n_changes,
       round(rate, 6) AS change_rate_per_day,
       round(age, 6) AS age_days,
       round(rate * age, 6) AS priority
FROM r ORDER BY page_key
"""


@register("recrawl_priority", _Z05_ORACLE)
def z_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.crawl import change_rate

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    caps = spark.sql(synth.captures_select_sql("spark"))
    out = change_rate(caps, _Z05_NOW,
                      order_cols=[F.col("ts"), F.col("event_id")])
    return (out.select("page_key", "n_captures", "n_changes",
                       F.round("change_rate_per_day", 6)
                       .alias("change_rate_per_day"),
                       F.round("age_days", 6).alias("age_days"),
                       F.round("priority", 6).alias("priority"))
            .orderBy("page_key"))
