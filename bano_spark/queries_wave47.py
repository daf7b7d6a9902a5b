"""Wave-47 driver queries: classical hypothesis tests as distributed
aggregates — two-sample Kolmogorov-Smirnov (bucketed ECDF prefix sums,
no global sort), chi-square independence with grid completion,
tie-corrected Kendall tau-b on per-key integer measures, and one-way
ANOVA from per-group moments. These are the significance-testing
companions to the engine's A/B surface (`welch_ttest`, CUPED, McNemar,
log-rank): KS and chi-square test distributional / categorical shift
between cohorts, Kendall ranks agreement between two per-user measures,
ANOVA generalizes the t-test to k event-type groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# bg01 — two-sample KS statistic between even/odd-user value
# distributions. Oracle is the windowed-ECDF form; the engine computes
# the identical quantity with distributed prefix sums over distinct
# values (exact integer cumulative counts on both sides).
# ---------------------------------------------------------------------------

_BG01_ORACLE = """
WITH s AS (
  SELECT value AS v, (user_id % 2 = 0) AS g
  FROM events WHERE value IS NOT NULL
),
c AS (
  SELECT v, sum(CASE WHEN g THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS c2
  FROM s GROUP BY v
),
m AS (
  SELECT v, sum(c1) OVER (ORDER BY v) AS f1,
         sum(c2) OVER (ORDER BY v) AS f2
  FROM c
),
t AS (SELECT sum(c1) AS n1, sum(c2) AS n2, count(*) AS np FROM c)
SELECT CAST(t.n1 AS BIGINT) AS n_a, CAST(t.n2 AS BIGINT) AS n_b,
       CAST(t.np AS BIGINT) AS n_points,
       round(max(abs(m.f1 * 1.0 / t.n1 - m.f2 * 1.0 / t.n2)), 6)
         AS ks_stat
FROM m, t GROUP BY t.n1, t.n2, t.np
"""


@register("ks_two_sample", _BG01_ORACLE)
def q_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import ks_two_sample

    ev = _read(spark, sf_dir, "events").withColumn(
        "treat", F.col("user_id") % 2 == 0)
    return ks_two_sample(ev, "treat", "value")


# ---------------------------------------------------------------------------
# bg02 — chi-square independence of event_type vs a 7-way user cohort,
# grid-completed so unobserved (type, cohort) cells contribute their
# expected counts.
# ---------------------------------------------------------------------------

_BG02_ORACLE = """
WITH obs AS (
  SELECT event_type AS r, user_id % 7 AS c, count(*) AS n
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT rr.r, cc.c, coalesce(o.n, 0) AS n
  FROM (SELECT DISTINCT r FROM obs) rr
  CROSS JOIN (SELECT DISTINCT c FROM obs) cc
  LEFT JOIN obs o ON o.r = rr.r AND o.c = cc.c
),
m AS (
  SELECT n, sum(n) OVER (PARTITION BY r) AS rt,
         sum(n) OVER (PARTITION BY c) AS ct
  FROM grid
),
t AS (SELECT sum(n) AS N, count(DISTINCT r) AS R,
             count(DISTINCT c) AS C FROM obs)
SELECT CAST(t.N AS BIGINT) AS n, CAST(t.R AS BIGINT) AS n_rows,
       CAST(t.C AS BIGINT) AS n_cols,
       CAST((t.R - 1) * (t.C - 1) AS BIGINT) AS dof,
       round(sum((m.n - m.rt * m.ct * 1.0 / t.N)
                 * (m.n - m.rt * m.ct * 1.0 / t.N)
                 / (m.rt * m.ct * 1.0 / t.N)), 6) AS chi2,
       round(sqrt(sum((m.n - m.rt * m.ct * 1.0 / t.N)
                      * (m.n - m.rt * m.ct * 1.0 / t.N)
                      / (m.rt * m.ct * 1.0 / t.N))
                  / (t.N * least(t.R - 1, t.C - 1))), 6) AS cramers_v
FROM m, t GROUP BY t.N, t.R, t.C
"""


@register("chi_square_independence", _BG02_ORACLE)
def q_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import chi_square_independence

    ev = _read(spark, sf_dir, "events").withColumn(
        "cohort", F.col("user_id") % 7)
    return chi_square_independence(ev, "event_type", "cohort")


# ---------------------------------------------------------------------------
# bg03 — Kendall tau-b between per-user total events and per-user click
# count (both exact integers; ties corrected on both axes). The pair
# join runs on the 150-row per-user table, not the event rows.
# ---------------------------------------------------------------------------

_BG03_ORACLE = """
WITH per AS (
  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY 1
),
p AS (
  SELECT sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0
             THEN 1 ELSE 0 END) AS c,
         sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0
             THEN 1 ELSE 0 END) AS d
  FROM per a JOIN per b ON a.k < b.k
),
tx AS (SELECT sum(t * (t - 1) / 2.0) AS tx
       FROM (SELECT count(*) AS t FROM per GROUP BY x)),
ty AS (SELECT sum(t * (t - 1) / 2.0) AS ty
       FROM (SELECT count(*) AS t FROM per GROUP BY y)),
n AS (SELECT count(*) AS n FROM per)
SELECT CAST(n.n AS BIGINT) AS n_keys, CAST(p.c AS BIGINT) AS concordant,
       CAST(p.d AS BIGINT) AS discordant,
       round((p.c - p.d)
             / sqrt((n.n * (n.n - 1) / 2.0 - tx.tx)
                    * (n.n * (n.n - 1) / 2.0 - ty.ty)), 6) AS tau_b
FROM p, tx, ty, n
"""


@register("kendall_tau_b", _BG03_ORACLE)
def q_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import kendall_tau_b

    per = (_read(spark, sf_dir, "events")
           .groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.when(F.col("event_type") == "click", 1)
                      .otherwise(0)).alias("n_clicks")))
    return kendall_tau_b(per, "user_id", "n_events", "n_clicks")


# ---------------------------------------------------------------------------
# bg04 — one-way ANOVA of value across the 5 event types. Ratio
# statistics only (F, eta-squared): raw sums of squares sit at
# magnitudes where summation-order ulps would poison the 6-dp compare.
# ---------------------------------------------------------------------------

_BG04_ORACLE = """
WITH g AS (
  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
         sum(value) AS s, sum(value * value) AS ss
  FROM events GROUP BY 1
),
a AS (
  SELECT count(*) AS k, sum(n) AS N, sum(s) AS S,
         sum(s * s / n) AS sb, sum(ss - s * s / n) AS ssw
  FROM g
)
SELECT CAST(k AS BIGINT) AS k, CAST(N AS BIGINT) AS n,
       round(((sb - S * S / N) / (k - 1)) / (ssw / (N - k)), 6)
         AS f_stat,
       round((sb - S * S / N) / ((sb - S * S / N) + ssw), 6) AS eta_sq
FROM a
"""


@register("anova_f_oneway", _BG04_ORACLE)
def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import anova_f_oneway

    return anova_f_oneway(_read(spark, sf_dir, "events"),
                          "event_type", "value")
