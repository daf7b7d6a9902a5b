"""Wave-48 driver queries: rank-based tests and multiple-testing
control — Kruskal-Wallis H (rank ANOVA across event types),
Mann-Whitney U with tie-corrected z, Benjamini-Hochberg FDR step-up
selection over per-user p-values, and chi-square goodness-of-fit of
the event-type mix against uniform. All rank machinery runs on
distinct-value count tables with bucketed distributed prefix sums —
never a global sort or per-row rank window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# bh01 — Kruskal-Wallis H across the 5 event types. Oracle uses the
# classical window mid-rank; the engine derives identical mid-ranks
# from distinct-value counts + a distributed prefix sum.
# ---------------------------------------------------------------------------

_BH01_ORACLE = """
WITH s AS (
  SELECT event_type AS g, value AS v FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT g, rank() OVER (ORDER BY v)
           + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS mr
  FROM s
),
pg AS (SELECT g, sum(mr) AS R, count(*) AS n FROM r GROUP BY g),
t AS (SELECT sum(c * 1.0 * c * c - c) AS T
      FROM (SELECT count(*) AS c FROM s GROUP BY v)),
a AS (SELECT count(*) AS k, sum(n) AS N, sum(R * R / n) AS S FROM pg)
SELECT CAST(k AS BIGINT) AS k, CAST(N AS BIGINT) AS n,
       round(12.0 / (N * (N + 1)) * S - 3 * (N + 1), 6) AS h_stat,
       round((12.0 / (N * (N + 1)) * S - 3 * (N + 1))
             / (1 - T / (N * 1.0 * N * N - N)), 6) AS h_tie_corrected
FROM a, t
"""


@register("kruskal_wallis", _BH01_ORACLE)
def q_kw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import kruskal_wallis

    return kruskal_wallis(_read(spark, sf_dir, "events"),
                          "event_type", "value")


# ---------------------------------------------------------------------------
# bh02 — Mann-Whitney U between even/odd user cohorts with the
# tie-corrected normal z. U relates to the engine's roc_auc by
# U = AUC * n_a * n_b.
# ---------------------------------------------------------------------------

_BH02_ORACLE = """
WITH s AS (
  SELECT value AS v, (user_id % 2 = 0) AS g
  FROM events WHERE value IS NOT NULL
),
c AS (
  SELECT v, sum(CASE WHEN g THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS c2
  FROM s GROUP BY v
),
m AS (SELECT c1, c2, sum(c2) OVER (ORDER BY v) AS f2 FROM c),
t AS (SELECT sum((c1 + c2) * 1.0 * (c1 + c2) * (c1 + c2)
                - (c1 + c2)) AS T FROM c),
a AS (SELECT sum(c1 * (f2 - 0.5 * c2)) AS U,
             sum(c1) AS n1, sum(c2) AS n2 FROM m)
SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
       round(CAST(U AS DOUBLE), 6) AS u_stat,
       round((U - n1 * n2 / 2.0)
             / sqrt(n1 * n2 / 12.0
                    * ((n1 + n2 + 1)
                       - T / ((n1 + n2) * 1.0 * (n1 + n2 - 1)))), 6)
         AS z_stat
FROM a, t
"""


@register("mann_whitney_u", _BH02_ORACLE)
def q_mwu(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import mann_whitney_u

    ev = _read(spark, sf_dir, "events").withColumn(
        "treat", F.col("user_id") % 2 == 0)
    return mann_whitney_u(ev, "treat", "value")


# ---------------------------------------------------------------------------
# bh03 — BH step-up FDR over per-user synthetic p-values (Knuth-hash
# uniforms from exact integer arithmetic, identical in both engines).
# ---------------------------------------------------------------------------

_BH03_ORACLE = """
WITH pv AS (SELECT DISTINCT user_id FROM events),
p AS (
  SELECT ((user_id * 2654435761) % 1000000) / 1000000.0 AS pval FROM pv
),
c AS (SELECT pval, count(*) AS c FROM p GROUP BY pval),
cm AS (SELECT pval, sum(c) OVER (ORDER BY pval) AS f FROM c),
tot AS (SELECT count(*) AS m FROM p),
sel AS (SELECT max(cm.pval) AS thr, max(cm.f) AS nrej
        FROM cm, tot WHERE cm.pval <= cm.f * 0.1 / tot.m)
SELECT CAST(tot.m AS BIGINT) AS m,
       CAST(coalesce(sel.nrej, 0) AS BIGINT) AS n_rejected,
       round(sel.thr, 6) AS p_threshold
FROM tot, sel
"""


@register("bh_fdr_selection", _BH03_ORACLE)
def q_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import bh_fdr_selection

    p = (_read(spark, sf_dir, "events")
         .select("user_id").distinct()
         .select(((F.col("user_id") * 2654435761) % 1000000)
                 .cast("double").alias("pval"))
         .withColumn("pval", F.col("pval") / 1000000.0))
    return bh_fdr_selection(p, "pval", q=0.1)


# ---------------------------------------------------------------------------
# bh04 — chi-square goodness-of-fit of event_type counts vs uniform.
# ---------------------------------------------------------------------------

_BH04_ORACLE = """
WITH obs AS (SELECT event_type, count(*) AS c FROM events GROUP BY 1),
t AS (SELECT sum(c) AS N, count(*) AS k FROM obs)
SELECT CAST(t.N AS BIGINT) AS n, CAST(t.k AS BIGINT) AS k,
       CAST(t.k - 1 AS BIGINT) AS dof,
       round(sum((obs.c - t.N * 1.0 / t.k) * (obs.c - t.N * 1.0 / t.k)
                 / (t.N * 1.0 / t.k)), 6) AS chi2
FROM obs, t GROUP BY t.N, t.k
"""


@register("chi_square_gof", _BH04_ORACLE)
def q_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import chi_square_gof

    return chi_square_gof(_read(spark, sf_dir, "events"), "event_type")
