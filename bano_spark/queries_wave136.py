"""Wave-136 driver queries: design-based estimation
(operators/surveyest.py) — Horvitz-Thompson / Hajek totals under a
3-stratum unequal-probability design (pi = 0.1 / 0.5 / 0.9 via hash
thresholds) audited against the true frame totals, and two-occasion
capture-recapture (Lincoln-Petersen + Chapman) over hash-captured
entities.

Oracles: per-stratum exact integer sums combined with the SAME
Python-computed 1/pi literals in the same left-assoc order; LP /
Chapman are closed-form ratios of exact distinct counts — bit-for-bit
before round-to-6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.surveyest import (capture_recapture,
                                            horvitz_thompson)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_PIS = [0.1, 0.5, 0.9]

_HT_FIX = """
SELECT event_type AS grp, u2 % 100 AS y, u1 % 3 AS st,
       CASE WHEN u3 % 1000 < (CASE u1 % 3 WHEN 0 THEN 100
                              WHEN 1 THEN 500 ELSE 900 END)
            THEN 1 ELSE 0 END AS incl
FROM (SELECT event_type,
             (event_id * 2654435761 + 13) % 2147483648 AS u1,
             (event_id * 1103515245 + 12345) % 2147483648 AS u2,
             (event_id * 69069 + 7) % 2147483648 AS u3
      FROM events)"""

_HT = " + ".join(f"{1.0 / p!r} * CAST(s{j} AS DOUBLE)"
                 for j, p in enumerate(_PIS))
_NH = " + ".join(f"{1.0 / p!r} * CAST(c{j} AS DOUBLE)"
                 for j, p in enumerate(_PIS))

_Q1_ORACLE = f"""
WITH fix AS ({_HT_FIX}),
a AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_frame,
         CAST(sum(y) AS BIGINT) AS true_total,
         CAST(sum(CASE WHEN incl = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_sampled,
         {', '.join(
             f"CAST(sum(CASE WHEN incl = 1 AND st = {j} THEN y ELSE 0 "
             f"END) AS BIGINT) AS s{j}, "
             f"CAST(sum(CASE WHEN incl = 1 AND st = {j} THEN 1 ELSE 0 "
             f"END) AS BIGINT) AS c{j}"
             for j in range(len(_PIS)))}
  FROM fix GROUP BY grp)
SELECT grp, n_frame, true_total, n_sampled,
       round({_HT}, 6) AS ht_total,
       round(({_HT}) / ({_NH}) * CAST(n_frame AS DOUBLE), 6)
         AS hajek_total,
       round((({_HT}) - CAST(true_total AS DOUBLE))
             / CAST(true_total AS DOUBLE), 6) AS rel_err_ht,
       round((({_HT}) / ({_NH}) * CAST(n_frame AS DOUBLE)
              - CAST(true_total AS DOUBLE))
             / CAST(true_total AS DOUBLE), 6) AS rel_err_hajek
FROM a ORDER BY grp
"""


@register("horvitz_thompson_totals", _Q1_ORACLE)
def horvitz_thompson_totals(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Per event_type: HT and Hajek totals from the ~50% hash sample
    under known 3-stratum inclusion — ONE conditional aggregate."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return horvitz_thompson(spark.sql(_HT_FIX), "grp", "y", "st",
                            "incl", _PIS).orderBy("grp")


_CR_FIX = """
SELECT u1 % 3000 AS ent,
       CASE WHEN CAST(floor(u2 / 8.0) AS BIGINT) % 4 = 0
            THEN 1 ELSE 0 END AS c1,
       CASE WHEN CAST(floor(u3 / 8.0) AS BIGINT) % 5 < 2
            THEN 1 ELSE 0 END AS c2
FROM (SELECT (event_id * 2654435761 + 13) % 2147483648 AS u1,
             (event_id * 1103515245 + 12345) % 2147483648 AS u2,
             (event_id * 69069 + 7) % 2147483648 AS u3
      FROM events)"""

_Q2_ORACLE = f"""
WITH fix AS ({_CR_FIX}),
ent AS (
  SELECT ent, max(c1) AS c1, max(c2) AS c2 FROM fix GROUP BY ent),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS true_n,
         CAST(sum(CASE WHEN c1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN c1 = 1 AND c2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS m
  FROM ent)
SELECT true_n, n1, n2, m,
       round(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
             / CAST(m AS DOUBLE), 6) AS lp_estimate,
       round((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
             / (CAST(m AS DOUBLE) + 1.0) - 1.0, 6) AS chapman_estimate,
       round(((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
              / (CAST(m AS DOUBLE) + 1.0) - 1.0
              - CAST(true_n AS DOUBLE)) / CAST(true_n AS DOUBLE), 6)
         AS chapman_rel_err
FROM a
"""


@register("capture_recapture_abundance", _Q2_ORACLE)
def capture_recapture_abundance(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Entity-level two-occasion abundance estimate vs the exact
    distinct-entity count the warehouse can verify."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return capture_recapture(spark.sql(_CR_FIX), "ent", "c1", "c2")
