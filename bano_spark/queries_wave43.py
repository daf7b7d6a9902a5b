"""Wave-43 driver queries: exact per-group Gini (rank identity on
partitioned windows) and the CR-k concentration ratio — the
segment-level and top-k views of the inequality family (host_gini,
theil_t_index, lorenz_curve).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# bc01 — exact Gini of event values per user decile.
# ---------------------------------------------------------------------------

_BC01_ORACLE = """
WITH d AS (
  SELECT user_id % 10 AS k, CAST(value AS DOUBLE) AS x,
         CAST(row_number() OVER (PARTITION BY user_id % 10
                                 ORDER BY value, event_id) AS DOUBLE)
           AS i
  FROM events
),
g AS (
  SELECT k, CAST(count(*) AS DOUBLE) AS n, sum(x) AS s,
         sum(i * x) AS ix
  FROM d GROUP BY k
)
SELECT k, CAST(n AS BIGINT) AS n,
       round(CASE WHEN n >= 2 AND s > 0
                  THEN 2 * ix / (n * s) - (n + 1) / n END, 6) AS gini
FROM g ORDER BY k
"""


@register("gini_by_group", _BC01_ORACLE)
def q_gini_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import gini_by_group

    ev = _read(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("k"), "value", "event_id")
    return (gini_by_group(ev, "k", "value", tiebreak="event_id")
            .orderBy("k"))


# ---------------------------------------------------------------------------
# bc02 — CR-8 of per-user summed event value (top-8 user share).
# ---------------------------------------------------------------------------

_BC02_ORACLE = """
WITH per AS (
  SELECT user_id AS k, sum(CAST(value AS DOUBLE)) AS v
  FROM events GROUP BY user_id
),
top AS (
  SELECT sum(v) AS t
  FROM (SELECT v FROM per ORDER BY v DESC, k LIMIT 8)
),
tot AS (SELECT sum(v) AS s FROM per)
SELECT 8 AS k, round(tot.s, 6) AS total, round(top.t, 6) AS top_k_sum,
       round(top.t / tot.s, 6) AS cr_k
FROM top CROSS JOIN tot
"""


@register("concentration_ratio", _BC02_ORACLE)
def q_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import concentration_ratio

    ev = _read(spark, sf_dir, "events")
    return concentration_ratio(ev, "user_id", "value", 8)
