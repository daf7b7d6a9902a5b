"""Wave-129 driver queries: scheduling-theory folds
(operators/scheduling_fold.py) — weighted interval scheduling DP vs
the unweighted by-end greedy, and Graham LPT makespan vs the LP lower
bound — completing interval_scheduling / johnson_schedule / cpm /
knapsack_01.

The DP's p(j) predecessor index is computed distributedly with the
stacked-events window (markers at interval ends, probes at starts —
ONE window, no self-join), then the per-group fold walks intervals in
end order with an append-only opt array.

Oracles: DuckDB replays with the same stacked window + list_reduce
(append-only list for the DP, [last, count, weight] triple for the
greedy, 4-slot load vector for LPT; fresh lists in every CASE branch
per the wave-123 ELSE-acc gotcha). All state is integer-valued —
results match exactly, the only rounding is the final LPT ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.scheduling_fold import (lpt_makespan,
                                                  weighted_interval_opt)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_IV_FIX = """
SELECT user_id % 12 AS grp, event_id AS id,
       u1 % 1000 AS s, u1 % 1000 + 1 + u2 % 50 AS e, 1 + u1 % 9 AS w
FROM (SELECT user_id, event_id,
             (event_id * 2654435761 + 13) % 2147483648 AS u1,
             (event_id * 1103515245 + 12345) % 2147483648 AS u2
      FROM events)"""

_Q1_ORACLE = f"""
WITH fix AS ({_IV_FIX}),
stacked AS (
  SELECT grp, v, typ, id, w, en, st,
         sum(1 - typ) OVER (PARTITION BY grp ORDER BY v, typ, id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS p
  FROM (
    SELECT grp, e AS v, 0 AS typ, id, 0 AS w, 0 AS en, 0 AS st FROM fix
    UNION ALL
    SELECT grp, s, 1, id, w, e, s FROM fix)),
iv AS (
  SELECT grp, list([CAST(en AS DOUBLE), CAST(st AS DOUBLE),
                    CAST(id AS DOUBLE), CAST(w AS DOUBLE),
                    CAST(p AS DOUBLE)] ORDER BY en, st, id) AS iv
  FROM stacked WHERE typ = 1 GROUP BY grp),
dp AS (
  SELECT grp, CAST(len(iv) AS BIGINT) AS n_intervals,
         list_reduce(list_prepend([CAST(0 AS DOUBLE)], iv),
           (a, v) -> list_append(a, greatest(
             a[len(a)], v[4] + a[CAST(v[5] AS INT) + 1]))) AS d,
         list_reduce(list_prepend([CAST(-1e18 AS DOUBLE),
                                   CAST(0 AS DOUBLE),
                                   CAST(0 AS DOUBLE)], iv),
           (s, v) -> CASE WHEN v[2] >= s[1]
                          THEN [v[1], s[2] + 1.0, s[3] + v[4]]
                          ELSE [s[1], s[2], s[3]] END) AS g
  FROM iv)
SELECT grp, n_intervals, CAST(d[len(d)] AS BIGINT) AS opt_weight,
       CAST(g[2] AS BIGINT) AS greedy_count,
       CAST(g[3] AS BIGINT) AS greedy_weight
FROM dp ORDER BY grp
"""


@register("weighted_interval_schedule", _Q1_ORACLE)
def weighted_interval_schedule(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """DP optimum >= greedy weight on every group; one window + one
    groupBy, O(n) append-only fold state."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return weighted_interval_opt(spark.sql(_IV_FIX), "grp", "s", "e",
                                 "w", "id").orderBy("grp")


_JOB_FIX = """
SELECT user_id % 10 AS grp, event_id AS id, 1 + u % 40 AS d
FROM (SELECT user_id, event_id,
             (event_id * 2654435761 + 13) % 2147483648 AS u
      FROM events)"""

_Q2_ORACLE = f"""
WITH fix AS ({_JOB_FIX}),
sq AS (
  SELECT grp,
         list([CAST(0 - d AS DOUBLE), CAST(id AS DOUBLE)]
              ORDER BY 0 - d, id) AS js,
         CAST(sum(d) AS BIGINT) AS total_dur,
         CAST(max(d) AS BIGINT) AS max_dur,
         CAST(count(*) AS BIGINT) AS n_jobs
  FROM fix GROUP BY grp),
st AS (
  SELECT grp, n_jobs, total_dur, max_dur,
         list_reduce(list_prepend([CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                                   CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
                                  js),
           (s, v) -> CASE
             WHEN s[1] <= s[2] AND s[1] <= s[3] AND s[1] <= s[4]
               THEN [s[1] + (0.0 - v[1]), s[2], s[3], s[4]]
             WHEN s[2] <= s[3] AND s[2] <= s[4]
               THEN [s[1], s[2] + (0.0 - v[1]), s[3], s[4]]
             WHEN s[3] <= s[4]
               THEN [s[1], s[2], s[3] + (0.0 - v[1]), s[4]]
             ELSE [s[1], s[2], s[3], s[4] + (0.0 - v[1])] END) AS ld
  FROM sq),
fin AS (
  SELECT grp, n_jobs, total_dur, max_dur,
         CAST(greatest(ld[1], ld[2], ld[3], ld[4]) AS BIGINT) AS makespan,
         greatest((total_dur + 3) // 4, max_dur) AS lower_bound
  FROM st)
SELECT grp, n_jobs, total_dur, max_dur, makespan, lower_bound,
       round(CAST(makespan AS DOUBLE) / CAST(lower_bound AS DOUBLE), 6)
         AS ratio,
       CAST(makespan AS DOUBLE) / CAST(lower_bound AS DOUBLE)
         <= 1.25 + 1e-12 AS ratio_le_lpt_bound
FROM fin ORDER BY grp
"""


@register("lpt_makespan_audit", _Q2_ORACLE)
def lpt_makespan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-machine LPT list schedule per group; with many small jobs
    the makespan pins the LP lower bound (ratio 1.0)."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return lpt_makespan(spark.sql(_JOB_FIX), "grp", "d", "id",
                        machines=4).orderBy("grp")
