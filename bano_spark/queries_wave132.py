"""Wave-132 driver queries: Lossy Counting
(operators/lossycount.py) — the deterministic ε-deficient
heavy-hitter sketch and its guarantee audit, completing
misra_gries_heavy_hitters / count_min_estimates.

Fixture: 10 user-cohort streams, 70% of mass on 8 hot keys, 30%
spread over 50 cold ones; w = 50 (ε = 0.02), support 5%.

Oracle: DuckDB list_reduce replay over a flat list-of-lists
accumulator ([[pos], [k, c, d], ...]) — layout differs from the
engine's struct array but the transition function is identical and
every quantity is an exact integer, so sketch contents match
exactly; the audit joins against exact counts and asserts the
underestimate <= floor(N/w) theorem per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.lossycount import (lossy_count_sketch,
                                             lossy_hitters_audit)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_W = 50
_SUP = 0.05

_FIX = """
SELECT user_id % 10 AS grp, event_id AS t,
       CASE WHEN u % 10 < 7 THEN u % 8 ELSE 8 + u % 50 END AS k
FROM (SELECT user_id, event_id,
             (event_id * 2654435761 + 13) % 2147483648 AS u
      FROM events)"""

_SLICE = "list_slice(s, 2, len(s))"
_ES1 = f"""
CASE WHEN len(list_filter({_SLICE}, e -> e[1] = v[1][2])) > 0
  THEN list_transform({_SLICE},
        e -> CASE WHEN e[1] = v[1][2] THEN [e[1], e[2] + 1.0, e[3]]
                  ELSE [e[1], e[2], e[3]] END)
  ELSE list_append({_SLICE}, [v[1][2], 1.0, x[2] - 1.0])
END"""

_FOLD = f"""
list_reduce(
  list_prepend([[CAST(0 AS DOUBLE)]],
               list_transform(tr, e -> [[e[1], e[2]]])),
  (s, v) -> list_transform(
    [[s[1][1] + 1.0,
      floor((s[1][1] + 1.0 + {float(_W - 1)!r}) / {float(_W)!r})]],
    x -> list_prepend([x[1]],
      CASE WHEN CAST(x[1] AS BIGINT) % {_W} = 0
        THEN list_filter({_ES1}, e -> e[2] + e[3] > x[2])
        ELSE {_ES1} END))[1])"""

_SKETCH_CTE = f"""
fix AS ({_FIX}),
sq AS (
  SELECT grp, list([CAST(t AS DOUBLE), CAST(k AS DOUBLE)]
                   ORDER BY t) AS tr
  FROM fix GROUP BY grp),
st AS (
  SELECT grp, CAST(len(tr) AS BIGINT) AS n_stream, {_FOLD} AS f
  FROM sq),
ent AS (
  SELECT grp, n_stream, unnest(list_slice(f, 2, len(f))) AS e
  FROM st)"""

_Q1_ORACLE = f"""
WITH {_SKETCH_CTE}
SELECT grp, n_stream, CAST(e[1] AS BIGINT) AS key,
       CAST(e[2] AS BIGINT) AS est_count,
       CAST(e[3] AS BIGINT) AS delta
FROM ent ORDER BY grp, key
"""


@register("lossy_count_entries", _Q1_ORACLE)
def lossy_count_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving sketch entries per cohort stream after the ε=0.02
    prune schedule — one groupBy + one bounded-state fold."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return lossy_count_sketch(spark.sql(_FIX), "grp", "t", "k",
                              w=_W).orderBy("grp", "key")


_Q2_ORACLE = f"""
WITH {_SKETCH_CTE},
exact AS (
  SELECT grp AS _g, CAST(k AS BIGINT) AS _k,
         CAST(count(*) AS BIGINT) AS true_count
  FROM fix GROUP BY 1, 2),
cand AS (
  SELECT grp, n_stream, CAST(e[1] AS BIGINT) AS key,
         CAST(e[2] AS BIGINT) AS est_count
  FROM ent
  WHERE CAST(CAST(e[2] AS BIGINT) AS DOUBLE)
        >= ({_SUP!r} - {1.0 / _W!r}) * CAST(n_stream AS DOUBLE))
SELECT c.grp, c.key, c.est_count, x.true_count,
       x.true_count - c.est_count AS underestimate,
       c.n_stream // {_W} AS max_allowed,
       (c.est_count <= x.true_count
        AND x.true_count - c.est_count <= c.n_stream // {_W})
         AS within_bound,
       CAST(x.true_count AS DOUBLE)
         >= {_SUP!r} * CAST(c.n_stream AS DOUBLE) AS true_is_frequent
FROM cand c JOIN exact x ON c.grp = x._g AND c.key = x._k
ORDER BY c.grp, c.key
"""


@register("lossy_hitters_guarantee", _Q2_ORACLE)
def lossy_hitters_guarantee(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Certified 5%-support keys joined with exact counts; the
    deficiency theorem (est <= true <= est + N/w) audited per key."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return lossy_hitters_audit(spark.sql(_FIX), "grp", "t", "k",
                               w=_W, support=_SUP) \
        .orderBy("grp", "key")
