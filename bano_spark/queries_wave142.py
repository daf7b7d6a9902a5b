"""Wave-142 driver queries: alias-method sampling tables
(operators/alias_table.py) — Vose construction over per-cohort
category weights (counts of a mod-9 hash key per event_type) and the
mass-reconstruction audit (every category's effective sampling
probability equals w/W to < 1e-9).

Oracle: DuckDB list_reduce replay with a 4-list state
[q, small, large, flat-triples] and slice+concat queue updates —
textually parallel to the engine's fold (index-free updates chosen
for exactly this reason); the audit mass fold walks the emitted
triples in construction order on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.alias_table import alias_mass_audit, alias_table
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_FIX = """
SELECT event_type AS g,
       (event_id * 2654435761 + 13) % 2147483648 % 9 AS k
FROM events"""

_DEMPTY = "list_slice([CAST(0 AS DOUBLE)], 1, 0)"

_STEP = f"""
CASE WHEN len(s[2]) > 0 AND len(s[3]) > 0 THEN
  list_transform([[
      s[2][1], s[3][1],
      s[1][CAST(s[2][1] AS INT)],
      (s[1][CAST(s[3][1] AS INT)] + s[1][CAST(s[2][1] AS INT)])
        - 1.0]],
    x -> [
      list_concat(list_concat(
        list_slice(s[1], 1, CAST(x[2] AS INT) - 1), [x[4]]),
        list_slice(s[1], CAST(x[2] AS INT) + 1, len(s[1]))),
      list_concat(list_slice(s[2], 2, len(s[2])),
                  CASE WHEN x[4] < 1.0 THEN [x[2]]
                       ELSE {_DEMPTY} END),
      CASE WHEN x[4] < 1.0 THEN list_slice(s[3], 2, len(s[3]))
           ELSE list_concat(list_slice(s[3], 2, len(s[3])), [x[2]])
      END,
      list_concat(s[4], [x[1], x[3], x[2]])
    ])[1]
ELSE [s[1], s[2], s[3], s[4]] END"""

_BASE_CTE = f"""
fix AS ({_FIX}),
freq AS (SELECT g, k, CAST(count(*) AS BIGINT) AS c
         FROM fix GROUP BY 1, 2),
sq AS (SELECT g, list(k ORDER BY k) AS ks,
              list(CAST(c AS DOUBLE) ORDER BY k) AS ws
       FROM freq GROUP BY g),
pre AS (
  SELECT g, ks, ws,
         list_reduce(list_prepend([CAST(0 AS DOUBLE)],
           list_transform(ws, x -> [x])),
           (t, v) -> [t[1] + v[1]])[1] AS wtot
  FROM sq),
pre2 AS (
  SELECT *, list_transform(ws, wv ->
           CAST(len(ws) AS DOUBLE) * wv / wtot) AS qs0
  FROM pre),
pre3 AS (
  SELECT *,
         list_filter(list_transform(generate_series(1, len(ws)),
           i -> CAST(i AS DOUBLE)),
           i -> qs0[CAST(i AS INT)] < 1.0) AS sm0,
         list_filter(list_transform(generate_series(1, len(ws)),
           i -> CAST(i AS DOUBLE)),
           i -> NOT (qs0[CAST(i AS INT)] < 1.0)) AS lg0
  FROM pre2),
st AS (
  SELECT g, ks, ws, wtot,
         list_reduce(
           list_prepend([qs0, sm0, lg0, {_DEMPTY}],
             list_transform(generate_series(1, len(ws)),
               stp -> [[CAST(stp AS DOUBLE)]])),
           (s, v) -> {_STEP}) AS s
  FROM pre3),
fin AS (
  SELECT g, ks, ws, wtot,
         list_concat(s[4], flatten(list_transform(
           list_concat(s[2], s[3]),
           i -> [i, CAST(1 AS DOUBLE), i]))) AS fn
  FROM st),
tri AS (
  SELECT g, ks, ws, wtot, fn,
         list_transform(generate_series(1, len(fn) // 3),
           t -> [fn[3 * t - 2], fn[3 * t - 1], fn[3 * t]]) AS trl
  FROM fin)"""

_Q1_ORACLE = f"""
WITH {_BASE_CTE},
ex AS (SELECT g, ks, unnest(trl) AS e FROM tri)
SELECT g, ks[CAST(e[1] AS INT)] AS key,
       round(e[2], 6) AS prob,
       ks[CAST(e[3] AS INT)] AS alias_key
FROM ex ORDER BY g, key
"""


@register("alias_table_build", _Q1_ORACLE)
def alias_table_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Vose fold per cohort: (key, acceptance prob, alias)."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return alias_table(spark.sql(_FIX), "g", "k")


_MASS = """
list_transform(generate_series(1, len(ws)), i ->
  (list_filter(trl, e -> e[1] = CAST(i AS DOUBLE))[1][2]
   + list_reduce(list_prepend([CAST(0 AS DOUBLE)], trl),
       (t, e) -> [t[1] + CASE WHEN e[3] = CAST(i AS DOUBLE)
                  AND e[1] <> CAST(i AS DOUBLE)
                  THEN 1.0 - e[2] ELSE 0.0 END])[1])
  / CAST(len(ws) AS DOUBLE))"""

_Q2_ORACLE = f"""
WITH {_BASE_CTE},
ms AS (SELECT g, ks, ws, wtot, {_MASS} AS mass FROM tri),
ex AS (SELECT g, ks, ws, wtot, mass,
              unnest(generate_series(1, len(ws))) AS i
       FROM ms)
SELECT g, ks[CAST(i AS INT)] AS key,
       round(ws[CAST(i AS INT)] / wtot, 6) AS p_true,
       round(mass[CAST(i AS INT)], 6) AS mass,
       round(abs(mass[CAST(i AS INT)]
                 - ws[CAST(i AS INT)] / wtot), 9) AS abs_err,
       abs(mass[CAST(i AS INT)] - ws[CAST(i AS INT)] / wtot)
         < 1e-09 AS ok
FROM ex ORDER BY g, key
"""


@register("alias_mass_reconstruction", _Q2_ORACLE)
def alias_mass_reconstruction(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The alias invariant audited: reconstructed mass == w/W per
    category (fixed-order in-array folds)."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return alias_mass_audit(spark.sql(_FIX), "g", "k")
