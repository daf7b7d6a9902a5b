"""Wave-87 driver queries: frequency sketches
(operators/freqsketch.py). (1) Misra-Gries heavy hitters built the
cluster way — per-shard k-counter folds, merged per Agarwal et al.
2012 (pointwise sum, subtract the (k+1)-th largest, keep positives),
then upgraded to EXACT counts with one filtered pass; the output
carries the per-key guarantee check (exact - mg <= n/(k+1)).
(2) Count-Min point estimates for every distinct key with the
measured overestimate vs exact counts (>= 0 by construction).

Oracles: DuckDB list_reduce replay of the same MG fold (list of
'key:cnt' cells, fresh values in every branch) + the same relational
merge; CM replayed as the same two hash aggregations.

Ref parity: the reference's batch tables + stats.sql top-N rollups
answer "which source/commune dominates" with full aggregation
(bano/outils_de_gestion.py); MG/CM answer it in bounded memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.freqsketch import CM_A, CM_B, CM_P
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


K = 8          # MG counters
DEPTH = 4      # CM rows
WIDTH = 256    # CM buckets

# Skewed key stream: 5 hot keys at ~12% each, 480 cold keys sharing
# the rest. n/(K+1) = 11.1% < 12%, so every hot key is guaranteed to
# survive the merged MG summary.
_KEYS_FIX = """
SELECT event_id AS rid, event_id % 8 AS shard,
       CAST(CASE WHEN u % 100 < 60 THEN u % 5
                 ELSE 5 + u % 480 END AS BIGINT) AS key
FROM (SELECT event_id,
             (event_id * 2654435761 + 127) % 2147483648 AS u
      FROM events)
"""


def _keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return spark.sql(_KEYS_FIX)


def _mg_fold_duckdb() -> str:
    """Per-shard MG fold: acc = list of 'key:cnt' cells, elements =
    singleton varchar lists. Every branch builds fresh values."""
    key = "x[1]"
    ckey = "string_split(c, ':')[1]"
    ccnt = "CAST(string_split(c, ':')[2] AS BIGINT)"
    return f"""
      list_reduce(
        list_prepend(CAST([] AS VARCHAR[]),
                     list([CAST(key AS VARCHAR)] ORDER BY rid)),
        (acc, x) -> CASE
          WHEN len(list_filter(acc, c -> {ckey} = {key})) > 0
            THEN list_transform(acc, c ->
                   CASE WHEN {ckey} = {key}
                        THEN {key} || ':' ||
                             CAST({ccnt} + 1 AS VARCHAR)
                        ELSE concat(c, '') END)
          WHEN len(acc) < {K}
            THEN list_append(acc, {key} || ':1')
          ELSE list_filter(
                 list_transform(acc, c ->
                   {ckey} || ':' || CAST({ccnt} - 1 AS VARCHAR)),
                 c -> {ccnt} > 0)
        END)
    """


_HH01_ORACLE = f"""
WITH x AS ({_KEYS_FIX}),
s AS (
  SELECT shard, {_mg_fold_duckdb()} AS summary
  FROM x GROUP BY shard),
cells AS (
  SELECT shard,
         CAST(string_split(u.c, ':')[1] AS BIGINT) AS key,
         CAST(string_split(u.c, ':')[2] AS BIGINT) AS cnt
  FROM s, unnest(s.summary) AS u(c)),
tot AS (SELECT key, CAST(sum(cnt) AS BIGINT) AS t
        FROM cells GROUP BY key),
sub AS (
  SELECT CASE WHEN count(*) >= {K + 1}
              THEN (list(t ORDER BY t DESC, key))[{K + 1}]
              ELSE 0 END AS sub
  FROM tot),
merged AS (
  SELECT key, CAST(t - sub AS BIGINT) AS mg_count
  FROM tot CROSS JOIN sub WHERE t - sub > 0),
exact AS (SELECT key, CAST(count(*) AS BIGINT) AS exact_count
          FROM x GROUP BY key),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM x)
SELECT m.key, m.mg_count, e.exact_count,
       (e.exact_count - m.mg_count) <= n.n / {K + 1} AS guarantee_ok
FROM merged m JOIN exact e ON e.key = m.key CROSS JOIN n
ORDER BY e.exact_count DESC, m.key
"""


@register("misra_gries_heavy_hitters", _HH01_ORACLE)
def q_misra_gries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.freqsketch import heavy_hitters_exact

    return heavy_hitters_exact(_keys(spark, sf_dir), "key", "rid",
                               "shard", K)


def _dl(vals) -> str:
    return "[" + ", ".join(str(int(v)) + "::BIGINT" for v in vals) + "]"


_HH02_ORACLE = f"""
WITH x AS ({_KEYS_FIX}),
js AS (SELECT unnest(generate_series(0, {DEPTH - 1})) AS j),
rows_ AS (
  SELECT js.j,
         ((x.key * ({_dl(CM_A)})[CAST(js.j AS INT) + 1]
           + ({_dl(CM_B)})[CAST(js.j AS INT) + 1]) % {CM_P}
          + {CM_P}) % {CM_P} % {WIDTH} AS bucket
  FROM x CROSS JOIN js),
counters AS (
  SELECT j, bucket, CAST(count(*) AS BIGINT) AS counter
  FROM rows_ GROUP BY j, bucket),
exact AS (SELECT key, CAST(count(*) AS BIGINT) AS exact_count
          FROM x GROUP BY key),
kb AS (
  SELECT e.key, e.exact_count, js.j,
         ((e.key * ({_dl(CM_A)})[CAST(js.j AS INT) + 1]
           + ({_dl(CM_B)})[CAST(js.j AS INT) + 1]) % {CM_P}
          + {CM_P}) % {CM_P} % {WIDTH} AS bucket
  FROM exact e CROSS JOIN js)
SELECT kb.key, kb.exact_count,
       CAST(min(c.counter) AS BIGINT) AS cm_estimate,
       CAST(min(c.counter) - kb.exact_count AS BIGINT) AS overestimate
FROM kb JOIN counters c ON c.j = kb.j AND c.bucket = kb.bucket
GROUP BY kb.key, kb.exact_count
ORDER BY kb.key
"""


@register("count_min_estimates", _HH02_ORACLE)
def q_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.freqsketch import count_min_estimates

    return count_min_estimates(_keys(spark, sf_dir), "key",
                               depth=DEPTH, width=WIDTH)
