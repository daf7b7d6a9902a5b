"""Wave-91 driver queries: table-maintenance planning
(operators/compaction.py). (1) First-fit-decreasing small-files
compaction plan per partition — integer fold over the size-sorted
file list, n_bins vs the ceil(total/capacity) lower bound and the
FFD 11/9 guarantee flag. (2) Join-skew advisor — per-key histogram ->
max/avg skew ratio -> integer salt factor -> projected post-salt
max task rows.

Oracles: the same FFD fold as a DuckDB list_reduce (list-of-remaining
-capacities accumulator, first-fit index via list_min over fitting
positions, fresh list every branch) and the same two-aggregate skew
algebra.

Ref parity: the reference compacts per-department outputs into fixed
bundles and splits hot departments for `parallel -j 4`
(cron_bano.sh); these make both maintenance decisions data-driven.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


CAP = 131072

_FILES_FIX = """
SELECT o_orderkey % 240 AS part, o_orderkey AS fid,
       CAST(1 + (o_orderkey * 2654435761 + 139) % 2147483648 % 100000
            AS BIGINT) AS size_bytes
FROM orders
"""

_FFD_ORACLE = f"""
WITH f AS ({_FILES_FIX}),
per AS (
  SELECT part,
         list([-size_bytes, fid] ORDER BY -size_bytes, fid) AS fs,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(size_bytes) AS BIGINT) AS total_bytes
  FROM f GROUP BY part),
plan AS (
  SELECT part, n_files, total_bytes,
         CAST(len(list_reduce(
           list_prepend(CAST([] AS BIGINT[]), fs),
           (acc, r) -> list_transform(
             [list_min(list_filter(
                list_transform(range(1, len(acc) + 1),
                  i -> CASE WHEN acc[CAST(i AS INT)] >= -r[1]
                            THEN CAST(i AS BIGINT) END),
                v -> v IS NOT NULL))],
             ix -> CASE WHEN ix IS NULL
               THEN list_append(acc, CAST({CAP} AS BIGINT) + r[1])
               ELSE acc[1:CAST(ix AS INT) - 1]
                    || [acc[CAST(ix AS INT)] + r[1]]
                    || acc[CAST(ix AS INT) + 1:] END)[1]))
         AS BIGINT) AS n_bins
  FROM per)
SELECT part, n_files, total_bytes, n_bins,
       CAST((total_bytes + {CAP} - 1) // {CAP} AS BIGINT) AS lb_bins,
       round(CAST(total_bytes AS DOUBLE) / (n_bins * {CAP}), 6) + 0.0
         AS fill_rate,
       n_bins * 9 <= ((total_bytes + {CAP} - 1) // {CAP}) * 11 + 6
         AS ffd_ok
FROM plan ORDER BY part
"""


@register("ffd_compaction_plan", _FFD_ORACLE)
def q_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.compaction import ffd_compaction_plan

    spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .createOrReplaceTempView("orders")
    files = spark.sql(_FILES_FIX)
    return ffd_compaction_plan(files, "part", "fid", "size_bytes", CAP)


_SKEW_FIX = """
SELECT CAST(CASE WHEN u % 4 = 0 THEN 0 ELSE u % 997 END AS BIGINT)
         AS key
FROM (SELECT (event_id * 2654435761 + 149) % 2147483648 AS u
      FROM events)
"""

_SKEW_ORACLE = f"""
WITH x AS ({_SKEW_FIX}),
hist AS (SELECT key, CAST(count(*) AS BIGINT) AS c FROM x GROUP BY key),
agg AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(c) AS BIGINT) AS max_key_rows
  FROM hist),
s AS (
  SELECT *,
         CAST((max_key_rows * n_keys + n_rows - 1) // n_rows AS BIGINT)
           AS salt_factor
  FROM agg)
SELECT n_rows, n_keys, max_key_rows,
       round(CAST(n_rows AS DOUBLE) / n_keys, 6) + 0.0
         AS avg_rows_per_key,
       round(CAST(max_key_rows * n_keys AS DOUBLE) / n_rows, 6) + 0.0
         AS skew_ratio,
       salt_factor,
       CAST((max_key_rows + salt_factor - 1) // salt_factor AS BIGINT)
         AS post_salt_max_rows,
       round(CAST((max_key_rows + salt_factor - 1) // salt_factor
                  AS DOUBLE) * n_keys / n_rows, 6) + 0.0
         AS post_salt_ratio
FROM s
"""


@register("join_skew_advisor", _SKEW_ORACLE)
def q_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.compaction import join_skew_advisor

    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    x = spark.sql(_SKEW_FIX)
    return join_skew_advisor(x, "key")
