"""Wave-101 driver queries: posting-list compression advisor
(operators/indexcomp.py) — VByte delta-coding cost, optimal Rice
parameter selection, and roaring container classification over the
inverted index of `documents`.

Fixture: postings are the distinct (term, doc) pairs of the same
whitespace tokenization inverted_index (wave-4 w81) uses, with sparse
global ids gid = doc_id * 977 (max ~487k -> 8 roaring containers, and
gap magnitudes that spread the varint ladder across 1- and 2-byte
codes and the Rice optimum away from b=0).

Everything is exact integer arithmetic; the DuckDB oracle replays the
identical CASE ladders, shift costs, and container algebra.

Ref parity: the reference plans per-department export shard sizes
before writing static files (bano/sql/export_*.sql); same
estimate-the-encoding-before-writing planning step, applied to index
shards (ref file sizes: web/static hosting layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.indexcomp import (
    rice_optimal, roaring_advisor, varint_size)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), r"\s+")).alias("term"))
    return (toks.filter(F.col("term") != "")
            .select("term", (F.col("doc_id") * 977).alias("gid"))
            .distinct())


_POST_CTE = r"""
tok AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
  FROM documents),
post AS (
  SELECT DISTINCT term, doc_id * 977 AS gid
  FROM tok WHERE term <> ''),
gapped AS (
  SELECT term, gid,
         gid - coalesce(lag(gid) OVER (PARTITION BY term ORDER BY gid),
                        -1) AS gap
  FROM post)
"""


_IC01_ORACLE = f"""
WITH {_POST_CTE}
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(max(gap) AS BIGINT) AS max_gap,
       CAST(sum(CASE WHEN gap < 128 THEN 1
                     WHEN gap < 16384 THEN 2
                     WHEN gap < 2097152 THEN 3
                     WHEN gap < 268435456 THEN 4
                     ELSE 5 END) AS BIGINT) AS varint_bytes,
       CAST(count(*) * 4 AS BIGINT) AS raw_bytes
FROM gapped GROUP BY term
"""


@register("postings_varint_advisor", _IC01_ORACLE)
def postings_varint_advisor(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    return varint_size(_postings(spark, sf_dir))


_IC02_ORACLE = f"""
WITH {_POST_CTE},
per_b AS (
  SELECT term, b,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum((gap - 1) >> b) + count(*) * (b + 1) AS BIGINT)
           AS bits
  FROM gapped
  CROSS JOIN (SELECT CAST(unnest(range(0, 15)) AS BIGINT) AS b)
  GROUP BY term, b),
best AS (
  SELECT term, b, bits, n,
         row_number() OVER (PARTITION BY term
                            ORDER BY bits ASC, b ASC) AS rk
  FROM per_b)
SELECT term, CAST(b AS BIGINT) AS best_b, bits AS best_bits,
       n AS df
FROM best WHERE rk = 1
"""


@register("rice_parameter_optimal", _IC02_ORACLE)
def rice_parameter_optimal(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    return rice_optimal(_postings(spark, sf_dir), bmax=14)


_IC03_ORACLE = f"""
WITH {_POST_CTE},
runs AS (
  SELECT term, gid // 65536 AS container,
         CASE WHEN gid - coalesce(
                 lag(gid) OVER (PARTITION BY term, gid // 65536
                                ORDER BY gid),
                 -1099511627776) > 1
              THEN 1 ELSE 0 END AS new_run
  FROM post),
per_c AS (
  SELECT term, container,
         CAST(count(*) AS BIGINT) AS c,
         CAST(sum(new_run) AS BIGINT) AS r
  FROM runs GROUP BY term, container),
typed AS (
  SELECT term, container,
         least(2 * c, 2 + 4 * r, 8192) AS bytes,
         CASE WHEN 2 * c = least(2 * c, 2 + 4 * r, 8192) THEN 'array'
              WHEN 2 + 4 * r = least(2 * c, 2 + 4 * r, 8192) THEN 'run'
              ELSE 'bitmap' END AS ctype
  FROM per_c)
SELECT term,
       CAST(count(*) AS BIGINT) AS n_containers,
       CAST(count(*) FILTER (WHERE ctype = 'array') AS BIGINT)
         AS n_array,
       CAST(count(*) FILTER (WHERE ctype = 'run') AS BIGINT) AS n_run,
       CAST(count(*) FILTER (WHERE ctype = 'bitmap') AS BIGINT)
         AS n_bitmap,
       CAST(sum(bytes) AS BIGINT) AS total_bytes
FROM typed GROUP BY term
"""


@register("roaring_container_advisor", _IC03_ORACLE)
def roaring_container_advisor(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    return roaring_advisor(_postings(spark, sf_dir))
