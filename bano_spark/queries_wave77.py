"""Wave-77 driver queries: (1) LRU stack-distance profile per user
over a popularity-skewed page stream — one fold yields hit counts for
every cache size at once (Mattson 1970); the crawl-cache sizing
primitive; (2) farthest-first traversal (Gonzalez 2-approx k-center)
per point group — ordered center ids + covering radius, exact integer
distances, ties to min id. LRU is a pure string fold; FFT is k-1
argmax rounds replayed as unrolled SQL CTEs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# cj01 — LRU stack distances per user.
# ---------------------------------------------------------------------------

_LRU_FIXTURE = """
SELECT user_id, ts, event_id,
       CAST(CAST(floor(sqrt(CAST((event_id * 2654435761 + 97)
            % 2147483648 % 400 AS DOUBLE))) AS INT) AS STRING) AS page
FROM events
"""

_CJ01_ORACLE = f"""
WITH x AS ({_LRU_FIXTURE}),
s AS (
  SELECT user_id, list(page ORDER BY ts, event_id) AS ps
  FROM x GROUP BY user_id),
f AS (
  SELECT user_id, len(ps) AS n,
         list_reduce(
           list_prepend(['0', '0'],
                        list_transform(ps, p -> [p])),
           (s, v) ->
             [CAST(CAST(s[1] AS INT)
                   + CASE WHEN coalesce(
                       list_position(s[3:], v[1]), 0)
                       BETWEEN 1 AND 4 THEN 1 ELSE 0 END AS VARCHAR),
              CAST(CAST(s[2] AS INT)
                   + CASE WHEN coalesce(
                       list_position(s[3:], v[1]), 0)
                       BETWEEN 1 AND 16 THEN 1 ELSE 0 END AS VARCHAR)]
             || [v[1]]
             || list_filter(s[3:], q -> q != v[1])) AS st
  FROM s)
SELECT user_id, CAST(n AS BIGINT) AS n_accesses,
       CAST(CAST(st[1] AS INT) AS BIGINT) AS hits_c4,
       CAST(CAST(st[2] AS INT) AS BIGINT) AS hits_c16,
       CAST(len(st) - 2 AS BIGINT) AS distinct_pages
FROM f ORDER BY user_id
"""


@register("lru_stack_distance", _CJ01_ORACLE)
def q_lru(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.sessions import lru_stack_distance

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    x = spark.sql(_LRU_FIXTURE)
    return lru_stack_distance(x, "user_id", ["ts", "event_id"],
                              "page", caps=(4, 16))


# ---------------------------------------------------------------------------
# cj02 — farthest-first k-center seeds (k=4) per point group.
# ---------------------------------------------------------------------------

def _fft_rounds_duckdb(k: int = 4) -> str:
    parts = []
    for r in range(2, k + 1):
        prev = "cc1" if r == 2 else f"cc{r - 1}"
        parts.append(f"""
m{r} AS (
  SELECT p.g, p.rid, p.x, p.y,
         min((p.x - c.cx) * (p.x - c.cx)
             + (p.y - c.cy) * (p.y - c.cy)) AS md
  FROM p JOIN {prev} c ON p.g = c.g
  GROUP BY p.g, p.rid, p.x, p.y),
pk{r} AS (
  SELECT g, CAST({r} AS INT) AS cr, rid AS crid, x AS cx, y AS cy
  FROM (SELECT *, row_number() OVER (PARTITION BY g
                  ORDER BY md DESC, rid) AS rk FROM m{r})
  WHERE rk = 1),
cc{r} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM pk{r})""")
    return ",".join(parts)


_CJ02_ORACLE = f"""
WITH d AS ({synth.dense_points_select_sql('duckdb')}),
p AS (SELECT event_id % 3 AS g, event_id AS rid, x, y FROM d),
cc1 AS (
  SELECT g, CAST(1 AS INT) AS cr, rid AS crid, x AS cx, y AS cy
  FROM (SELECT g, rid, x, y, row_number() OVER (PARTITION BY g
              ORDER BY rid) AS rk FROM p)
  WHERE rk = 1),
{_fft_rounds_duckdb(4)},
rad AS (
  SELECT g, max(md) AS r2 FROM (
    SELECT p.g, p.rid,
           min((p.x - c.cx) * (p.x - c.cx)
               + (p.y - c.cy) * (p.y - c.cy)) AS md
    FROM p JOIN cc4 c ON p.g = c.g
    GROUP BY p.g, p.rid)
  GROUP BY g)
SELECT cc4.g AS g,
       max(CASE cr WHEN 1 THEN crid END) AS c1_rid,
       max(CASE cr WHEN 2 THEN crid END) AS c2_rid,
       max(CASE cr WHEN 3 THEN crid END) AS c3_rid,
       max(CASE cr WHEN 4 THEN crid END) AS c4_rid,
       CAST(any_value(rad.r2) AS BIGINT) AS radius2
FROM cc4 JOIN rad ON cc4.g = rad.g
GROUP BY cc4.g ORDER BY g
"""


@register("farthest_first_centers", _CJ02_ORACLE)
def q_fft(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.clustering import farthest_first_centers

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    pts = (spark.sql(synth.dense_points_select_sql("spark"))
           .select((F.col("event_id") % 3).alias("g"),
                   "event_id", "x", "y"))
    return farthest_first_centers(pts, "g", "event_id", "x", "y", k=4)
