"""Wave-72 driver queries: (1) 2-D skyline (Pareto frontier) per
event type — the classic maximal-vector DB operator, computed with
the sort-filter window trick in the engine and verified against the
literal quadratic NOT-EXISTS dominance definition in DuckDB
(deliberately different algebra); (2) longest strictly-increasing
subsequence length per user via patience sorting run as an ordered
fold — identical pile-tops algebra replayed in a DuckDB list
accumulator. Both all-integer — exact parity."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# ce01 — 2-D skyline per event type.
# ---------------------------------------------------------------------------

# md5-derived coordinates: two linear salts off one multiplier give
# y = (x + 2) mod 1000 — a degenerate 1-D frontier (observed before
# this fixture switched to md5)
def _sky_fixture(dialect: str) -> str:
    if dialect == "spark":
        def h(salt: str) -> str:
            return (f"CAST(conv(substr(md5(concat('{salt}|', "
                    f"CAST(event_id AS STRING))), 1, 8), 16, 10) "
                    f"AS BIGINT) % 1000")
    else:
        def h(salt: str) -> str:
            return (f"CAST(CAST(concat('0x', substr(md5('{salt}|' || "
                    f"CAST(event_id AS VARCHAR)), 1, 8)) AS UBIGINT) "
                    f"AS BIGINT) % 1000")
    return f"""
SELECT event_type AS g, event_id AS rid,
       {h('sx')} AS x,
       {h('sy')} AS y
FROM events
"""

_CE01_ORACLE = f"""
WITH pts AS ({_sky_fixture('duckdb')})
SELECT g AS event_type, x, y, rid
FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE b.g = a.g AND b.x >= a.x AND b.y >= a.y
    AND (b.x > a.x OR b.y > a.y))
ORDER BY g, x, rid
"""


@register("skyline_frontier", _CE01_ORACLE)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.selection import skyline_2d

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    pts = spark.sql(_sky_fixture("spark"))
    return skyline_2d(pts, "g", "x", "y", "rid").withColumnRenamed(
        "g", "event_type")


# ---------------------------------------------------------------------------
# ce02 — LIS length per user (patience fold).
# ---------------------------------------------------------------------------

_LIS_FIXTURE = """
SELECT user_id, ts, event_id,
       (event_id * 2654435761 + 47) % 2147483648 % 100000 AS val
FROM events
"""

_CE02_ORACLE = f"""
WITH x AS ({_LIS_FIXTURE}),
s AS (
  SELECT user_id, list(val ORDER BY ts, event_id) AS vs
  FROM x GROUP BY user_id)
SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
       CAST(len(list_reduce(
         list_prepend(CAST([] AS BIGINT[]),
                      list_transform(vs, e -> [e])),
         (acc, v) -> CASE
           WHEN len(list_filter(acc, t -> t < v[1])) = len(acc)
           THEN list_append(acc, v[1])
           ELSE acc[1:len(list_filter(acc, t -> t < v[1]))]
                || [v[1]]
                || acc[len(list_filter(acc, t -> t < v[1])) + 2:]
         END)) AS BIGINT) AS lis_len
FROM s ORDER BY user_id
"""


@register("lis_length", _CE02_ORACLE)
def q_lis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import lis_length

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    x = spark.sql(_LIS_FIXTURE)
    return lis_length(x, "user_id", ["ts", "event_id"], "val")
