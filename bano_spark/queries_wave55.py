"""Wave-55 driver queries: k-truss decomposition (iterative edge
peeling, unrolled-round oracle) and the per-user Weiszfeld geometric
median (facility-location meeting point) over the synthetic planar
trajectories.

Float parity: k-truss is pure integer set arithmetic (supports are
counts); the Weiszfeld trajectory is pinned by rounding each
iteration's estimate to centimetres (the pagerank per-iteration
rounding discipline) — the 1/d weights are irrational, and cm grain
sits ~6 orders above the cross-engine aggregation-order noise."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# a denser organic graph than wave 52's: two quadratic-hash families
# unioned, so the 3-truss peels a nontrivial 15-edge cohesive core
_EDGES2_SQL = (
    "SELECT (doc_id*doc_id*13 + doc_id*7) % 50 AS s, "
    "(doc_id*doc_id*29 + doc_id*3 + 1) % 50 AS d "
    "FROM documents WHERE doc_id % 7 = 0 "
    "UNION ALL "
    "SELECT (doc_id*doc_id*11 + doc_id*5) % 50 AS s, "
    "(doc_id*doc_id*23 + doc_id*9 + 2) % 50 AS d "
    "FROM documents WHERE doc_id % 9 = 0")


# ---------------------------------------------------------------------------
# bo01 — 3-truss of the union graph, 3 unrolled oracle rounds
# (fixpoint is reached after 1 dropping round; extra rounds are
# no-ops, which is exactly the engine's convergence semantics).
# ---------------------------------------------------------------------------

def _truss_oracle(k: int, rounds: int) -> str:
    parts = [f"""
WITH raw AS ({_EDGES2_SQL}),
r0 AS MATERIALIZED (
  SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
  FROM raw WHERE s <> d)"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
tri{i} AS MATERIALIZED (
  SELECT x.u AS a, x.v AS b, y.v AS c
  FROM r{i-1} x JOIN r{i-1} y ON x.u = y.u AND x.v < y.v
  JOIN r{i-1} z ON z.u = x.v AND z.v = y.v),
s{i} AS MATERIALIZED (
  SELECT u, v, count(*) AS support FROM (
    SELECT t.a AS u, t.b AS v FROM tri{i} t
    UNION ALL SELECT t.a, t.c FROM tri{i} t
    UNION ALL SELECT t.b, t.c FROM tri{i} t) GROUP BY u, v),
f{i} AS MATERIALIZED (
  SELECT e.u, e.v, coalesce(s.support, 0) AS support
  FROM r{i-1} e LEFT JOIN s{i} s ON s.u = e.u AND s.v = e.v),
r{i} AS MATERIALIZED (
  SELECT u, v FROM f{i} WHERE support >= {k - 2})""")
    parts.append(f"""
SELECT u, v, CAST(support AS BIGINT) AS support
FROM f{rounds} ORDER BY u, v""")
    return "".join(parts)


@register("k_truss_web", _truss_oracle(3, 3))
def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import k_truss

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    raw = spark.sql(_EDGES2_SQL)
    return k_truss(raw, 3, src="s", dst="d")


# ---------------------------------------------------------------------------
# bo02 — per-user geometric median (meeting point), 5 Weiszfeld
# rounds, cm-pinned trajectory.
# ---------------------------------------------------------------------------

def _median_oracle(iters: int) -> str:
    parts = [f"""
WITH tr AS ({synth.traj_select_sql('duckdb')}),
b AS (SELECT user_id AS g, CAST(x AS DOUBLE) AS x,
             CAST(y AS DOUBLE) AS y FROM tr),
e0 AS (SELECT g, round(avg(x), 2) AS cx, round(avg(y), 2) AS cy
       FROM b GROUP BY g)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
e{i} AS (SELECT g, round(sum(x / d) / sum(1.0 / d), 2) AS cx,
                round(sum(y / d) / sum(1.0 / d), 2) AS cy
         FROM (SELECT b.g, b.x, b.y,
                      greatest(sqrt((b.x - e.cx) * (b.x - e.cx)
                                    + (b.y - e.cy) * (b.y - e.cy)),
                               0.000000001) AS d
               FROM b JOIN e{i-1} e ON e.g = b.g)
         GROUP BY g)""")
    parts.append(f""",
fin AS (SELECT b.g, e.cx, e.cy,
               sqrt((b.x - e.cx) * (b.x - e.cx)
                    + (b.y - e.cy) * (b.y - e.cy)) AS d
        FROM b JOIN e{iters} e ON e.g = b.g)
SELECT g AS user_id, max(cx) AS median_x, max(cy) AS median_y,
       round(avg(d), 2) AS mean_dist_m
FROM fin GROUP BY g ORDER BY user_id""")
    return "".join(parts)


@register("geometric_median_meeting", _median_oracle(5))
def q_geomedian(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.trajectory import geometric_median

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    traj = spark.sql(synth.traj_select_sql("spark"))
    return geometric_median(traj, group_col="user_id",
                            x_col="x", y_col="y", iters=5)
