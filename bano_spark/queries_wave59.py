"""Wave-59 driver queries: Chaikin corner-cutting smoothing of the
synthetic trajectories (exploded row form — the scalable shape),
per-user Tissot distortion audit of the spherical-Mercator plane the
tile grid lives on, and circular bearing dispersion with the von
Mises concentration estimate.

Float parity: Chaikin coordinates stay exact multiples of 4^-iters of
the integer inputs (no rounding until the final length sums, cm
grain); Tissot and the circular stats are per-row transcendentals in
identical textual order with only the per-group reductions rounded."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# br01 — Chaikin smoothing, 2 rounds, per-user length audit.
# ---------------------------------------------------------------------------

def _chaikin_oracle(iters: int) -> str:
    parts = [f"""
WITH tr AS ({synth.traj_select_sql('duckdb')}),
c0 AS MATERIALIZED (SELECT user_id AS g, CAST(seq AS DOUBLE) AS s,
                           x, y FROM tr)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
lg{i} AS MATERIALIZED (
  SELECT g, s, x, y, lag(s) OVER w AS ps,
         lag(x) OVER w AS px, lag(y) OVER w AS py
  FROM c{i - 1} WINDOW w AS (PARTITION BY g ORDER BY s)),
c{i} AS MATERIALIZED (
  SELECT g, s, x, y FROM (
    SELECT g, s, x, y,
           row_number() OVER (PARTITION BY g ORDER BY s) AS rn
    FROM c{i - 1}) WHERE rn = 1
  UNION ALL
  SELECT g, ps + (s - ps) * 0.25,
         px * 0.75 + x * 0.25, py * 0.75 + y * 0.25
  FROM lg{i} WHERE ps IS NOT NULL
  UNION ALL
  SELECT g, ps + (s - ps) * 0.75,
         px * 0.25 + x * 0.75, py * 0.25 + y * 0.75
  FROM lg{i} WHERE ps IS NOT NULL
  UNION ALL
  SELECT g, s, x, y FROM (
    SELECT g, s, x, y,
           row_number() OVER (PARTITION BY g
                              ORDER BY s DESC) AS rn
    FROM c{i - 1}) WHERE rn = 1)""")
    parts.append(f""",
nin AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM c0 GROUP BY g),
lgf AS (SELECT g, x, y, lag(x) OVER w AS px, lag(y) OVER w AS py
        FROM c{iters} WINDOW w AS (PARTITION BY g ORDER BY s)),
fin AS (SELECT g, CAST(count(*) AS BIGINT) AS n_out,
               round(sum(sqrt((x - px) * (x - px)
                              + (y - py) * (y - py))), 2) AS len
        FROM lgf GROUP BY g)
SELECT nin.g AS user_id, nin.n AS n_verts_in, fin.n_out AS n_verts_out,
       fin.len AS smoothed_length
FROM nin JOIN fin ON fin.g = nin.g ORDER BY user_id""")
    return "".join(parts)


@register("chaikin_smooth_lengths", _chaikin_oracle(2))
def q_chaikin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.simplify import chaikin_length_stats

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    traj = spark.sql(synth.traj_select_sql("spark"))
    return chaikin_length_stats(traj, group_col="user_id",
                                seq_col="seq", iters=2, round_to=2)


# ---------------------------------------------------------------------------
# br02 — Tissot distortion audit at the trajectory latitudes.
# ---------------------------------------------------------------------------

def _tissot_oracle() -> str:
    return f"""
WITH tr AS ({synth.traj_select_sql('duckdb')}),
p AS (SELECT user_id AS g,
             1.0 / cos(radians(y / 100000.0 + 20.0)) AS k FROM tr)
SELECT g AS user_id, CAST(count(*) AS BIGINT) AS n_points,
       round(avg(k), 6) AS mean_scale,
       round(max(k), 6) AS max_scale,
       round(avg(k * k), 6) AS mean_areal
FROM p GROUP BY g ORDER BY user_id
"""


@register("tissot_mercator_distortion", _tissot_oracle())
def q_tissot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.geodesy import tissot_mercator_stats

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    traj = spark.sql(synth.traj_select_sql("spark"))
    pts = traj.select("user_id",
                      (F.col("y") / 100000.0 + 20.0).alias("lat"))
    return tissot_mercator_stats(pts, group_col="user_id")


# ---------------------------------------------------------------------------
# br03 — circular dispersion + von Mises kappa of move bearings.
# ---------------------------------------------------------------------------

def _kappa_oracle() -> str:
    return f"""
WITH tr AS ({synth.traj_select_sql('duckdb')}),
mv AS (SELECT user_id AS g, x - lag(x) OVER w AS dx,
              y - lag(y) OVER w AS dy
       FROM tr WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
th AS (SELECT g, atan2(dy, dx) AS t FROM mv
       WHERE dx IS NOT NULL AND NOT (dx = 0 AND dy = 0)),
ag AS (SELECT g, CAST(count(*) AS BIGINT) AS n_moves,
              avg(cos(t)) AS mc, avg(sin(t)) AS ms FROM th GROUP BY g),
rr AS (SELECT g, n_moves, mc, ms,
              least(sqrt(mc * mc + ms * ms), 0.999999) AS r FROM ag)
SELECT g AS user_id, n_moves,
       round(CASE WHEN degrees(atan2(ms, mc)) < 0
             THEN degrees(atan2(ms, mc)) + 360.0
             ELSE degrees(atan2(ms, mc)) END, 6) AS mean_bearing_deg,
       round(1.0 - r, 6) AS circ_var,
       round(CASE WHEN r < 0.53
                  THEN 2.0 * r + r * r * r
                       + 5.0 * r * r * r * r * r / 6.0
             WHEN r < 0.85
                  THEN -0.4 + 1.39 * r + 0.43 / (1.0 - r)
             ELSE 1.0 / (r * r * r - 4.0 * r * r + 3.0 * r) END, 6)
         AS kappa
FROM rr ORDER BY user_id
"""


@register("circular_kappa_moves", _kappa_oracle())
def q_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.trajectory import circular_dispersion

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    traj = spark.sql(synth.traj_select_sql("spark"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    mv = (traj
          .withColumn("dx", F.col("x") - F.lag("x").over(w))
          .withColumn("dy", F.col("y") - F.lag("y").over(w))
          .filter(F.col("dx").isNotNull()
                  & ~((F.col("dx") == 0) & (F.col("dy") == 0))))
    return circular_dispersion(mv, group_col="user_id")
