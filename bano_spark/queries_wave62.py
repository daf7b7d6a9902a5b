"""Wave-62 driver queries: the first three learned BPE merges over
the corpus word-frequency table (the Sennrich et al. 2016 tokenizer-
training loop, leftmost-greedy overlap rule expressed as
gaps-and-islands parity), and per-user path/area statistics in the
Albers equal-area conic plane (the trustworthy-area complement of the
wave-59 Mercator distortion audit).

Float parity: BPE is all-integer (nothing rounded); Albers shares its
projection expressions TEXTUALLY between the Spark plan and the
oracle (the vincenty_stages discipline) and rounds only the per-group
reductions at cm grain, eight orders above per-row libm noise."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.operators.geodesy import albers_xy_sql
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# bv01 — first 3 BPE merges (weighted pair counts, greedy non-overlap).
# ---------------------------------------------------------------------------

def _bpe_oracle(rounds: int = 3) -> str:
    parts = ["""
WITH d AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents),
wf AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM d WHERE w <> '' GROUP BY w),
s0 AS MATERIALIZED (
  SELECT w, c, CAST(i AS BIGINT) AS p,
         substr(w, CAST(i AS INT), 1) AS s
  FROM wf, unnest(generate_series(1, len(w))) AS t(i))"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
pr{k} AS MATERIALIZED (
  SELECT w, c, p, s, lead(s) OVER (PARTITION BY w ORDER BY p) AS t
  FROM s{k - 1}),
best{k} AS MATERIALIZED (
  SELECT s AS bl, t AS br, sum(c) AS cnt FROM pr{k}
  WHERE t IS NOT NULL
  GROUP BY s, t ORDER BY cnt DESC, s, t LIMIT 1),
mt{k} AS (
  SELECT pr.w, pr.c, pr.p, pr.s, pr.t,
         coalesce(pr.s = b.bl AND pr.t = b.br, false) AS m
  FROM pr{k} pr, best{k} b),
isl{k} AS (
  SELECT *, p - row_number() OVER (PARTITION BY w, m ORDER BY p)
         AS grp
  FROM mt{k}),
el{k} AS (
  SELECT *, m AND (row_number() OVER (PARTITION BY w, m, grp
                                      ORDER BY p) % 2 = 1) AS e
  FROM isl{k}),
cons{k} AS (
  SELECT *, coalesce(lag(e) OVER (PARTITION BY w ORDER BY p),
                     false) AS cns
  FROM el{k}),
s{k} AS MATERIALIZED (
  SELECT w, c,
         CAST(row_number() OVER (PARTITION BY w ORDER BY p)
              AS BIGINT) AS p,
         CASE WHEN e THEN s || t ELSE s END AS s
  FROM cons{k} WHERE NOT cns),
r{k} AS (
  SELECT CAST({k} AS BIGINT) AS merge_round, b.bl AS lhs,
         b.br AS rhs, CAST(b.cnt AS BIGINT) AS pair_count,
         (SELECT CAST(sum(c) AS BIGINT) FROM s{k}) AS n_tokens_after
  FROM best{k} b)""")
    sel = " UNION ALL ".join(f"SELECT * FROM r{k}"
                             for k in range(1, rounds + 1))
    parts.append(f"\n{sel} ORDER BY merge_round")
    return "".join(parts)


@register("bpe_merge_learning", _bpe_oracle(3))
def q_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import bpe_learn_merges

    return bpe_learn_merges(_read(spark, sf_dir, "documents"), rounds=3)


# ---------------------------------------------------------------------------
# bv02 — per-user Albers equal-area path length + bbox area.
# ---------------------------------------------------------------------------

def _albers_oracle() -> str:
    x_sql, y_sql = albers_xy_sql("lon", "lat")
    return f"""
WITH tr AS ({synth.traj_select_sql('duckdb')}),
pt AS (SELECT user_id, ts, event_id,
              x / 100000.0 + 2.0 AS lon,
              y / 100000.0 + 20.0 AS lat FROM tr),
pj AS (SELECT user_id, ts, event_id,
              {x_sql} AS px, {y_sql} AS py FROM pt),
sg AS (SELECT user_id, px, py,
              lag(px) OVER w AS qx, lag(py) OVER w AS qy
       FROM pj
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, CAST(count(*) AS BIGINT) AS n_points,
       round(sum(CASE WHEN qx IS NULL THEN 0.0
                 ELSE sqrt((px - qx) * (px - qx)
                           + (py - qy) * (py - qy)) END), 2)
         AS path_len_m,
       round((max(px) - min(px)) * (max(py) - min(py)), 2)
         AS bbox_area_m2
FROM sg GROUP BY user_id ORDER BY user_id
"""


@register("albers_equal_area_stats", _albers_oracle())
def q_albers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.geodesy import albers_path_stats

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    traj = spark.sql(synth.traj_select_sql("spark"))
    pts = traj.select("user_id", "ts", "event_id",
                      (F.col("x") / 100000.0 + 2.0).alias("lon"),
                      (F.col("y") / 100000.0 + 20.0).alias("lat"))
    return albers_path_stats(pts, group_col="user_id",
                             order_cols=("ts", "event_id"))
