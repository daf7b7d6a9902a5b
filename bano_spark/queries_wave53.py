"""Wave-53 driver queries: single-changepoint detection per key
(binary segmentation's first split on exact-integer prefix sums),
cross-entropy log loss of the hashed classifier, per-user rhumb-line
(loxodrome) navigation summaries over the synthetic trajectories, and
a Bing-quadkey encode/decode round-trip rolled up by parent prefix.

Float parity: the changepoint series is cents-quantized (exact-long
prefix sums -> bit-identical split scores); rhumb legs are per-row
transcendental expressions written in the same textual order in both
dialects and only the per-user reductions round."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.queries_wave39 import _AY02_SCORED, _ay02_scored
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# bm01 — best single changepoint of the hourly cents series per
# event type.
# ---------------------------------------------------------------------------

_BM01_ORACLE = """
WITH b AS (
  SELECT event_type AS k, date_trunc('hour', ts) AS t,
         sum(CAST(round(value * 100, 0) AS BIGINT)) AS y
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
p AS (SELECT k, t, y,
             count(*) OVER w AS i,
             sum(y) OVER w AS S,
             sum(y * y) OVER w AS Q
      FROM b WINDOW w AS (PARTITION BY k ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW)),
tot AS (SELECT k, count(*) AS n, sum(y) AS St, sum(y * y) AS Qt
        FROM b GROUP BY k),
c AS (SELECT p.k,
             (p.Q - p.S * p.S / p.i)
             + ((tot.Qt - p.Q)
                - (tot.St - p.S) * (tot.St - p.S) / (tot.n - p.i))
               AS sse,
             p.t, p.i
      FROM p JOIN tot ON tot.k = p.k WHERE p.i < tot.n),
best AS (SELECT k, sse, t, i FROM (
  SELECT k, sse, t, i,
         row_number() OVER (PARTITION BY k ORDER BY sse, t, i) AS rn
  FROM c) WHERE rn = 1)
SELECT best.k AS event_type, best.t AS split_t,
       CAST(best.i AS BIGINT) AS n_left,
       CAST(tot.n - best.i AS BIGINT) AS n_right,
       round(1.0 - best.sse
             / nullif(tot.Qt - tot.St * tot.St / tot.n, 0.0), 6)
         AS sse_reduction
FROM best JOIN tot ON tot.k = best.k ORDER BY event_type
"""


@register("changepoint_event_values", _BM01_ORACLE)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import changepoint_split

    b = (_read(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .groupBy(F.col("event_type"),
                  F.date_trunc("hour", F.col("ts")).alias("t"))
         .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long"))
              .alias("y")))
    return changepoint_split(b, "event_type", "t", "y")


# ---------------------------------------------------------------------------
# bm02 — log loss of the hashed classifier as p = (score + 1)/2.
# ---------------------------------------------------------------------------

_BM02_ORACLE = f"""
WITH {_AY02_SCORED},
r AS (SELECT (score + 1) / 2 AS p,
             CASE WHEN label THEN 1.0 ELSE 0.0 END AS y FROM lab),
c AS (SELECT least(greatest(p, 0.000001), 1.0 - 0.000001) AS p, y
      FROM r)
SELECT CAST(count(*) AS BIGINT) AS n,
       round(avg(y), 6) AS base_rate,
       round(avg(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))), 6) AS log_loss
FROM c
"""


@register("log_loss_eval", _BM02_ORACLE)
def q_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import log_loss

    scored = _ay02_scored(spark, sf_dir).select(
        ((F.col("score") + 1) / 2).alias("p"), "label")
    return log_loss(scored, "p", "label", eps=1e-6)


# ---------------------------------------------------------------------------
# bm03 — rhumb-line navigation per user over the synthetic
# trajectory, coordinates mapped to a mid-latitude lon/lat window.
# The 200 m grid quantization is the float-parity guard: every leg is
# either exactly zero or >= one grid step, so dpsi never sits in the
# catastrophic-cancellation regime where a 1-ulp libm difference
# between the JVM and DuckDB would be amplified ~1e9x; outputs round
# to centimetres, far above the residual ~1e-8 m per-leg error.
# ---------------------------------------------------------------------------

def _rhumb_oracle() -> str:
    return f"""
WITH tr AS ({synth.traj_select_sql('duckdb')}),
pt AS (SELECT user_id, ts, event_id,
              radians(floor(y / 200) * 0.002 + 20.0) AS phi,
              radians(floor(x / 200) * 0.002 - 5.0) AS lam
       FROM tr),
lg AS (SELECT user_id, phi, lam,
              lag(phi) OVER w AS phi0, lag(lam) OVER w AS lam0
       FROM pt WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
dd AS (SELECT user_id, phi - phi0 AS dphi, lam - lam0 AS dlam,
              ln(tan(pi() / 4 + phi / 2))
              - ln(tan(pi() / 4 + phi0 / 2)) AS dpsi,
              phi0
       FROM lg WHERE phi0 IS NOT NULL),
leg AS (SELECT user_id,
               6371000.0 * sqrt(dphi * dphi + q * q * dlam * dlam) AS d
        FROM (SELECT *,
                     CASE WHEN abs(dpsi) > 1e-12 THEN dphi / dpsi
                          ELSE cos(phi0) END AS q
              FROM dd)),
agg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_legs,
               sum(d) AS total FROM leg GROUP BY user_id),
fst AS (SELECT user_id, phi AS fphi, lam AS flam FROM (
  SELECT user_id, phi, lam,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM pt) WHERE rn = 1),
lst AS (SELECT user_id, phi AS lphi, lam AS llam FROM (
  SELECT user_id, phi, lam,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM pt) WHERE rn = 1),
nb AS (SELECT agg.user_id, agg.n_legs, agg.total,
              degrees(atan2(lst.llam - fst.flam,
                            ln(tan(pi() / 4 + lst.lphi / 2))
                            - ln(tan(pi() / 4 + fst.fphi / 2)))) AS ndeg
       FROM agg JOIN fst ON fst.user_id = agg.user_id
       JOIN lst ON lst.user_id = agg.user_id)
SELECT user_id, n_legs, round(total, 2) AS rhumb_total_m,
       round(CASE WHEN ndeg < 0 THEN ndeg + 360.0 ELSE ndeg END, 2)
         AS net_bearing_deg
FROM nb ORDER BY user_id
"""


@register("rhumb_line_navigation", _rhumb_oracle())
def q_rhumb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.geodesy import rhumb_legs

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    traj = spark.sql(synth.traj_select_sql("spark"))
    pts = traj.select(
        "user_id", "ts", "event_id",
        (F.floor(F.col("x") / 200) * 0.002 - 5.0).alias("lon"),
        (F.floor(F.col("y") / 200) * 0.002 + 20.0).alias("lat"))
    return rhumb_legs(pts, order_cols=["ts", "event_id"], round_to=2)


# ---------------------------------------------------------------------------
# bm04 — quadkey z12 encode/decode round-trip, rolled up by the z7
# parent prefix (prefix = parent tile at every level).
# ---------------------------------------------------------------------------

_QK_Z = 12


def _qk_digits_sql() -> str:
    parts = []
    for p in range(1, _QK_Z + 1):
        m = 2 ** (_QK_Z - p)
        parts.append(
            f"CAST((CASE WHEN (tx & {m}) <> 0 THEN 1 ELSE 0 END)"
            f" + (CASE WHEN (ty & {m}) <> 0 THEN 2 ELSE 0 END)"
            " AS VARCHAR)")
    return "concat(" + ", ".join(parts) + ")"


def _qk_decode_sql(axis: str) -> str:
    terms = []
    for p in range(1, _QK_Z + 1):
        m = 2 ** (_QK_Z - p)
        if axis == "x":
            terms.append(
                f"(CAST(substr(qk, {p}, 1) AS INT) & 1) * {m}")
        else:
            terms.append(
                f"(CAST(substr(qk, {p}, 1) AS INT) >> 1) * {m}")
    return " + ".join(terms)


_BM04_ORACLE = f"""
WITH tr AS ({synth.traj_select_sql('duckdb')}),
tl AS (SELECT
  CAST(floor((x - -20037508.34) / (40075016.68 / 4096.0)) AS BIGINT) AS tx,
  CAST(floor((20037508.34 - y) / (40075016.68 / 4096.0)) AS BIGINT) AS ty
  FROM tr),
qt AS (SELECT tx, ty, {_qk_digits_sql()} AS qk FROM tl),
dc AS (SELECT tx, ty, qk,
              {_qk_decode_sql('x')} AS tx2,
              {_qk_decode_sql('y')} AS ty2
       FROM qt)
SELECT substr(qk, 1, 7) AS qk7,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(count(DISTINCT qk) AS BIGINT) AS n_tiles,
       CAST(sum(CASE WHEN tx2 <> tx OR ty2 <> ty THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mismatch
FROM dc GROUP BY 1 ORDER BY qk7
"""


@register("quadkey_prefix_rollup", _BM04_ORACLE)
def q_quadkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.geo import tiles

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    traj = spark.sql(synth.traj_select_sql("spark"))
    d = (traj.select(tiles.tile_x(F.col("x"), _QK_Z).alias("tx"),
                     tiles.tile_y(F.col("y"), _QK_Z).alias("ty"))
         .withColumn("qk", tiles.quadkey(F.col("tx"), F.col("ty"), _QK_Z)))
    tx2, ty2 = tiles.quadkey_decode(F.col("qk"), _QK_Z)
    d = d.withColumn("_mis", ((tx2 != F.col("tx"))
                              | (ty2 != F.col("ty"))).cast("int"))
    return (d.groupBy(F.substring("qk", 1, 7).alias("qk7"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_points"),
                 F.countDistinct("qk").cast("bigint").alias("n_tiles"),
                 F.sum("_mis").cast("bigint").alias("n_mismatch"))
            .orderBy("qk7"))
