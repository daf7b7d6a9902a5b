"""Wave-35 driver queries: streaming token-bucket politeness (the
stateful streaming twin of the wave-34 batch fold, convergence-
checked against the same oracle), grid pole-of-inaccessibility label
points over the refine polygons, jackknife variance of the combined
ratio estimator, Welch's two-sample t-test, and per-group trimmed
means.

Reference anchors: the label point is the placement problem behind
the reference's point_par_rue/centroid exports (bano/sql/02_*); the
streaming bucket extends §2.9; jackknife/Welch/trimmed-mean give the
per-commune rates and A/B deltas their honest uncertainty — the
statistics layer importance heuristics lean on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bano_spark import synth
from bano_spark.queries_wave34 import _AT04_ORACLE, _at01_areas
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# au01 — STREAMING token bucket: applyInPandasWithState replay of the
# wave-34 admission fold; the final per-host batch row converges to
# the batch fold, so the SAME oracle checks it.
# ---------------------------------------------------------------------------


@register("streaming_token_bucket", _AT04_ORACLE)
def q_streaming_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bano_spark.streaming.stateful import streaming_token_bucket

    schema = _read(spark, sf_dir, "events").schema
    feed = (spark.readStream.schema(schema).parquet(sf_dir.rstrip("/"))
            .filter(F.input_file_name().endswith("events.parquet")))
    src = feed.select(
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string"))
        .alias("host"),
        F.floor(F.unix_timestamp("ts") / 3600).cast("double").alias("t"))
    out = streaming_token_bucket(src.groupBy("host"), 3.0, 0.25)
    ckpt = tempfile.mkdtemp(prefix="bano_bucket_ckpt_")
    qname = "au01_bucket"
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("update").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    tbl = spark.table(qname)
    w = Window.partitionBy("host")
    latest = (tbl.withColumn("_mx", F.max("n_requests").over(w))
              .filter(F.col("n_requests") == F.col("_mx")))
    final = (latest.select("host", "n_requests", "n_admitted",
                           "n_deferred",
                           F.round("final_tokens", 6)
                           .alias("final_tokens"))
             .orderBy("host"))
    rows = final.collect()
    q.stop()
    return spark.createDataFrame(rows, final.schema)


# ---------------------------------------------------------------------------
# au02 — grid label points (pole of inaccessibility) for the refine
# polygons at pitch 250. The oracle regenerates the identical lattice
# from the Python polygon constants and replays the same even-odd +
# min-segment-distance arithmetic.
# ---------------------------------------------------------------------------

def _au02_polys() -> list:
    polys = []
    for pid, x0, y0, h in synth._TRI_SPECS:
        polys.append((pid, [[x0, y0], [x0 + 2 * h, y0],
                            [x0 + h, y0 + 2 * h], [x0, y0]]))
    pid, x0, y0 = synth._L_SPEC
    polys.append((pid, [[x0, y0], [x0 + 4000.0, y0],
                        [x0 + 4000.0, y0 + 2000.0],
                        [x0 + 1500.0, y0 + 2000.0],
                        [x0 + 1500.0, y0 + 6000.0],
                        [x0, y0 + 6000.0], [x0, y0]]))
    return polys


def _au02_oracle(pitch: float = 250.0) -> str:
    edges_vals = []
    cells_parts = []
    for pid, ring in _au02_polys():
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            edges_vals.append(
                f"('{pid}', CAST({x1!r} AS DOUBLE), CAST({y1!r} AS DOUBLE),"
                f" CAST({x2!r} AS DOUBLE), CAST({y2!r} AS DOUBLE))")
        xs = [v[0] for v in ring]
        ys = [v[1] for v in ring]
        nx = int((max(xs) - min(xs)) // pitch)
        ny = int((max(ys) - min(ys)) // pitch)
        cells_parts.append(
            f"SELECT '{pid}' AS pid, "
            f"CAST({min(xs)!r} AS DOUBLE) + i.i * {pitch!r} "
            f"  + {pitch / 2!r} AS cx, "
            f"CAST({min(ys)!r} AS DOUBLE) + j.j * {pitch!r} "
            f"  + {pitch / 2!r} AS cy "
            f"FROM (SELECT unnest(generate_series(0, {nx - 1})) AS i) i, "
            f"(SELECT unnest(generate_series(0, {ny - 1})) AS j) j")
    return f"""
WITH edges(pid, x1, y1, x2, y2) AS (VALUES {", ".join(edges_vals)}),
cells AS ({" UNION ALL ".join(cells_parts)}),
j AS (
  SELECT c.pid, c.cx, c.cy,
         CASE WHEN ((e.y1 > c.cy) <> (e.y2 > c.cy))
               AND c.cx < e.x1 + (c.cy - e.y1) * (e.x2 - e.x1)
                                 / (e.y2 - e.y1)
              THEN 1 ELSE 0 END AS crs,
         (c.cx - (e.x1 + least(greatest(
             ((c.cx - e.x1) * (e.x2 - e.x1)
              + (c.cy - e.y1) * (e.y2 - e.y1))
             / ((e.x2 - e.x1) * (e.x2 - e.x1)
                + (e.y2 - e.y1) * (e.y2 - e.y1)),
             CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE)) * (e.x2 - e.x1)))
         * (c.cx - (e.x1 + least(greatest(
             ((c.cx - e.x1) * (e.x2 - e.x1)
              + (c.cy - e.y1) * (e.y2 - e.y1))
             / ((e.x2 - e.x1) * (e.x2 - e.x1)
                + (e.y2 - e.y1) * (e.y2 - e.y1)),
             CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE)) * (e.x2 - e.x1)))
         + (c.cy - (e.y1 + least(greatest(
             ((c.cx - e.x1) * (e.x2 - e.x1)
              + (c.cy - e.y1) * (e.y2 - e.y1))
             / ((e.x2 - e.x1) * (e.x2 - e.x1)
                + (e.y2 - e.y1) * (e.y2 - e.y1)),
             CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE)) * (e.y2 - e.y1)))
         * (c.cy - (e.y1 + least(greatest(
             ((c.cx - e.x1) * (e.x2 - e.x1)
              + (c.cy - e.y1) * (e.y2 - e.y1))
             / ((e.x2 - e.x1) * (e.x2 - e.x1)
                + (e.y2 - e.y1) * (e.y2 - e.y1)),
             CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE)) * (e.y2 - e.y1)))
           AS d2
  FROM cells c JOIN edges e ON e.pid = c.pid
),
scored AS (
  SELECT pid, cx, cy, sum(crs) AS nc, min(d2) AS d2
  FROM j GROUP BY pid, cx, cy
),
inside AS (SELECT * FROM scored WHERE nc % 2 = 1),
rk AS (
  SELECT pid, cx, cy, d2,
         row_number() OVER (PARTITION BY pid
                            ORDER BY d2 DESC, cx, cy) AS rn
  FROM inside
)
SELECT pid AS poly_id, round(cx, 6) AS label_x, round(cy, 6) AS label_y,
       round(sqrt(d2), 6) AS clearance
FROM rk WHERE rn = 1 ORDER BY poly_id
"""


@register("grid_label_point", _au02_oracle())
def q_label_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.overlay import grid_label_point

    polys = synth.refine_polygons_df(spark)
    return grid_label_point(polys, 250.0).orderBy("poly_id")


# ---------------------------------------------------------------------------
# au03 — jackknife variance of the per-nation combined ratio.
# ---------------------------------------------------------------------------

_AU03_ORACLE = f"""
WITH a AS ({_at01_areas('duckdb')}),
g AS (SELECT CAST(count(*) AS DOUBLE) AS k,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(n) AS DOUBLE) AS sn FROM a),
m AS (
  SELECT g.k, g.sy, g.sn,
         sum((g.sy - a.y) / (g.sn - a.n)) AS sr,
         sum(((g.sy - a.y) / (g.sn - a.n))
             * ((g.sy - a.y) / (g.sn - a.n))) AS srr
  FROM a CROSS JOIN g GROUP BY g.k, g.sy, g.sn
)
SELECT CAST(k AS BIGINT) AS k, round(sy / sn, 6) AS ratio,
       round((k - 1) / k * (srr - sr * sr / k), 6) AS jk_variance,
       round(sqrt(greatest((k - 1) / k * (srr - sr * sr / k),
                           CAST(0 AS DOUBLE))), 6) AS jk_se
FROM m
"""


@register("jackknife_ratio_variance", _AU03_ORACLE)
def q_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import jackknife_ratio_variance

    _read(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    areas = spark.sql(_at01_areas("spark"))
    return jackknife_ratio_variance(areas)


# ---------------------------------------------------------------------------
# au04 — Welch's t on event values split by a user-parity flag.
# ---------------------------------------------------------------------------

_AU04_ORACLE = """
WITH a AS (
  SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
              AS DOUBLE) AS n1,
         sum(CASE WHEN user_id % 2 = 0 THEN value ELSE 0 END) AS s1,
         sum(CASE WHEN user_id % 2 = 0 THEN value * value ELSE 0 END)
           AS ss1,
         CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
              AS DOUBLE) AS n2,
         sum(CASE WHEN user_id % 2 <> 0 THEN value ELSE 0 END) AS s2,
         sum(CASE WHEN user_id % 2 <> 0 THEN value * value ELSE 0 END)
           AS ss2
  FROM events
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       round(s1 / n1 - s2 / n2, 6) AS mean_diff,
       round((s1 / n1 - s2 / n2)
             / sqrt(((ss1 - n1 * (s1 / n1) * (s1 / n1)) / (n1 - 1)) / n1
                  + ((ss2 - n2 * (s2 / n2) * (s2 / n2)) / (n2 - 1)) / n2),
             6) AS t_stat,
       round((((ss1 - n1 * (s1 / n1) * (s1 / n1)) / (n1 - 1)) / n1
            + ((ss2 - n2 * (s2 / n2) * (s2 / n2)) / (n2 - 1)) / n2)
           * (((ss1 - n1 * (s1 / n1) * (s1 / n1)) / (n1 - 1)) / n1
            + ((ss2 - n2 * (s2 / n2) * (s2 / n2)) / (n2 - 1)) / n2)
           / ((((ss1 - n1 * (s1 / n1) * (s1 / n1)) / (n1 - 1)) / n1)
              * (((ss1 - n1 * (s1 / n1) * (s1 / n1)) / (n1 - 1)) / n1)
              / (n1 - 1)
            + (((ss2 - n2 * (s2 / n2) * (s2 / n2)) / (n2 - 1)) / n2)
              * (((ss2 - n2 * (s2 / n2) * (s2 / n2)) / (n2 - 1)) / n2)
              / (n2 - 1)), 6) AS df
FROM a
"""


@register("welch_ttest", _AU04_ORACLE)
def q_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import welch_ttest

    ev = _read(spark, sf_dir, "events").withColumn(
        "treat", F.col("user_id") % 2 == 0)
    return welch_ttest(ev, "treat", "value")


# ---------------------------------------------------------------------------
# au05 — 10% symmetric trimmed mean of event values per event type
# (ties broken by event_id — a total order, the engine contract).
# ---------------------------------------------------------------------------

_AU05_ORACLE = """
WITH d AS (
  SELECT event_type, value, event_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
t AS (SELECT *, CAST(floor(n * 0.1) AS BIGINT) AS tr FROM d)
SELECT event_type, CAST(any_value(n) AS BIGINT) AS n,
       CAST(any_value(tr) AS BIGINT) AS n_trimmed_each_side,
       round(avg(CASE WHEN rn > tr AND rn <= n - tr
                      THEN CAST(value AS DOUBLE) END), 6) AS trimmed_mean
FROM t GROUP BY event_type ORDER BY event_type
"""


@register("trimmed_mean", _AU05_ORACLE)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import trimmed_mean

    ev = _read(spark, sf_dir, "events")
    return (trimmed_mean(ev, "event_type", "value",
                         order_tiebreak="event_id")
            .orderBy("event_type"))
