"""Wave-11 driver queries: EXACT dynamic time warping between paired
trajectories (the DP rearranged into prefix-sum + running-min windows
— one shared step-table generator renders the Spark loop's algebra as
chained CTEs for the DuckDB oracle), and per-key inter-arrival
burstiness (Goh & Barabasi), the heavy-tail detector a politeness
scheduler reads next to the waterfill budget.

Reference anchors: DTW generalizes the reference's street-name
Levenshtein rapprochement (bano/models.py kNN matching) from token
sequences to coordinate sequences; burstiness extends the sessionize/
staypoint family over the same event stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.operators.trajectory import dtw_cte_sql
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# z11 — DTW between the hausdorff fixture's track pairs, both tracks
# truncated to their first 8 points (pairs with a shorter member drop
# — deterministic at any sf). The oracle replays the EXACT rearranged
# DP (D[i][j] = P[j] + min_{k<=j}(E[k] - P[k-1])) via dtw_cte_sql —
# the same algebra the engine loops, so values match bit-for-bit
# before the final rounding.
# ---------------------------------------------------------------------------

_DTW_R = 8


def _z11_oracle() -> str:
    t = synth.traj_select_sql("duckdb")
    head = f"""WITH t AS ({t}),
tr AS (SELECT user_id, seq, x, y FROM t WHERE seq <= {_DTW_R}),
fl AS (SELECT user_id FROM tr GROUP BY user_id
       HAVING count(*) = {_DTW_R}),
tf AS (SELECT tr.* FROM tr JOIN fl USING (user_id)),
prs AS (SELECT a.user_id AS id_a, a.user_id + 1 AS id_b
        FROM fl a JOIN fl b ON b.user_id = a.user_id + 1
        WHERE a.user_id % 2 = 0),
cost AS (
  SELECT prs.id_a, prs.id_b, a.seq AS i, b.seq AS j,
         sqrt((a.x - b.x) * (a.x - b.x)
              + (a.y - b.y) * (a.y - b.y)) AS c
  FROM prs JOIN tf a ON a.user_id = prs.id_a
           JOIN tf b ON b.user_id = prs.id_b
),"""
    body = dtw_cte_sql("SELECT * FROM cost", _DTW_R, "duckdb")
    return (head + body.lstrip()
            + f"""
SELECT id_a, id_b, round(d, 3) AS dtw
FROM dtw_d{_DTW_R} WHERE j = {_DTW_R} ORDER BY id_a""")


@register("dtw_track_pairs", _z11_oracle())
def z_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.trajectory import dtw_pairs

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    traj = spark.sql(synth.traj_select_sql("spark"))
    users = traj.select("user_id").distinct()
    pairs = (users.filter(F.col("user_id") % 2 == 0)
             .select(F.col("user_id").alias("id_a"),
                     (F.col("user_id") + 1).alias("id_b"))
             .join(users.select(F.col("user_id").alias("id_b")), "id_b")
             .select("id_a", "id_b"))
    out = dtw_pairs(traj, pairs, _DTW_R)
    return (out.select("id_a", "id_b", F.round("dtw", 3).alias("dtw"))
            .orderBy("id_a"))


# ---------------------------------------------------------------------------
# z12 — per-user inter-arrival burstiness over the raw event stream:
# B = (sigma - mu)/(sigma + mu) of the gaps, from explicit sufficient
# statistics (library var_pop implementations differ numerically; the
# expanded expression is engine-portable).
# ---------------------------------------------------------------------------

_Z12_ORACLE = """
WITH g AS (
  SELECT user_id,
         (epoch_us(ts) - epoch_us(lag(ts) OVER (
              PARTITION BY user_id ORDER BY ts, event_id)))
         / 1000000.0 AS dt
  FROM events
),
agg AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
         sum(dt) AS s, sum(dt * dt) AS s2
  FROM g WHERE dt IS NOT NULL GROUP BY user_id
),
b AS (
  SELECT user_id, n_gaps, s / n_gaps AS mu,
         sqrt(s2 / n_gaps - (s / n_gaps) * (s / n_gaps)) AS sigma
  FROM agg
)
SELECT user_id, n_gaps,
       round(mu, 6) AS mean_gap_sec,
       round(sigma, 6) AS std_gap_sec,
       round(CASE WHEN sigma + mu > 0
                  THEN (sigma - mu) / (sigma + mu) ELSE 0.0 END, 6)
           AS burstiness
FROM b ORDER BY user_id
"""


@register("interarrival_burstiness", _Z12_ORACLE)
def z_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import interarrival_burstiness

    ev = _read(spark, sf_dir, "events")
    out = interarrival_burstiness(
        ev, "user_id", "ts", order_cols=[F.col("ts"), F.col("event_id")])
    return (out.select("user_id", "n_gaps",
                       F.round("mean_gap_sec", 6).alias("mean_gap_sec"),
                       F.round("std_gap_sec", 6).alias("std_gap_sec"),
                       F.round("burstiness", 6).alias("burstiness"))
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# z13 — STREAMING HLL: the per-type register state maintained
# incrementally over the event stream (applyInPandasWithState), md5
# bit math JVM-side so only (idx, rank) ints cross into Python. The
# converged registers must equal the batch sketch exactly (mergeable
# max-fold), so the SAME oracle as hll_distinct_users gates it.
# ---------------------------------------------------------------------------

from bano_spark.queries_wave10 import _Z01_ORACLE  # noqa: E402


@register("streaming_hll_distinct", _Z01_ORACLE)
def z_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql.window import Window

    from bano_spark.operators.sketches import (hll_estimate_col,
                                               hll_register_cols)
    from bano_spark.streaming.stateful import streaming_hll

    ev = _read(spark, sf_dir, "events")
    schema = ev.schema
    feed = (spark.readStream.schema(schema).parquet(sf_dir.rstrip("/"))
            .filter(F.input_file_name().endswith("events.parquet")))
    idx, rank = hll_register_cols(F.col("user_id"), 6)
    src = feed.select("event_type", idx.cast("int").alias("idx"),
                      rank.cast("int").alias("rank"))
    out = streaming_hll(src.groupBy("event_type"), p=6)
    ckpt = tempfile.mkdtemp(prefix="bano_hll_ckpt_")
    qname = "z13_hll"
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("update").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    tbl = spark.table(qname)
    w = Window.partitionBy("event_type").orderBy(F.desc("n_seen"))
    final = (tbl.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1)
             .select("event_type", "registers"))
    rows = final.collect()
    q.stop()
    conv = spark.createDataFrame(rows, final.schema)
    est = conv.select("event_type",
                      F.round(hll_estimate_col("registers", 6), 6)
                      .alias("hll_estimate"))
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_distinct")))
    return (est.join(exact, "event_type")
            .select("event_type", "exact_distinct", "hll_estimate")
            .orderBy("event_type"))
