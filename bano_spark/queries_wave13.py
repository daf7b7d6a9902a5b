"""Wave-13 driver queries: corpus-shape statistics (Heaps' law fit,
Monroe log-odds distinguishing keywords), distribution statistics
(per-group weighted medians, the Gini concentration of crawl
attention), and Mann-Kendall trend tests per spatial cell over daily
bins — the nonparametric core of emerging-hot-spot analysis.

Reference anchors: the Gini/weighted-median family generalizes the
reference's per-commune mass statistics (bano/sql batch stats); the
Mann-Kendall cells extend the Getis-Ord/Moran hot-spot family with
the TIME axis over the same tiling machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"


# ---------------------------------------------------------------------------
# z21 — Heaps' law fit over the documents corpus: V(n) = K n^beta
# from 10 evenly spaced prefix checkpoints; the engine's global token
# position is a distributed prefix sum (never a single-partition
# sort), the oracle's a plain row_number. The OLS is the identical
# left-associated expression chain in both engines.
# ---------------------------------------------------------------------------

def _z21_oracle() -> str:
    # the engine computes its checkpoint ladder from the driver-side
    # token count N; a static oracle string can't, so it re-derives
    # the identical ladder in SQL from N itself.
    head = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS t,
         generate_subscripts({_TOKS}, 1) AS p
  FROM documents
),
g AS (
  SELECT t, row_number() OVER (ORDER BY doc_id, p) AS gp
  FROM tok
),
fp AS (SELECT t, min(gp) AS fp FROM g GROUP BY t),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g),
lad AS (
  SELECT k, GREATEST(1, (k * nn.n) // 10) AS nk
  FROM (SELECT unnest(generate_series(1, 10)) AS k) ks, nn
),
vk AS (
  SELECT lad.k, lad.nk,
         CAST((SELECT count(*) FROM fp WHERE fp.fp <= lad.nk) AS BIGINT)
             AS v
  FROM lad
),
pts AS (SELECT k, ln(CAST(nk AS DOUBLE)) AS lx,
               ln(CAST(v AS DOUBLE)) AS ly, v FROM vk)
"""
    # left-associated sums in k order == the engine's expression chain
    sx = " + ".join(f"max(CASE WHEN k = {k} THEN lx END)"
                    for k in range(1, 11))
    sy = " + ".join(f"max(CASE WHEN k = {k} THEN ly END)"
                    for k in range(1, 11))
    sxy = " + ".join(f"max(CASE WHEN k = {k} THEN lx * ly END)"
                     for k in range(1, 11))
    sxx = " + ".join(f"max(CASE WHEN k = {k} THEN lx * lx END)"
                     for k in range(1, 11))
    return head + f""",
s AS (SELECT {sx} AS sx, {sy} AS sy, {sxy} AS sxy, {sxx} AS sxx,
             max(CASE WHEN k = 10 THEN v END) AS vtot
      FROM pts),
b AS (SELECT sx, sy, vtot,
             (sxy - sx * sy / 10.0) / (sxx - sx * sx / 10.0) AS beta
      FROM s)
SELECT nn.n AS n_tokens, b.vtot AS n_vocab,
       round(b.beta, 6) AS heaps_beta,
       round(exp((b.sy - b.beta * b.sx) / 10.0), 6) AS heaps_k
FROM b, nn
"""


@register("heaps_law_fit", _z21_oracle())
def z_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import heaps_law

    docs = _read(spark, sf_dir, "documents")
    out = heaps_law(docs, checkpoints=10)
    return out.select("n_tokens", "n_vocab",
                      F.round("heaps_beta", 6).alias("heaps_beta"),
                      F.round("heaps_k", 6).alias("heaps_k"))


# ---------------------------------------------------------------------------
# z22 — Monroe log-odds distinguishing keywords per source (informative
# Dirichlet prior = the corpus counts), top-3 by z with lexicographic
# tie-break.
# ---------------------------------------------------------------------------

_Z22_ORACLE = f"""
WITH toks AS (SELECT source AS src, unnest({_TOKS}) AS t FROM documents),
ysw AS (SELECT src, t, CAST(count(*) AS BIGINT) AS ysw
        FROM toks GROUP BY src, t),
yw AS (SELECT t, CAST(count(*) AS BIGINT) AS yw FROM toks GROUP BY t),
ns AS (SELECT src, CAST(count(*) AS BIGINT) AS ns FROM toks GROUP BY src),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks),
sc AS (
  SELECT ysw.src, ysw.t, ysw.ysw,
         (ln((ysw.ysw + yw.yw) / (ns.ns + nn.n - ysw.ysw - yw.yw))
          - ln((yw.yw + yw.yw) / (nn.n + nn.n - yw.yw - yw.yw)))
         / sqrt(1.0 / (ysw.ysw + yw.yw) + 1.0 / (yw.yw + yw.yw)) AS z
  FROM ysw JOIN yw ON yw.t = ysw.t JOIN ns ON ns.src = ysw.src, nn
),
rk AS (
  SELECT src, t, ysw, z,
         row_number() OVER (PARTITION BY src ORDER BY z DESC, t) AS rank
  FROM sc
)
SELECT src AS source, t AS token, ysw AS n_in_source,
       round(z, 6) AS z, CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 3 ORDER BY source, rank
"""


@register("log_odds_keywords", _Z22_ORACLE)
def z_log_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import log_odds_keywords

    docs = _read(spark, sf_dir, "documents")
    out = log_odds_keywords(docs, k=3)
    return (out.select("source", "token", "n_in_source",
                       F.round("z", 6).alias("z"),
                       F.col("rank").cast("int").alias("rank"))
            .orderBy("source", "rank"))


# ---------------------------------------------------------------------------
# z23 — per-host weighted median of path depth, weighted by frontier
# priority: the robust "how deep does this host's crawl mass sit"
# statistic (weighted lower median — deterministic for any weights).
# ---------------------------------------------------------------------------

_Z23_ORACLE = f"""
WITH u AS ({synth.urls_select_sql('duckdb')}),
d AS (SELECT host,
             length(path) - length(replace(path, '/', '')) AS dep,
             priority + 1 AS w
      FROM u),
c AS (
  SELECT host, dep, w,
         sum(w) OVER (PARTITION BY host) AS tot,
         sum(w) OVER (PARTITION BY host ORDER BY dep) AS cum
  FROM d
)
SELECT host,
       CAST(min(CASE WHEN 2 * cum >= tot THEN dep END) AS BIGINT)
           AS weighted_median,
       CAST(max(tot) AS BIGINT) AS total_weight
FROM c GROUP BY host ORDER BY host
"""


@register("weighted_median_depth", _Z23_ORACLE)
def z_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.selection import weighted_median
    from bano_spark.queries_wave8 import _urls

    urls = _urls(spark, sf_dir)
    depth = (F.length("path")
             - F.length(F.regexp_replace(F.col("path"), "/", "")))
    d = urls.select("host", depth.alias("dep"),
                    (F.col("priority") + 1).alias("w"))
    out = weighted_median(d, "host", "dep", "w")
    return (out.select("host",
                       F.col("weighted_median").cast("bigint")
                       .alias("weighted_median"),
                       F.col("total_weight").cast("bigint")
                       .alias("total_weight"))
            .orderBy("host"))


# ---------------------------------------------------------------------------
# z24 — Gini concentration of crawl attention across hosts (URL mass):
# the inequality screen next to the waterfill allocation; the global
# rank is distributed_cumsum's bucketed prefix sum, never a
# single-partition window.
# ---------------------------------------------------------------------------

_Z24_ORACLE = f"""
WITH u AS ({synth.urls_select_sql('duckdb')}),
c AS (SELECT host, CAST(count(*) AS DOUBLE) AS x FROM u GROUP BY host),
r AS (SELECT host, x,
             row_number() OVER (ORDER BY x, host) AS i
      FROM c)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       sum(x) AS total,
       round((2.0 * sum(i * x) - (count(*) + 1) * sum(x))
             / (count(*) * sum(x)), 6) AS gini
FROM r
"""


@register("host_gini", _Z24_ORACLE)
def z_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.selection import gini_concentration
    from bano_spark.queries_wave8 import _urls

    counts = (_urls(spark, sf_dir).groupBy("host")
              .agg(F.count(F.lit(1)).alias("n")))
    out = gini_concentration(counts, "host")
    return out.select("n_keys", "total", F.round("gini", 6).alias("gini"))


# ---------------------------------------------------------------------------
# z25 — Mann-Kendall trend per spatial cell over daily event counts
# (the nonparametric core of emerging-hot-spot analysis): S from
# sign pairs, tie-corrected variance, continuity-corrected z. Counts
# are integers, so S and Var are exact in both engines.
# ---------------------------------------------------------------------------

_Z25_ORACLE = f"""
WITH p AS ({synth.points_select_sql('duckdb')}),
e AS (SELECT event_id, CAST(ts AS DATE) AS day FROM events),
cells AS (
  SELECT CAST(floor(p.x / 20000.0) AS BIGINT) AS cx,
         CAST(floor(p.y / 20000.0) AS BIGINT) AS cy,
         e.day
  FROM p JOIN e ON e.event_id = p.event_id
),
cnt AS (SELECT cx, cy, day, CAST(count(*) AS BIGINT) AS v
        FROM cells GROUP BY cx, cy, day),
s AS (
  SELECT a.cx, a.cy,
         CAST(sum(sign(b.v - a.v)) AS BIGINT) AS s
  FROM cnt a JOIN cnt b
    ON b.cx = a.cx AND b.cy = a.cy AND a.day < b.day
  GROUP BY a.cx, a.cy
),
n AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS n_periods
      FROM cnt GROUP BY cx, cy),
tie AS (
  SELECT cx, cy,
         sum(CAST(tn AS DOUBLE) * (tn - 1) * (2 * tn + 5)) AS tie
  FROM (SELECT cx, cy, v, count(*) AS tn FROM cnt GROUP BY cx, cy, v)
  GROUP BY cx, cy
),
f AS (
  SELECT s.cx, s.cy, n.n_periods, s.s,
         (CAST(n.n_periods AS DOUBLE) * (n.n_periods - 1)
          * (2 * n.n_periods + 5) - tie.tie) / 18.0 AS var_s
  FROM s JOIN n ON n.cx = s.cx AND n.cy = s.cy
         JOIN tie ON tie.cx = s.cx AND tie.cy = s.cy
)
SELECT cx, cy, n_periods, s, round(var_s, 6) AS var_s,
       round(CASE WHEN var_s <= 0 THEN 0.0
                  WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                  WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                  ELSE 0.0 END, 6) AS z
FROM f ORDER BY cx, cy
"""


@register("mann_kendall_cells", _Z25_ORACLE)
def z_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import mann_kendall

    ev = _read(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    pts = spark.sql(synth.points_select_sql("spark"))
    cells = (pts.join(ev.select("event_id", F.to_date("ts").alias("day")),
                      "event_id")
             .select(F.floor(F.col("x") / 20000.0).alias("cx"),
                     F.floor(F.col("y") / 20000.0).alias("cy"), "day"))
    cnt = cells.groupBy("cx", "cy", "day").agg(
        F.count(F.lit(1)).alias("v"))
    out = mann_kendall(cnt, ["cx", "cy"], "day", "v")
    return (out.select("cx", "cy", "n_periods", "s",
                       F.round("var_s", 6).alias("var_s"),
                       F.round("z", 6).alias("z"))
            .orderBy("cx", "cy"))


# ---------------------------------------------------------------------------
# z26 — STREAMING CUSUM: per-key drift alarms maintained in FOUR
# numbers of state per key (constant memory at any stream length) via
# the reflection identity with carry-in, vectorized per batch. The
# converged summary equals batch temporal.cusum exactly for the
# integer series, so the SAME oracle gates it (cusum_drift's SQL).
# ---------------------------------------------------------------------------

from bano_spark.queries_wave8 import _X09_ORACLE  # noqa: E402


@register("streaming_cusum_drift", _X09_ORACLE)
def z_streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bano_spark.streaming.stateful import streaming_cusum

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    series = spark.sql(synth.series_select_sql("spark"))
    feed_dir = tempfile.mkdtemp(prefix="bano_cusum_feed_")
    # one materialized feed file = one ordered micro-batch (the
    # ordered-feed contract; the unit test proves the multi-batch fold)
    series.select("user_id", "seq", "v").coalesce(1) \
        .write.mode("overwrite").parquet(feed_dir)
    feed = (spark.readStream.schema("user_id bigint, seq int, v double")
            .parquet(feed_dir))
    out = streaming_cusum(feed.groupBy("user_id"),
                          target=200.0, slack=50.0, threshold=2000.0)
    ckpt = tempfile.mkdtemp(prefix="bano_cusum_ckpt_")
    qname = "z26_cusum"
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("update").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    tbl = spark.table(qname)
    from pyspark.sql.window import Window
    w = Window.partitionBy("user_id").orderBy(F.desc("n_seen"))
    final = (tbl.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1))
    rows = final.select("user_id", "max_cusum", "first_alarm_seq",
                        "n_alarms").collect()
    q.stop()
    conv = spark.createDataFrame(
        rows, "user_id bigint, max_cusum double, "
              "first_alarm_seq bigint, n_alarms bigint")
    return (conv.select("user_id", "max_cusum", "first_alarm_seq",
                        "n_alarms").orderBy("user_id"))


# ---------------------------------------------------------------------------
# z27 — STREAMING stratified weighted reservoir: the per-source top-n
# A-ES sample maintained in bounded state (n triplets per source
# forever); the exponential keys are the SAME content-derived column
# expression the batch sampler uses (selection.aes_group_key), so the
# converged sample equals the batch draw EXACTLY and the batch oracle
# (weighted_sample_per_source's SQL) gates the stream.
# ---------------------------------------------------------------------------

from bano_spark.queries_wave4 import _W87_ORACLE  # noqa: E402


@register("streaming_stratified_sample", _W87_ORACLE)
def z_streaming_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql.window import Window

    from bano_spark.operators.selection import aes_group_key
    from bano_spark.streaming.stateful import streaming_reservoir

    docs = _read(spark, sf_dir, "documents")
    schema = docs.schema
    feed = (spark.readStream.schema(schema).parquet(sf_dir.rstrip("/"))
            .filter(F.input_file_name().endswith("documents.parquet")))
    src = feed.select(
        "source", "doc_id", F.col("n_chars").cast("double").alias("w"),
        aes_group_key("source", "doc_id", "n_chars").alias("sample_key"))
    out = streaming_reservoir(src.groupBy("source"), n=10,
                              weight_col="w")
    ckpt = tempfile.mkdtemp(prefix="bano_res_ckpt_")
    qname = "z27_res"
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("update").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    tbl = spark.table(qname)
    w = Window.partitionBy("source").orderBy(F.desc("n_seen"))
    final = (tbl.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1).select("source", "ids", "ws", "ks"))
    rows = final.collect()
    q.stop()
    conv = spark.createDataFrame(rows, final.schema)
    ex = conv.select(
        "source",
        F.explode(F.arrays_zip(F.col("ids").alias("doc_id"),
                               F.col("ws").alias("w"),
                               F.col("ks").alias("k"))).alias("e"))
    return (ex.select("source", F.col("e.doc_id").alias("doc_id"),
                      F.col("e.w").cast("bigint").alias("n_chars"),
                      F.col("e.k").alias("sample_key"))
            .orderBy("source", "doc_id"))
