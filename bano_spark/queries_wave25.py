"""Wave-25 driver queries: polygon-ring validity screening (closure /
orientation / proper self-intersections — the ingestion gate before
rings reach PIP/overlay), redirect-chain resolution by pointer
doubling (301-chain canonicalization with cycle flagging), co-citation
and bibliographic coupling (web-graph similarity from shared
endpoints), per-key autocorrelation profiles (periodicity detection
at row lags 1..6), and streaming heavy hitters (sharded exact top-k
converging to the batch answer).

Reference anchors: ring validity guards the same ring tables the
PIP join consumes (bano commune polygons); redirects extend
canonical_url/url_template_mining; co-citation extends the host
link-graph family; ACF extends lag1_autocorrelation; streaming top-k
joins the stateful family (dedup/HLL/CUSUM/reservoir).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# ak01 — ring validity over the synth commune rectangles + a planted
# bowtie: rectangles are closed, CCW, crossing-free; the bowtie is
# closed but self-crossing with shoelace area exactly ZERO
# (degenerate orientation). Oracle: the closed-form per-ring facts.
# ---------------------------------------------------------------------------

_AK01_ORACLE = f"""
WITH rect AS (
  SELECT insee_com AS ring_id, CAST(5 AS BIGINT) AS n_verts,
         TRUE AS closed,
         round((xmax - xmin) * (ymax - ymin), 6) AS signed_area,
         'ccw' AS orientation, CAST(0 AS BIGINT) AS n_crossings,
         TRUE AS is_valid
  FROM {synth.communes_values_sql()}
)
SELECT * FROM rect
UNION ALL
SELECT 'BOWTIE', CAST(5 AS BIGINT), TRUE, CAST(0.0 AS DOUBLE), 'degenerate', CAST(1 AS BIGINT), FALSE
ORDER BY ring_id
"""


@register("ring_validity_screen", _AK01_ORACLE)
def ak_ring_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from bano_spark.operators.geodesy import ring_validity

    polys = synth.commune_polygons_df(spark).select(
        F.col("insee_com").alias("ring_id"), "verts")
    bow = spark.createDataFrame(
        [("BOWTIE", [[0.0, 0.0], [10.0, 10.0], [10.0, 0.0],
                     [0.0, 10.0], [0.0, 0.0]])],
        T.StructType([
            T.StructField("ring_id", T.StringType()),
            T.StructField("verts", T.ArrayType(
                T.ArrayType(T.DoubleType())))]))
    return (ring_validity(polys.unionByName(bow))
            .orderBy("ring_id"))


# ---------------------------------------------------------------------------
# ak02 — redirect-chain resolution: heads every 5th id (self-
# pointing canonicals), others chain downward; ids 100-102 form a
# planted 3-cycle, so they AND their upstream chain (103, 104) can
# never canonicalize — resolved = false, NULL target. Oracle: the
# closed-form chain facts.
# ---------------------------------------------------------------------------


def _ak02_links(dialect: str) -> str:
    return """
links AS (
  SELECT doc_id AS url_id,
         CASE WHEN doc_id = 100 THEN 101
              WHEN doc_id = 101 THEN 102
              WHEN doc_id = 102 THEN 100
              WHEN doc_id % 5 = 0 THEN doc_id
              ELSE doc_id - 1 END AS target_id
  FROM documents
)"""


_AK02_ORACLE = f"""
WITH {_ak02_links('duckdb')}
SELECT url_id,
       CASE WHEN url_id BETWEEN 100 AND 104 THEN NULL
            ELSE url_id - url_id % 5 END AS canonical_id,
       url_id NOT BETWEEN 100 AND 104 AS resolved
FROM links ORDER BY url_id
"""


@register("redirect_chain_resolution", _AK02_ORACLE)
def ak_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import resolve_redirects

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    links = spark.sql("WITH " + _ak02_links("spark")
                      + " SELECT * FROM links")
    return resolve_redirects(links).orderBy("url_id")


# ---------------------------------------------------------------------------
# ak03 — co-citation + bibliographic coupling over a multi-out-degree
# host graph (the wave-4 link map is a bijection — zero shared
# endpoints by construction — so this fixture mixes doc_id div 20
# into the target for ~10 distinct targets per host). Oracle: the
# same two shared-endpoint self-joins in SQL.
# ---------------------------------------------------------------------------

_AK03_ORACLE = """
WITH e AS (
  SELECT DISTINCT doc_id % 20 AS src,
         (doc_id * 7 + doc_id // 20) % 20 AS dst
  FROM documents WHERE doc_id < 200
),
co AS (
  SELECT x.dst AS node_a, y.dst AS node_b,
         CAST(count(*) AS BIGINT) AS cocitation
  FROM e x JOIN e y ON y.src = x.src AND x.dst < y.dst
  GROUP BY 1, 2
),
cp AS (
  SELECT x.src AS node_a, y.src AS node_b,
         CAST(count(*) AS BIGINT) AS coupling
  FROM e x JOIN e y ON y.dst = x.dst AND x.src < y.src
  GROUP BY 1, 2
)
SELECT coalesce(co.node_a, cp.node_a) AS node_a,
       coalesce(co.node_b, cp.node_b) AS node_b,
       coalesce(cocitation, 0) AS cocitation,
       coalesce(coupling, 0) AS coupling
FROM co FULL OUTER JOIN cp
  ON cp.node_a = co.node_a AND cp.node_b = co.node_b
ORDER BY node_a, node_b
"""


@register("cocitation_coupling", _AK03_ORACLE)
def ak_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import cocitation_coupling

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    edges = docs.select(
        (F.col("doc_id") % 20).alias("src"),
        ((F.col("doc_id") * 7 + F.expr("doc_id div 20")) % 20)
        .alias("dst"))
    return (cocitation_coupling(edges)
            .orderBy("node_a", "node_b"))


# ---------------------------------------------------------------------------
# ak04 — ACF profile per event type over hourly buckets, row lags
# 1..6 (the periodicity detector generalizing lag-1). Oracle mirrors
# the moment algebra; round-6 absorbs sum-order ulp drift.
# ---------------------------------------------------------------------------

_ACF_K = 6

_AK04_ORACLE = f"""
WITH b AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bk,
         sum(value) AS y
  FROM events GROUP BY 1, 2
),
m AS (SELECT event_type, sum(y) / count(*) AS m,
             sum(y * y) AS syy, sum(y) AS sy, count(*) AS n
      FROM b GROUP BY 1),
l AS (
  SELECT event_type, bk, y,
         {", ".join(f"lag(y, {k}) OVER (PARTITION BY event_type ORDER BY bk) AS l{k}" for k in range(1, _ACF_K + 1))}
  FROM b
),
j AS (SELECT l.*, m.m, m.syy, m.sy, m.n FROM l JOIN m USING (event_type))
{" UNION ALL ".join(f'''
SELECT event_type, {k} AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
       round(sum((y - m) * (l{k} - m))
             / max(syy - sy * sy / n), 6) AS acf
FROM j WHERE l{k} IS NOT NULL GROUP BY event_type''' for k in range(1, _ACF_K + 1))}
ORDER BY event_type, lag
"""


@register("acf_profile", _AK04_ORACLE)
def ak_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import acf_profile

    ev = _read(spark, sf_dir, "events")
    return (acf_profile(ev, "event_type", "ts", "value",
                        max_lag=_ACF_K)
            .orderBy("event_type", "lag"))


# ---------------------------------------------------------------------------
# ak05 — streaming heavy hitters: per-shard (user_id % 8) exact
# top-10 upserts; the final merged global top-10 equals the batch
# top-10 (shard-k >= global-k guarantees containment; only each
# shard's LATEST batch rows merge, so stale upserts can't leak in).
# Oracle: the batch top-10 the stream converges to.
# ---------------------------------------------------------------------------

_HH_K = 10

_AK05_ORACLE = f"""
SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY user_id
ORDER BY cnt DESC, user_id LIMIT {_HH_K}
"""


@register("streaming_topk_hitters", _AK05_ORACLE)
def ak_streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bano_spark.streaming.stateful import streaming_topk

    schema = _read(spark, sf_dir, "events").schema
    feed = (spark.readStream.schema(schema).parquet(sf_dir.rstrip("/"))
            .filter(F.input_file_name().endswith("events.parquet")))
    src = feed.select((F.col("user_id") % 8).alias("shard"),
                      F.col("user_id").alias("item_id"))
    out = streaming_topk(src.groupBy("shard"), k=_HH_K)
    ckpt = tempfile.mkdtemp(prefix="bano_topk_ckpt_")
    qname = "ak05_topk"
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("update").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    tbl = spark.table(qname)
    # keep only each shard's LATEST batch (max n_seen), then merge
    w = Window.partitionBy("shard")
    latest = (tbl.withColumn("_mx", F.max("n_seen").over(w))
              .filter(F.col("n_seen") == F.col("_mx")))
    final = (latest.select(F.col("item_id").alias("user_id"), "cnt")
             .orderBy(F.desc("cnt"), F.asc("user_id")).limit(_HH_K))
    rows = final.collect()
    q.stop()
    return spark.createDataFrame(rows, final.schema)
