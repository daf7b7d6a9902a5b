"""Wave-34 driver queries: empirical-Bayes rate smoothing (the
small-area shrinkage run before hotspot scans), local clustering +
ego betweenness per node, the colocation quotient (directional
type-to-type attraction via exact 1-NN), per-host token-bucket
politeness admission (the crawl rate limiter as a replayable fold),
and a product-quantization reconstruction-error audit.

Reference anchors: EB smoothing stabilizes the per-commune rates the
importance heuristics consume (bano/sql/03_*); clustering/ego extend
the host-graph family; CLQ extends cross_k/colocation_pairs; the
token bucket is the admission twin of frontier_politeness; the PQ
audit completes the ANN scale path (ivf/pq/semdedup/JL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.queries_wave9 import _LINKS_CTE, _links_df
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# at01 — empirical-Bayes smoothed rates per nation: y = flagged
# customers, n = 4x headcount; small nations shrink toward the global
# rate. Oracle replicates the method-of-moments closed form.
# ---------------------------------------------------------------------------

def _at01_areas(dialect: str) -> str:
    return ("SELECT c_nationkey AS area_id, "
            "sum(CASE WHEN c_custkey % 7 < 2 THEN 1 ELSE 0 END) AS y, "
            "count(*) * 4 AS n FROM customer GROUP BY c_nationkey")


_AT01_ORACLE = f"""
WITH a AS ({_at01_areas('duckdb')}),
g AS (SELECT CAST(count(*) AS DOUBLE) AS k,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(n) AS DOUBLE) AS sn FROM a),
v AS (
  SELECT sum(n * (CAST(y AS DOUBLE) / n - g.sy / g.sn)
               * (CAST(y AS DOUBLE) / n - g.sy / g.sn)) AS v
  FROM a CROSS JOIN g
),
s AS (
  SELECT g.sy / g.sn AS m,
         greatest(v.v / g.sn - (g.sy / g.sn) / (g.sn / g.k),
                  CAST(0 AS DOUBLE)) AS s2
  FROM g CROSS JOIN v
)
SELECT a.area_id, CAST(a.y AS BIGINT) AS y, CAST(a.n AS BIGINT) AS n,
       round(CAST(a.y AS DOUBLE) / a.n, 6) AS raw_rate,
       round(s.s2 / (s.s2 + s.m / a.n), 6) AS shrink_weight,
       round(s.m + (s.s2 / (s.s2 + s.m / a.n))
                   * (CAST(a.y AS DOUBLE) / a.n - s.m), 6) AS eb_rate
FROM a CROSS JOIN s ORDER BY a.area_id
"""


@register("empirical_bayes_rates", _AT01_ORACLE)
def q_eb_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import empirical_bayes_rates

    _read(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    areas = spark.sql(_at01_areas("spark"))
    return empirical_bayes_rates(areas).orderBy("area_id")


# ---------------------------------------------------------------------------
# at02 — local clustering coefficient + ego betweenness per host.
# ---------------------------------------------------------------------------

_AT02_ORACLE = f"""
WITH {_LINKS_CTE},
und AS (
  SELECT DISTINCT least(src_host, dst_host) AS a,
         greatest(src_host, dst_host) AS b
  FROM edges0 WHERE src_host <> dst_host
),
deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und)
  GROUP BY n
),
tri3 AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
),
pertri AS (
  SELECT n, count(*) AS t
  FROM (SELECT x AS n FROM tri3 UNION ALL SELECT y FROM tri3
        UNION ALL SELECT z FROM tri3)
  GROUP BY n
)
SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS degree,
       CAST(coalesce(pertri.t, 0) AS BIGINT) AS n_triangles,
       round(CASE WHEN CAST(deg.d * (deg.d - 1) / 2 AS BIGINT) > 0
                  THEN CAST(coalesce(pertri.t, 0) AS DOUBLE)
                       / CAST(deg.d * (deg.d - 1) / 2 AS BIGINT) END, 6)
         AS lcc,
       CAST(CAST(deg.d * (deg.d - 1) / 2 AS BIGINT)
            - coalesce(pertri.t, 0) AS BIGINT) AS ego_betweenness
FROM deg LEFT JOIN pertri ON pertri.n = deg.n
ORDER BY node
"""


@register("local_clustering", _AT02_ORACLE)
def q_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import local_clustering

    edges = _links_df(spark, sf_dir).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    return local_clustering(edges).orderBy("node")


# ---------------------------------------------------------------------------
# at03 — colocation quotient over typed dense points (3 types from
# the id hash): CLQ_{A->B} from exact 1-NN (ties by lowest id).
# ---------------------------------------------------------------------------

def _at03_points(dialect: str) -> str:
    base = synth.dense_points_select_sql(dialect)
    d = " div " if dialect == "spark" else " // "
    return (f"SELECT event_id, x, y, "
            f"CASE (event_id{d}19) % 3 WHEN 0 THEN 'A' WHEN 1 THEN 'B' "
            f"ELSE 'C' END AS ptype FROM ({base})")


_AT03_ORACLE = f"""
WITH p AS ({_at03_points('duckdb')}),
nn0 AS (
  SELECT a.event_id, a.ptype AS ty, b.ptype AS nty,
         row_number() OVER (
           PARTITION BY a.event_id
           ORDER BY (a.x - b.x) * (a.x - b.x)
                  + (a.y - b.y) * (a.y - b.y), b.event_id) AS rn
  FROM p a JOIN p b ON b.event_id <> a.event_id
),
nn AS (SELECT event_id, ty, nty FROM nn0 WHERE rn = 1),
na AS (SELECT ptype AS ty, count(*) AS n_a FROM p GROUP BY ptype),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM p),
pair AS (SELECT ty, nty, count(*) AS nab FROM nn GROUP BY 1, 2)
SELECT pair.ty AS type_a, pair.nty AS type_b,
       CAST(pair.nab AS BIGINT) AS n_a_to_b,
       round((CAST(pair.nab AS DOUBLE) / na.n_a)
             / (nb.n_a / (tot.n - 1)), 6) AS clq
FROM pair JOIN na ON na.ty = pair.ty
JOIN na nb ON nb.ty = pair.nty CROSS JOIN tot
ORDER BY type_a, type_b
"""


@register("colocation_quotient", _AT03_ORACLE)
def q_colocation_quotient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import colocation_quotient

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    points = spark.sql(_at03_points("spark"))
    return (colocation_quotient(points, 250.0)
            .orderBy("type_a", "type_b"))


# ---------------------------------------------------------------------------
# at04 — token-bucket politeness per host: capacity 3, refill 0.25
# tokens per hour-slot (dyadic — bit-stable fold); t = hour slot of
# the event timestamp. Oracle: the same replay via list_reduce with a
# LIST state.
# ---------------------------------------------------------------------------

_AT04_ORACLE = """
WITH f AS (
  SELECT 'h' || CAST(user_id % 20 AS VARCHAR) AS host,
         CAST(floor(epoch(ts) / 3600) AS DOUBLE) AS t
  FROM events
),
s AS (SELECT host, list(t ORDER BY t) AS ts FROM f GROUP BY host),
r AS (
  SELECT host, len(ts) AS n,
         list_reduce(
           list_prepend([CAST(3 AS DOUBLE) - 1, ts[1],
                         CAST(1 AS DOUBLE)],
             list_transform(ts[2:], x -> [x, CAST(0 AS DOUBLE),
                                          CAST(0 AS DOUBLE)])),
           (s, v) -> CASE WHEN least(CAST(3 AS DOUBLE),
                            s[1] + (v[1] - s[2]) * CAST(0.25 AS DOUBLE))
                            >= 1
             THEN [least(CAST(3 AS DOUBLE),
                         s[1] + (v[1] - s[2]) * CAST(0.25 AS DOUBLE)) - 1,
                   v[1], s[3] + 1]
             ELSE [least(CAST(3 AS DOUBLE),
                         s[1] + (v[1] - s[2]) * CAST(0.25 AS DOUBLE)),
                   v[1], s[3]] END) AS st
  FROM s
)
SELECT host, CAST(n AS BIGINT) AS n_requests,
       CAST(st[3] AS BIGINT) AS n_admitted,
       CAST(n - st[3] AS BIGINT) AS n_deferred,
       round(st[1], 6) AS final_tokens
FROM r ORDER BY host
"""


@register("token_bucket_admission", _AT04_ORACLE)
def q_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.crawl import token_bucket_admission

    ev = _read(spark, sf_dir, "events").select(
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string"))
        .alias("host"),
        F.floor(F.unix_timestamp("ts") / 3600).cast("double").alias("t"))
    return (token_bucket_admission(ev, 3.0, 0.25)
            .orderBy("host"))


# ---------------------------------------------------------------------------
# at05 — PQ reconstruction-error audit over the embeddings (m=8,
# dsub=8, k=4 axis-unit codebook, mirroring pq_encode).
# ---------------------------------------------------------------------------

def _at05_oracle(m: int = 8, dsub: int = 8, k: int = 4) -> str:
    parts = []
    for mi in range(m):
        comps = [f"CAST(embedding[{mi * dsub + j + 1}] AS DOUBLE)"
                 for j in range(k)]
        best = f"greatest({', '.join(comps)})"
        xj = "CASE " + " ".join(
            f"WHEN {c} = {best} THEN {c}" for c in comps) + " END"
        norm2 = (f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
                 f"list_transform(generate_series({mi * dsub + 1}, "
                 f"{(mi + 1) * dsub}), d -> "
                 f"CAST(embedding[d] AS DOUBLE) "
                 f"* CAST(embedding[d] AS DOUBLE))), (acc, x) -> acc + x)")
        parts.append(f"""
SELECT {mi} AS subspace, CAST(count(*) AS BIGINT) AS n_vectors,
       round(avg(norm2), 6) AS mean_norm2,
       round(avg(norm2 - 2 * xj + 1), 6) AS mean_sq_error
FROM (SELECT {norm2} AS norm2, {xj} AS xj FROM embeddings)""")
    return " UNION ALL ".join(parts) + " ORDER BY subspace"


@register("pq_reconstruction_error", _at05_oracle())
def q_pq_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.similarity import pq_reconstruction_error

    vecs = _read(spark, sf_dir, "embeddings").select("embedding")
    return pq_reconstruction_error(vecs).orderBy("subspace")
