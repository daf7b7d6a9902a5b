"""Wave-29 driver queries: partition quality and mixing statistics on
the host link graph (directed modularity decomposition, degree
assortativity), quadrat-count dispersion (the CSR screen before the
engine's Ripley-K / Clark-Evans machinery), first-order trend-surface
fitting (closed-form least-squares plane per region), and a
fastText-style hashed n-gram linear classifier (the pretraining-corpus
quality-filter shape).

Reference anchors: the graph-quality pair extends the link-graph
family (wave 9) the way the reference's importance heuristics
(bano/sql/03_*, M1-M3) rank communes; quadrat counts and trend
surfaces extend the moran/geary/variogram spatial-stats family; the
hashed classifier joins the Gopher/CCNet filter family over
`documents`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.queries_wave9 import _LINKS_CTE, _links_df
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


_COMM_RE = r"(^|\.)d([0-9]+)\."


# ---------------------------------------------------------------------------
# ao01 — directed modularity decomposition of the host link graph
# under the registrable-domain partition (community = the d<k> label):
# per community internal weight, out/in strength and the Leicht-Newman
# contribution e_c/m - a_out_c*a_in_c/m^2.
# ---------------------------------------------------------------------------

_AO01_ORACLE = f"""
WITH {_LINKS_CTE},
edges AS (
  SELECT src_host AS src, dst_host AS dst, CAST(count(*) AS DOUBLE) AS w
  FROM edges0 GROUP BY 1, 2
),
lab AS (
  SELECT host, regexp_extract(host, '{_COMM_RE}', 2) AS community
  FROM (SELECT DISTINCT src AS host FROM edges
        UNION SELECT DISTINCT dst FROM edges)
),
e AS (
  SELECT ls.community AS cs, ld.community AS cd, edges.w
  FROM edges
  JOIN lab ls ON ls.host = edges.src
  JOIN lab ld ON ld.host = edges.dst
),
m AS (SELECT sum(w) AS m FROM e),
outw AS (SELECT cs AS community, sum(w) AS out_w FROM e GROUP BY 1),
inw AS (SELECT cd AS community, sum(w) AS in_w FROM e GROUP BY 1),
intw AS (SELECT cs AS community, sum(w) AS internal_w
         FROM e WHERE cs = cd GROUP BY 1),
full0 AS (
  SELECT coalesce(o.community, i.community) AS community,
         coalesce(o.out_w, 0.0) AS out_w, coalesce(i.in_w, 0.0) AS in_w
  FROM outw o FULL JOIN inw i ON i.community = o.community
),
full1 AS (
  SELECT f.community, coalesce(t.internal_w, 0.0) AS internal_w,
         f.out_w, f.in_w
  FROM full0 f LEFT JOIN intw t ON t.community = f.community
)
SELECT community, round(internal_w, 6) AS internal_w,
       round(out_w, 6) AS out_w, round(in_w, 6) AS in_w,
       round(internal_w / m.m - (out_w * in_w) / (m.m * m.m), 6)
         AS q_contrib
FROM full1 CROSS JOIN m
ORDER BY community
"""


@register("graph_modularity", _AO01_ORACLE)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import modularity_directed

    edges = (_links_df(spark, sf_dir)
             .groupBy(F.col("src_host").alias("src"),
                      F.col("dst_host").alias("dst"))
             .agg(F.count(F.lit(1)).cast("double").alias("w")))
    hosts = (edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node"))).distinct())
    labels = hosts.select(
        "node", F.regexp_extract("node", _COMM_RE, 2).alias("community"))
    return (modularity_directed(edges, labels)
            .orderBy("community"))


# ---------------------------------------------------------------------------
# ao02 — degree assortativity of the host link graph: Pearson r of
# (out-degree of src, in-degree of dst) over distinct edges. The synth
# crawl graph is hub-and-spoke-ish, so r sits near/below zero.
# ---------------------------------------------------------------------------

_AO02_ORACLE = f"""
WITH {_LINKS_CTE},
e AS (SELECT DISTINCT src_host AS s, dst_host AS d FROM edges0),
od AS (SELECT s, CAST(count(*) AS DOUBLE) AS x FROM e GROUP BY s),
idg AS (SELECT d, CAST(count(*) AS DOUBLE) AS y FROM e GROUP BY d),
j AS (SELECT od.x, idg.y FROM e JOIN od ON od.s = e.s
      JOIN idg ON idg.d = e.d),
a AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM j
)
SELECT CAST(n AS BIGINT) AS n_edges,
       round((sxy / n - (sx / n) * (sy / n))
             / sqrt((sxx / n - (sx / n) * (sx / n))
                    * (syy / n - (sy / n) * (sy / n))), 6)
         AS assortativity
FROM a
"""


@register("degree_assortativity", _AO02_ORACLE)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import degree_assortativity

    edges = _links_df(spark, sf_dir).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    return degree_assortativity(edges)


# ---------------------------------------------------------------------------
# ao03 — quadrat-count dispersion over the clustered dense-point set:
# 8x8 quadrats of 500 units on the 4000-unit box, empty quadrats
# included. The planted 25-centre clustering drives VMR well above 1.
# ---------------------------------------------------------------------------

_AO03_ORACLE = f"""
WITH p AS ({synth.dense_points_select_sql('duckdb')}),
occ AS (
  SELECT CAST(floor(x / 500) AS BIGINT) AS qx,
         CAST(floor(y / 500) AS BIGINT) AS qy, count(*) AS c
  FROM p WHERE x >= 0 AND x < 4000 AND y >= 0 AND y < 4000
  GROUP BY 1, 2
),
grid AS (
  SELECT CAST(g.i % 8 AS BIGINT) AS qx, CAST(g.i // 8 AS BIGINT) AS qy
  FROM (SELECT unnest(generate_series(0, 63)) AS i) g
),
counts AS (
  SELECT CAST(coalesce(occ.c, 0) AS DOUBLE) AS c
  FROM grid LEFT JOIN occ ON occ.qx = grid.qx AND occ.qy = grid.qy
),
a AS (
  SELECT CAST(count(*) AS DOUBLE) AS nq, sum(c) AS s, sum(c * c) AS ss
  FROM counts
)
SELECT CAST(nq AS BIGINT) AS n_quadrats, CAST(s AS BIGINT) AS n_points,
       round(s / nq, 6) AS mean_count,
       round((ss - nq * (s / nq) * (s / nq)) / (nq - 1), 6) AS var_count,
       round(((ss - nq * (s / nq) * (s / nq)) / (nq - 1)) / (s / nq), 6)
         AS vmr,
       round((nq - 1) * ((ss - nq * (s / nq) * (s / nq)) / (nq - 1))
             / (s / nq), 6) AS chi2
FROM a
"""


@register("quadrat_dispersion", _AO03_ORACLE)
def q_quadrat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import quadrat_dispersion

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    points = spark.sql(synth.dense_points_select_sql("spark"))
    return quadrat_dispersion(points, 500.0, 8, 8)


# ---------------------------------------------------------------------------
# ao04 — first-order trend surface per 2000-unit quadrant: z is a
# planted plane (3x - 2y) plus integer noise, so the recovered (b, c)
# sit near (3, -2) with high R^2. All power sums are exact dyadic
# doubles, making the closed-form solve bit-identical across engines.
# ---------------------------------------------------------------------------

def _ao04_points(dialect: str) -> str:
    base = synth.dense_points_select_sql(dialect)
    return f"""
SELECT event_id,
       CAST(floor(x / 2000) AS BIGINT) * 2
         + CAST(floor(y / 2000) AS BIGINT) AS quadrant,
       x, y, 3 * x - 2 * y + value AS z
FROM ({base})
"""


_AO04_ORACLE = f"""
WITH p AS ({_ao04_points('duckdb')}),
g AS (
  SELECT quadrant, CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy,
         sum(x * z) AS sxz, sum(y * z) AS syz, sum(z * z) AS szz
  FROM p GROUP BY quadrant
),
m AS (
  SELECT quadrant, n, sx, sy, sz, sxz, syz,
         sxx - sx * sx / n AS cxx, syy - sy * sy / n AS cyy,
         sxy - sx * sy / n AS cxy, sxz - sx * sz / n AS cxz,
         syz - sy * sz / n AS cyz, szz - sz * sz / n AS czz
  FROM g
),
s AS (
  SELECT quadrant, n,
         CASE WHEN cxx * cyy - cxy * cxy <> 0
              THEN (cyy * cxz - cxy * cyz) / (cxx * cyy - cxy * cxy)
         END AS b,
         CASE WHEN cxx * cyy - cxy * cxy <> 0
              THEN (cxx * cyz - cxy * cxz) / (cxx * cyy - cxy * cxy)
         END AS c,
         sx, sy, sz, cxz, cyz, czz
  FROM m
)
SELECT quadrant, CAST(n AS BIGINT) AS n_points,
       round(sz / n - b * sx / n - c * sy / n, 6) AS a,
       round(b, 6) AS b, round(c, 6) AS c,
       round(CASE WHEN czz <> 0 THEN (b * cxz + c * cyz) / czz END, 6)
         AS r2
FROM s ORDER BY quadrant
"""


@register("trend_surface_plane", _AO04_ORACLE)
def q_trend_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import trend_surface_plane

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    points = spark.sql(_ao04_points("spark"))
    return trend_surface_plane(points, ["quadrant"]).orderBy("quadrant")


# ---------------------------------------------------------------------------
# ao05 — hashed n-gram linear classifier over documents: unigrams +
# adjacent bigrams hashed into 64 buckets (md5-prefix), deterministic
# dyadic stand-in weights, score = mean bucket weight, keep = sign.
# ---------------------------------------------------------------------------

_AO05_ORACLE = """
WITH d AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE doc_id % 7 = 2 AND len(trim(text)) > 0
),
uni AS (SELECT doc_id, unnest(t) AS f FROM d),
bi AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS f
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM d WHERE len(t) >= 2)
),
feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
w AS (
  SELECT CAST(b AS BIGINT) AS bucket,
         CAST((b * 37) % 128 AS DOUBLE) / 64 - 1 AS weight
  FROM (SELECT unnest(generate_series(0, 63)) AS b)
),
scored AS (
  SELECT feats.doc_id, w.weight
  FROM feats JOIN w
    ON w.bucket = CAST(CAST(concat('0x', substr(md5(feats.f), 1, 8))
                            AS UBIGINT) % 64 AS BIGINT)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       round(avg(weight), 6) AS score, avg(weight) >= 0 AS keep
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


@register("hashed_ngram_classifier", _AO05_ORACLE)
def q_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import hashed_ngram_score

    docs = (_read(spark, sf_dir, "documents")
            .filter((F.col("doc_id") % 7 == 2)
                    & (F.length(F.trim("text")) > 0)))
    weights = spark.range(64).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * 37 % 128).cast("double") / 64 - 1).alias("weight"))
    return (hashed_ngram_score(docs, weights, 64)
            .orderBy("doc_id"))
