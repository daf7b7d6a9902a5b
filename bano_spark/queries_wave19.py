"""Wave-19 driver queries: Lambertian hillshade (Horn gradient dotted
with an inlined sun vector — terrain rendering's standard kernel),
marching-squares contour extraction (iso-line topology + interpolated
segment lengths per 2x2 square, the raster->isoline half of the
raster->vector family), areal-weighted interpolation (population
regridding from admin rectangles onto a uniform lattice), exact LCSS
trajectory similarity (the noise-robust twin of DTW, same
window-rearranged DP discipline), and TextRank keyword ranking
(PageRank over the token co-occurrence graph — the graph-centrality
member of the keyword family next to RAKE / log-odds / tf-idf).

Reference anchors: hillshade/contours extend the DEM family
(wave-15 Horn slope/aspect, D8 hydrology) over the same sparse-cell
representation as the expire-tiles machinery; areal interpolation
generalizes the reference's commune/postal bbox overlay
(rect_intersection_areas) into an attribute-transfer operator;
TextRank reuses the exact pagerank operator TrustRank/host-rank run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bano_spark import synth
from bano_spark.operators.raster import (
    ms_edge_x_sql, ms_edge_y_sql, ms_segments_values_sql, sun_vector,
)
from bano_spark.operators.trajectory import lcss_cte_sql
from bano_spark.queries_wave15 import _DEM_CELL, _dem_cte
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# ae01 — hillshade over the wave-15 DEM. The oracle re-derives the
# SAME integer Horn sums (8-offset weighted neighbor aggregation,
# interior cells only), then applies the Lambertian formula with the
# sun-vector literals inlined from Python — both engines evaluate
# only +-*/ and sqrt on identical doubles.
# ---------------------------------------------------------------------------

_HS_LX, _HS_LY, _HS_LZ = sun_vector(45.0, 315.0)

_AE01_ORACLE = f"""
WITH {_dem_cte('duckdb')},
offs(dx, dy, wx, wy) AS (VALUES
  (1, 1, 1, 1), (1, 0, 2, 0), (1, -1, 1, -1),
  (-1, 1, -1, 1), (-1, 0, -2, 0), (-1, -1, -1, -1),
  (0, 1, 0, 2), (0, -1, 0, -2)),
nb AS (
  SELECT c.gx, c.gy, n.z * o.wx AS cx, n.z * o.wy AS cy
  FROM dem c JOIN offs o ON TRUE
  JOIN dem n ON n.gx = c.gx + o.dx AND n.gy = c.gy + o.dy
),
sums AS (
  SELECT gx, gy, sum(cx) AS sx, sum(cy) AS sy, count(*) AS m
  FROM nb GROUP BY gx, gy HAVING count(*) = 8
),
grad AS (
  SELECT gx, gy, CAST(sx AS DOUBLE) / (8.0 * {_DEM_CELL}) AS gxv,
         CAST(sy AS DOUBLE) / (8.0 * {_DEM_CELL}) AS gyv
  FROM sums
)
SELECT gx, gy,
       round(greatest(0.0,
             255.0 * (({_HS_LX!r}) * (-gxv) + ({_HS_LY!r}) * (-gyv)
                      + ({_HS_LZ!r}))
             / sqrt(gxv * gxv + gyv * gyv + 1.0)), 6) AS hillshade
FROM grad ORDER BY gx, gy
"""


@register("hillshade_surface", _AE01_ORACLE)
def ae_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import hillshade

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    dem = spark.sql("WITH " + _dem_cte("spark") + " SELECT * FROM dem")
    return hillshade(dem, _DEM_CELL).orderBy("gx", "gy")


# ---------------------------------------------------------------------------
# ae02 — marching-squares contours at iso = 10.5 over the same DEM:
# per 2x2 corner square, case id + segment count + interpolated
# contour length. The segment topology (case -> edge pairs, fixed
# saddle resolution) and the edge-coordinate CASE algebra are EACH
# generated once in Python and shared verbatim by both engines.
# ---------------------------------------------------------------------------

_MS_ISO = 10.5

_AE02_ORACLE = f"""
WITH {_dem_cte('duckdb')},
sq AS (
  SELECT c00.gx, c00.gy,
         CAST(c00.z AS DOUBLE) AS z0, CAST(c10.z AS DOUBLE) AS z1,
         CAST(c11.z AS DOUBLE) AS z2, CAST(c01.z AS DOUBLE) AS z3
  FROM dem c00
  JOIN dem c10 ON c10.gx = c00.gx + 1 AND c10.gy = c00.gy
  JOIN dem c11 ON c11.gx = c00.gx + 1 AND c11.gy = c00.gy + 1
  JOIN dem c01 ON c01.gx = c00.gx AND c01.gy = c00.gy + 1
),
cs AS (
  SELECT gx, gy,
         (CASE WHEN z0 >= {_MS_ISO} THEN 1 ELSE 0 END
          + CASE WHEN z1 >= {_MS_ISO} THEN 2 ELSE 0 END
          + CASE WHEN z2 >= {_MS_ISO} THEN 4 ELSE 0 END
          + CASE WHEN z3 >= {_MS_ISO} THEN 8 ELSE 0 END) AS case_id,
         ({_MS_ISO} - z0) / nullif(z1 - z0, 0.0) AS t0,
         ({_MS_ISO} - z1) / nullif(z2 - z1, 0.0) AS t1,
         ({_MS_ISO} - z3) / nullif(z2 - z3, 0.0) AS t2,
         ({_MS_ISO} - z0) / nullif(z3 - z0, 0.0) AS t3
  FROM sq
),
lut(case_id, e1, e2) AS (VALUES {ms_segments_values_sql()}),
seg AS (
  SELECT cs.gx, cs.gy,
         {ms_edge_x_sql('e1')} AS x1, {ms_edge_y_sql('e1')} AS y1,
         {ms_edge_x_sql('e2')} AS x2, {ms_edge_y_sql('e2')} AS y2
  FROM cs JOIN lut USING (case_id)
),
agg AS (
  SELECT gx, gy, CAST(count(*) AS BIGINT) AS n_segs,
         sum(sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))) AS tl
  FROM seg GROUP BY gx, gy
)
SELECT cs.gx, cs.gy, cs.case_id,
       CAST(coalesce(a.n_segs, 0) AS BIGINT) AS n_segs,
       round(coalesce(a.tl, 0.0), 6) AS contour_len
FROM cs LEFT JOIN agg a USING (gx, gy)
ORDER BY gx, gy
"""


@register("contour_segments", _AE02_ORACLE)
def ae_contours(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import contour_cells

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    dem = spark.sql("WITH " + _dem_cte("spark") + " SELECT * FROM dem")
    return contour_cells(dem, _MS_ISO).orderBy("gx", "gy")


# ---------------------------------------------------------------------------
# ae03 — areal-weighted interpolation: a synthetic extensive value
# per commune bbox (digits of the insee code — deterministic,
# distinct) regridded onto a 4 km lattice; each cell receives
# val * overlap / source-area. Oracle: the same lattice explode via
# generate_series — no join, pure arithmetic in both engines.
# ---------------------------------------------------------------------------

_AI_G = 4000.0

_AE03_ORACLE = f"""
WITH src AS (
  SELECT insee_com, CAST(substr(insee_com, 2, 4) AS BIGINT) AS val,
         xmin, ymin, xmax, ymax,
         (xmax - xmin) * (ymax - ymin) AS area
  FROM {synth.communes_values_sql()}
),
cells AS (
  SELECT insee_com, val, area, xmin, ymin, xmax, ymax,
         unnest(generate_series(CAST(floor(xmin / {_AI_G!r}) AS BIGINT),
                                CAST(floor(xmax / {_AI_G!r}) AS BIGINT)))
           AS cx
  FROM src
),
cells2 AS (
  SELECT *, unnest(generate_series(
              CAST(floor(ymin / {_AI_G!r}) AS BIGINT),
              CAST(floor(ymax / {_AI_G!r}) AS BIGINT))) AS cy
  FROM cells
),
w AS (
  SELECT cx, cy,
         least(xmax, (cx + 1) * {_AI_G!r}) - greatest(xmin, cx * {_AI_G!r})
           AS ow,
         least(ymax, (cy + 1) * {_AI_G!r}) - greatest(ymin, cy * {_AI_G!r})
           AS oh,
         val, area
  FROM cells2
)
SELECT cx, cy, round(sum(val * ow * oh / area), 6) AS value
FROM w WHERE ow > 0 AND oh > 0
GROUP BY cx, cy ORDER BY cx, cy
"""


@register("areal_interpolation", _AE03_ORACLE)
def ae_areal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.overlay import areal_interpolate_rect

    src = synth.communes_df(spark).select(
        F.col("insee_com"),
        F.substring("insee_com", 2, 4).cast("bigint").alias("val"),
        "xmin", "ymin", "xmax", "ymax")
    return (areal_interpolate_rect(src, _AI_G, id_col="insee_com",
                                   val_col="val")
            .orderBy("cx", "cy"))


# ---------------------------------------------------------------------------
# ae04 — LCSS similarity between the DTW fixture's track pairs, both
# tracks home-normalized (x - first x, y - first y: shape matching,
# the form LCSS is defined for) and truncated to 8 points; points
# match within eps = 1500 m. The oracle replays the EXACT rearranged
# DP (runmax of max(E[j], E[j-1] + m)) via lcss_cte_sql — integer DP
# values, bit-exact.
# ---------------------------------------------------------------------------

_LCSS_R = 8
_LCSS_EPS = 1500.0


def _ae04_oracle() -> str:
    t = synth.traj_select_sql("duckdb")
    e2 = _LCSS_EPS * _LCSS_EPS
    head = f"""WITH t AS ({t}),
rel AS (SELECT user_id, seq,
               x - first_value(x) OVER (PARTITION BY user_id
                                        ORDER BY seq) AS x,
               y - first_value(y) OVER (PARTITION BY user_id
                                        ORDER BY seq) AS y
        FROM t),
tr AS (SELECT user_id, seq, x, y FROM rel WHERE seq <= {_LCSS_R}),
fl AS (SELECT user_id FROM tr GROUP BY user_id
       HAVING count(*) = {_LCSS_R}),
tf AS (SELECT tr.* FROM tr JOIN fl USING (user_id)),
prs AS (SELECT a.user_id AS id_a, a.user_id + 1 AS id_b
        FROM fl a JOIN fl b ON b.user_id = a.user_id + 1
        WHERE a.user_id % 2 = 0),
mm AS (
  SELECT prs.id_a, prs.id_b, a.seq AS i, b.seq AS j,
         CASE WHEN (a.x - b.x) * (a.x - b.x)
                   + (a.y - b.y) * (a.y - b.y) <= {e2!r}
              THEN 1 ELSE 0 END AS m
  FROM prs JOIN tf a ON a.user_id = prs.id_a
           JOIN tf b ON b.user_id = prs.id_b
),"""
    body = lcss_cte_sql("SELECT * FROM mm", _LCSS_R)
    return (head + body.lstrip()
            + f"""
SELECT id_a, id_b, CAST(d AS BIGINT) AS lcss_len,
       round(d / {float(_LCSS_R)!r}, 6) AS lcss_sim
FROM lcss_d{_LCSS_R} WHERE j = {_LCSS_R} ORDER BY id_a""")


@register("lcss_track_pairs", _ae04_oracle())
def ae_lcss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.trajectory import lcss_pairs

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    traj = spark.sql(synth.traj_select_sql("spark"))
    w = Window.partitionBy("user_id").orderBy("seq")
    rel = traj.select(
        "user_id", "seq",
        (F.col("x") - F.first("x").over(w)).alias("x"),
        (F.col("y") - F.first("y").over(w)).alias("y"))
    users = rel.select("user_id").distinct()
    pairs = (users.filter(F.col("user_id") % 2 == 0)
             .select(F.col("user_id").alias("id_a"),
                     (F.col("user_id") + 1).alias("id_b"))
             .join(users.select(F.col("user_id").alias("id_b")), "id_b")
             .select("id_a", "id_b"))
    out = lcss_pairs(rel, pairs, _LCSS_R, _LCSS_EPS,
                     order_col="seq")
    return (out.select("id_a", "id_b",
                       F.col("lcss_len").cast("bigint").alias("lcss_len"),
                       F.round("lcss_sim", 6).alias("lcss_sim"))
            .orderBy("id_a"))


# ---------------------------------------------------------------------------
# ae05 — TextRank keywords: PageRank (the exact graph operator, 5
# iterations, per-iteration round-12 discipline) over the undirected
# token-adjacency graph of the first 300 documents. Oracle: the
# unrolled power-iteration CTE chain over the same edge table
# (undirected co-occurrence => no dangling nodes by construction).
# ---------------------------------------------------------------------------

_TR_DOCS = 300
_TR_ITERS = 5


def _ae05_oracle() -> str:
    parts = [rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(text), '\s+')) AS w,
         generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS p
  FROM documents WHERE doc_id < {_TR_DOCS}
),
adj AS (
  SELECT a.w AS w1, b.w AS w2
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.p = a.p + 1
  WHERE a.w <> b.w AND a.w <> '' AND b.w <> ''
),
edges AS (
  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
  FROM (SELECT w1 AS src, w2 AS dst FROM adj
        UNION ALL SELECT w2, w1 FROM adj)
  GROUP BY src, dst
),
outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
norm AS (SELECT e.src, e.dst, e.w / o.ow AS p
         FROM edges e JOIN outw o ON o.src = e.src),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, round(1.0 / nn.n, 12) AS rank
       FROM nodes CROSS JOIN nn)"""]
    for k in range(1, _TR_ITERS + 1):
        parts.append(f""",
r{k} AS (
  SELECT nodes.node,
         round((1.0 - 0.85) * (1.0 / nn.n)
               + 0.85 * coalesce(c.s, 0.0), 12) AS rank
  FROM nodes
  LEFT JOIN (SELECT m.dst AS node, sum(r.rank * m.p) AS s
             FROM r{k - 1} r JOIN norm m ON m.src = r.node
             GROUP BY m.dst) c ON c.node = nodes.node
  CROSS JOIN nn)""")
    parts.append(f"""
SELECT node AS word, round(rank, 6) AS rank
FROM r{_TR_ITERS} ORDER BY word""")
    return "".join(parts)


@register("textrank_keywords", _ae05_oracle())
def ae_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import pagerank

    docs = _read(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _TR_DOCS)
    tok = (docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias("p", "w"))
        .filter(F.col("w") != ""))
    nxt = tok.select("doc_id", (F.col("p") - 1).alias("p"),
                     F.col("w").alias("w2"))
    adj = (tok.join(nxt, ["doc_id", "p"])
           .filter(F.col("w") != F.col("w2"))
           .select(F.col("w").alias("w1"), "w2"))
    edges = (adj.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
             .unionAll(adj.select(F.col("w2").alias("src"),
                                  F.col("w1").alias("dst")))
             .groupBy("src", "dst")
             .agg(F.count(F.lit(1)).cast("double").alias("w")))
    ranks = pagerank(edges, weight="w", iters=_TR_ITERS, damping=0.85)
    return (ranks.select(F.col("node").alias("word"),
                         F.round("rank", 6).alias("rank"))
            .orderBy("word"))
