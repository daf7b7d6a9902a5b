"""Wave-31 driver queries: Ritter minimum-enclosing-circle per point
cluster (the coverage-disc summary next to std_dev_ellipse), global
bivariate Moran's I (cross-variable spatial lead-lag), global graph
transitivity (3T/W closure), an operating-point threshold sweep for
the hashed n-gram quality classifier (precision/recall/F1 per
threshold), and the Kaplan-Meier product-limit survival estimator
over right-censored spells (the principled recrawl-interval model).

Reference anchors: the bounding circle generalizes the hull-based
street importance (bano/sql/03_hameaux*, A4-A5) to a guaranteed
cover; bivariate Moran extends the moran/geary family; transitivity
closes the wave-9/18 graph set; the sweep tunes wave-29's classifier
the way corpus filters are tuned; KM upgrades recrawl_priority's
change-rate averages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.queries_wave9 import _LINKS_CTE, _links_df
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# aq01 — Ritter bounding circle per 2000-unit quadrant of the dense
# points. Oracle: the SAME three folds (farthest-from-first,
# farthest-from-that, sequential growth sweep in id order) via
# list_reduce with list states — bit-identical arithmetic.
# ---------------------------------------------------------------------------

_AQ01_ORACLE = f"""
WITH p AS (
  SELECT event_id,
         CAST(floor(x / 2000) AS BIGINT) * 2
           + CAST(floor(y / 2000) AS BIGINT) AS quadrant, x, y
  FROM ({synth.dense_points_select_sql('duckdb')})
),
g AS (
  SELECT quadrant, list([x, y] ORDER BY event_id) AS pts
  FROM p GROUP BY quadrant HAVING count(*) >= 2
),
f1 AS (
  SELECT quadrant, pts,
         list_reduce(
           list_prepend([CAST(-1 AS DOUBLE), CAST(0 AS DOUBLE),
                         CAST(0 AS DOUBLE)],
             list_transform(pts, v -> [v[1], v[2], CAST(0 AS DOUBLE)])),
           (s, v) -> CASE WHEN (v[1] - pts[1][1]) * (v[1] - pts[1][1])
                             + (v[2] - pts[1][2]) * (v[2] - pts[1][2])
                             > s[1]
                          THEN [(v[1] - pts[1][1]) * (v[1] - pts[1][1])
                                + (v[2] - pts[1][2]) * (v[2] - pts[1][2]),
                                v[1], v[2]]
                          ELSE [s[1], s[2], s[3]] END) AS p1
  FROM g
),
f2 AS (
  SELECT quadrant, pts, p1,
         list_reduce(
           list_prepend([CAST(-1 AS DOUBLE), CAST(0 AS DOUBLE),
                         CAST(0 AS DOUBLE)],
             list_transform(pts, v -> [v[1], v[2], CAST(0 AS DOUBLE)])),
           (s, v) -> CASE WHEN (v[1] - p1[2]) * (v[1] - p1[2])
                             + (v[2] - p1[3]) * (v[2] - p1[3]) > s[1]
                          THEN [(v[1] - p1[2]) * (v[1] - p1[2])
                                + (v[2] - p1[3]) * (v[2] - p1[3]),
                                v[1], v[2]]
                          ELSE [s[1], s[2], s[3]] END) AS p2
  FROM f1
),
sw AS (
  SELECT quadrant, len(pts) AS n,
         list_reduce(
           list_prepend([(p1[2] + p2[2]) / 2, (p1[3] + p2[3]) / 2,
                         sqrt(p2[1]) / 2],
             list_transform(pts, v -> [v[1], v[2], CAST(0 AS DOUBLE)])),
           (s, v) -> CASE WHEN sqrt((v[1] - s[1]) * (v[1] - s[1])
                                  + (v[2] - s[2]) * (v[2] - s[2])) > s[3]
             THEN [
               s[1] + ((sqrt((v[1] - s[1]) * (v[1] - s[1])
                           + (v[2] - s[2]) * (v[2] - s[2]))
                        - (s[3] + sqrt((v[1] - s[1]) * (v[1] - s[1])
                                     + (v[2] - s[2]) * (v[2] - s[2]))) / 2)
                       / sqrt((v[1] - s[1]) * (v[1] - s[1])
                            + (v[2] - s[2]) * (v[2] - s[2])))
                      * (v[1] - s[1]),
               s[2] + ((sqrt((v[1] - s[1]) * (v[1] - s[1])
                           + (v[2] - s[2]) * (v[2] - s[2]))
                        - (s[3] + sqrt((v[1] - s[1]) * (v[1] - s[1])
                                     + (v[2] - s[2]) * (v[2] - s[2]))) / 2)
                       / sqrt((v[1] - s[1]) * (v[1] - s[1])
                            + (v[2] - s[2]) * (v[2] - s[2])))
                      * (v[2] - s[2]),
               (s[3] + sqrt((v[1] - s[1]) * (v[1] - s[1])
                          + (v[2] - s[2]) * (v[2] - s[2]))) / 2]
             ELSE [s[1], s[2], s[3]] END) AS c
  FROM f2
)
SELECT quadrant, CAST(n AS BIGINT) AS n_points,
       round(c[1], 6) AS center_x, round(c[2], 6) AS center_y,
       round(c[3], 6) AS radius
FROM sw ORDER BY quadrant
"""


@register("ritter_bounding_circle", _AQ01_ORACLE)
def q_ritter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import ritter_bounding_circle

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    points = spark.sql(synth.dense_points_select_sql("spark")).select(
        "event_id", "x", "y",
        (F.floor(F.col("x") / 2000).cast("bigint") * 2
         + F.floor(F.col("y") / 2000).cast("bigint")).alias("quadrant"))
    return (ritter_bounding_circle(points, ["quadrant"])
            .orderBy("quadrant"))


# ---------------------------------------------------------------------------
# aq02 — bivariate Moran's I on a 40x40 lattice: x = blocky crawl
# density, y = the SAME blocks shifted one cell east plus independent
# noise, so x at a cell correlates with y next door (positive I_xy).
# ---------------------------------------------------------------------------

def _aq02_cells(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return (f"cells AS (SELECT CAST(doc_id % 40 AS BIGINT) AS cx, "
            f"CAST(doc_id{d}40 AS BIGINT) AS cy, "
            f"CAST(((doc_id % 40){d}8) * ((doc_id{d}40){d}8) * 10 "
            f"  + (doc_id * 37) % 7 AS DOUBLE) AS xval, "
            f"CAST((((doc_id % 40) + 1){d}8) * ((doc_id{d}40){d}8) * 10 "
            f"  + (doc_id * 53) % 7 AS DOUBLE) AS yval "
            f"FROM documents WHERE doc_id < 1600)")


_AQ02_ORACLE = f"""
WITH {_aq02_cells('duckdb')},
st AS (SELECT count(*) AS n, sum(xval) / count(*) AS mx,
              sum(yval) / count(*) AS my FROM cells),
dev AS (SELECT cx, cy, xval - st.mx AS dx, yval - st.my AS dy
        FROM cells CROSS JOIN st),
offs(ox, oy) AS (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)),
pairs AS (
  SELECT a.dx, b.dy AS dyn
  FROM dev a JOIN offs o ON TRUE
  JOIN dev b ON b.cx = a.cx + o.ox AND b.cy = a.cy + o.oy
),
num AS (SELECT count(*) AS w_pairs, sum(dx * dyn) AS crossterm FROM pairs),
den AS (SELECT sum(dx * dx) AS sxx, sum(dy * dy) AS syy FROM dev)
SELECT CAST(st.n AS BIGINT) AS n_cells,
       CAST(num.w_pairs AS BIGINT) AS w_pairs,
       round((CAST(st.n AS DOUBLE) / num.w_pairs) * num.crossterm
             / sqrt(den.sxx * den.syy), 6) AS moran_ixy
FROM st CROSS JOIN num CROSS JOIN den
"""


@register("bivariate_moran", _AQ02_ORACLE)
def q_bivariate_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import bivariate_moran

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    cells = spark.sql(
        "WITH " + _aq02_cells("spark") + " SELECT * FROM cells")
    return bivariate_moran(cells)


# ---------------------------------------------------------------------------
# aq03 — global transitivity of the undirected host graph: 3T / W.
# Oracle counts each triangle once via the a<b<c three-way join and
# wedges from degrees.
# ---------------------------------------------------------------------------

_AQ03_ORACLE = f"""
WITH {_LINKS_CTE},
und AS (
  SELECT DISTINCT least(src_host, dst_host) AS a,
         greatest(src_host, dst_host) AS b
  FROM edges0 WHERE src_host <> dst_host
),
tri AS (
  SELECT count(*) AS t
  FROM und e1
  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
),
deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und)
  GROUP BY n
),
wed AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS w FROM deg)
SELECT CAST(tri.t AS BIGINT) AS n_triangles, wed.w AS n_wedges,
       round(CASE WHEN wed.w > 0
                  THEN CAST(3 AS DOUBLE) * tri.t / wed.w END, 6)
         AS transitivity
FROM tri CROSS JOIN wed
"""


@register("global_transitivity", _AQ03_ORACLE)
def q_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import global_transitivity

    edges = _links_df(spark, sf_dir).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    return global_transitivity(edges)


# ---------------------------------------------------------------------------
# aq04 — threshold sweep of the wave-29 hashed classifier against a
# length-based quality label (>= 30 tokens): tp/fp/fn + P/R/F1 at six
# operating points.
# ---------------------------------------------------------------------------

_AQ04_TS = [-0.2, -0.1, -0.05, 0.0, 0.05, 0.1]

_AQ04_ORACLE = f"""
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
  SELECT feats.doc_id, avg(w.weight) AS score
  FROM feats JOIN w
    ON w.bucket = CAST(CAST(concat('0x', substr(md5(feats.f), 1, 8))
                            AS UBIGINT) % 64 AS BIGINT)
  GROUP BY feats.doc_id
),
lab AS (
  SELECT s.doc_id, s.score, len(d.t) >= 30 AS label
  FROM scored s JOIN d ON d.doc_id = s.doc_id
),
th(threshold) AS (VALUES {", ".join(
    f"(CAST({t} AS DOUBLE))" for t in _AQ04_TS)}),
agg AS (
  SELECT th.threshold,
         sum(CASE WHEN score >= th.threshold AND label
                  THEN 1 ELSE 0 END) AS tp,
         sum(CASE WHEN score >= th.threshold AND NOT label
                  THEN 1 ELSE 0 END) AS fp,
         sum(CASE WHEN score < th.threshold AND label
                  THEN 1 ELSE 0 END) AS fn
  FROM lab CROSS JOIN th GROUP BY th.threshold
)
SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       round(CASE WHEN tp + fp > 0
                  THEN CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision,
       round(CASE WHEN tp + fn > 0
                  THEN CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall,
       round(CASE WHEN tp + fp > 0 AND tp + fn > 0
                  AND CAST(tp AS DOUBLE) / (tp + fp)
                    + CAST(tp AS DOUBLE) / (tp + fn) > 0
                  THEN 2 * (CAST(tp AS DOUBLE) / (tp + fp))
                       * (CAST(tp AS DOUBLE) / (tp + fn))
                       / (CAST(tp AS DOUBLE) / (tp + fp)
                          + CAST(tp AS DOUBLE) / (tp + fn)) END, 6) AS f1
FROM agg ORDER BY threshold
"""


@register("classifier_threshold_sweep", _AQ04_ORACLE)
def q_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.selection import threshold_sweep
    from bano_spark.operators.textstats import hashed_ngram_score

    docs = (_read(spark, sf_dir, "documents")
            .filter((F.col("doc_id") % 7 == 2)
                    & (F.length(F.trim("text")) > 0)))
    weights = spark.range(64).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * 37 % 128).cast("double") / 64 - 1).alias("weight"))
    scored = hashed_ngram_score(docs, weights, 64).select("doc_id", "score")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    lab = docs.select("doc_id", (F.size(toks) >= 30).alias("label"))
    return (threshold_sweep(scored.join(lab, "doc_id"), _AQ04_TS)
            .orderBy("threshold"))


# ---------------------------------------------------------------------------
# aq05 — Kaplan-Meier survival over right-censored spells: integer
# durations 1..50, ~5/7 observed; survival steps only at event times.
# Oracle folds the identical ascending risk table (list slice
# product), matching the engine's array fold bit for bit.
# ---------------------------------------------------------------------------

_AQ05_ORACLE = """
WITH d AS (
  SELECT CAST((event_id % 50) + 1 AS DOUBLE) AS t,
         (event_id % 7) < 5 AS o
  FROM events
),
tot AS (SELECT count(*) AS n FROM d),
rt AS (
  SELECT t, sum(CASE WHEN o THEN 1 ELSE 0 END) AS d,
         sum(CASE WHEN o THEN 0 ELSE 1 END) AS c
  FROM d GROUP BY t
),
ordered AS (
  SELECT t, d, c,
         sum(d + c) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev
  FROM rt
),
risk AS (
  SELECT t, d, c, tot.n - coalesce(prev, 0) AS nrisk
  FROM ordered CROSS JOIN tot
),
f AS (
  SELECT list(t ORDER BY t) AS ts,
         list(1 - CAST(d AS DOUBLE) / nrisk ORDER BY t) AS fs,
         list(nrisk ORDER BY t) AS ns,
         list(d ORDER BY t) AS ds,
         list(c ORDER BY t) AS cs
  FROM risk
),
rows_ AS (
  SELECT unnest(generate_series(1, len(ts))) AS i, ts, fs, ns, ds, cs
  FROM f
)
SELECT ts[i] AS duration, CAST(ns[i] AS BIGINT) AS n_risk,
       CAST(ds[i] AS BIGINT) AS n_events,
       CAST(cs[i] AS BIGINT) AS n_censored,
       round(list_reduce(list_prepend(CAST(1 AS DOUBLE), fs[1:i]),
                         (a, x) -> a * x), 6) AS survival
FROM rows_ WHERE ds[i] > 0 ORDER BY duration
"""


@register("kaplan_meier_survival", _AQ05_ORACLE)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import kaplan_meier

    ev = _read(spark, sf_dir, "events").select(
        ((F.col("event_id") % 50) + 1).cast("double").alias("duration"),
        ((F.col("event_id") % 7) < 5).alias("observed"))
    return kaplan_meier(ev).orderBy("duration")
