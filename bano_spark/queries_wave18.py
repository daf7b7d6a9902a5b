"""Wave-18 driver queries: distance-predicate spatial join
(ST_DWithin as a cell-bucketed equi-join), accumulated cost distance
over a cost surface (least-cost-path primitive via the distributed
Bellman-Ford), raster region grouping (same-class connected
components), document stitching by tail/head token-gram seams, and
segment-level language ID (code-switching detection).

Reference anchors: within-distance generalizes the reference's
suffix-zone radius matching (bano/sql/suffixes); cost distance and
region group complete the raster analytics family over the same
sparse-cell representation as the expire-tiles machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.queries_wave15 import _dem_cte
from bano_spark.queries_wave16 import _ns_fixture_cte
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# ad01 — ST_DWithin CROSS-TABLE: all (point, site) pairs within
# 15 km, sites = every 97th point — the existing knn_join.
# dwithin_pairs operator (already gated self-join at 200 m by
# dwithin_pairs/w76) exercised on its other surface: two distinct
# tables, distinct id columns, dedup_pairs=False, auto-zoom at a
# 75x larger radius. Oracle: the brute-force cross join the engine's
# ring join never materializes.
# ---------------------------------------------------------------------------

_WD_R = 15000.0

_AD01_ORACLE = f"""
WITH {_ns_fixture_cte('duckdb')}
SELECT p.event_id, s.site_id,
       round(sqrt((p.x - s.x) * (p.x - s.x)
                  + (p.y - s.y) * (p.y - s.y)), 6) AS dist
FROM p CROSS JOIN sites s
WHERE (p.x - s.x) * (p.x - s.x) + (p.y - s.y) * (p.y - s.y)
      <= {_WD_R} * {_WD_R}
ORDER BY event_id, site_id
"""


@register("within_distance_join", _AD01_ORACLE)
def ad_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.knn_join import dwithin_pairs

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    pts = spark.sql("WITH " + _ns_fixture_cte("spark")
                    + " SELECT * FROM p")
    sites = spark.sql("WITH " + _ns_fixture_cte("spark")
                      + " SELECT * FROM sites")
    out = dwithin_pairs(pts, sites, _WD_R, left_id="event_id",
                        right_id="site_id")
    return (out.select("event_id", "site_id",
                       F.round(F.sqrt("d2"), 6).alias("dist"))
            .orderBy("event_id", "site_id"))


# ---------------------------------------------------------------------------
# ad02 — accumulated cost distance from (0, 0) over a 12x12 integer
# cost surface ((cost_a + cost_b)/2 * dist per move, sqrt(2)
# diagonals). Engine: lattice edges built relationally + the existing
# distributed Bellman-Ford; oracle: the unrolled relaxation CTE over
# the same edges.
# ---------------------------------------------------------------------------


def _cd_cells_cte(dialect: str) -> str:
    fl = ("CAST(doc_id // 12 AS BIGINT)" if dialect == "duckdb"
          else "CAST(doc_id div 12 AS BIGINT)")
    return ("cc AS (SELECT CAST(doc_id % 12 AS BIGINT) AS gx, "
            f"{fl} AS gy, CAST(1 + doc_id % 3 AS BIGINT) AS cost "
            "FROM documents WHERE doc_id < 144)")


def _cd_oracle(rounds: int = 60) -> str:
    offs = ", ".join(
        f"({dx}, {dy}, "
        + ("sqrt(CAST(2.0 AS DOUBLE))" if dx * dy != 0
           else "CAST(1.0 AS DOUBLE)") + ")"
        for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0))
    parts = [f"WITH {_cd_cells_cte('duckdb')},",
             f"""
offs(dx, dy, dist) AS (VALUES {offs}),
e AS MATERIALIZED (
  SELECT c.gx, c.gy, n.gx AS ngx, n.gy AS ngy,
         (CAST(c.cost AS DOUBLE) + CAST(n.cost AS DOUBLE)) / 2.0
           * o.dist AS w
  FROM cc c JOIN offs o ON TRUE
  JOIN cc n ON n.gx = c.gx + o.dx AND n.gy = c.gy + o.dy),
d0 AS (SELECT gx, gy, CAST(0.0 AS DOUBLE) AS dist FROM cc
       WHERE gx = 0 AND gy = 0)"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
d{i} AS MATERIALIZED (
  SELECT gx, gy, min(dist) AS dist FROM (
    SELECT gx, gy, dist FROM d{i-1}
    UNION ALL
    SELECT e.ngx, e.ngy, d.dist + e.w
    FROM e JOIN d{i-1} d ON d.gx = e.gx AND d.gy = e.gy)
  GROUP BY gx, gy)""")
    parts.append(f"""
SELECT gx, gy, round(dist, 6) AS cost_dist
FROM d{rounds} ORDER BY gx, gy""")
    return "".join(parts)


@register("cost_distance_surface", _cd_oracle())
def ad_costdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import cost_distance

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    cells = spark.sql("WITH " + _cd_cells_cte("spark")
                      + " SELECT * FROM cc")
    return cost_distance(cells, 0, 0).orderBy("gx", "gy")


# ---------------------------------------------------------------------------
# ad03 — raster region grouping: connected components of 4-adjacent
# same-class cells over the wave-15 DEM classed into 25-unit
# elevation bands; labels = the lexicographically smallest member
# cell. Engine: pointer-doubling components on composed keys; oracle:
# recursive reachability + min label.
# ---------------------------------------------------------------------------

_AD03_ORACLE = f"""
WITH RECURSIVE {_dem_cte('duckdb')},
c AS (SELECT gx, gy, CAST((z + 50) // 25 AS BIGINT) AS cls FROM dem),
e AS (
  SELECT a.gx, a.gy, b.gx AS ngx, b.gy AS ngy
  FROM c a JOIN c b
    ON ((b.gx = a.gx + 1 AND b.gy = a.gy)
     OR (b.gx = a.gx - 1 AND b.gy = a.gy)
     OR (b.gx = a.gx AND b.gy = a.gy + 1)
     OR (b.gx = a.gx AND b.gy = a.gy - 1))
   AND b.cls = a.cls
),
walk(sgx, sgy, cx, cy) AS (
  SELECT gx, gy, gx, gy FROM c
  UNION
  SELECT w.sgx, w.sgy, e.ngx, e.ngy
  FROM walk w JOIN e ON e.gx = w.cx AND e.gy = w.cy
),
lbl AS (
  SELECT sgx AS gx, sgy AS gy,
         min(cx * 100000 + cy) AS k
  FROM walk GROUP BY sgx, sgy
)
SELECT c.gx, c.gy, c.cls,
       CAST(l.k // 100000 AS BIGINT) AS region_gx,
       CAST(l.k % 100000 AS BIGINT) AS region_gy
FROM c JOIN lbl l ON l.gx = c.gx AND l.gy = c.gy
ORDER BY c.gx, c.gy
"""


@register("raster_region_group", _AD03_ORACLE)
def ad_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import raster_regions

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    cells = spark.sql(
        "WITH " + _dem_cte("spark")
        + " SELECT gx, gy, CAST((z + 50) div 25 AS BIGINT) AS cls"
        " FROM dem")
    return raster_regions(cells).orderBy("gx", "gy")


# ---------------------------------------------------------------------------
# ad04 — document stitching: every 9th document is split into a front
# part (first 60% of tokens) and a back part that REPEATS the front's
# last 4 tokens — the planted seam tail4(A) == head4(B). The operator
# reports all directed seam pairs over originals + parts (accidental
# seams among the synthetic originals count too, identically in both
# engines).
# ---------------------------------------------------------------------------

_ST_K = 4


def _stitch_corpus_cte(dialect: str) -> str:
    if dialect == "duckdb":
        return rf"""
t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      FROM documents),
tm AS (SELECT doc_id, tk, len(tk) AS n,
              CAST(floor(len(tk) * 0.6) AS INT) AS m
       FROM t WHERE len(tk) >= 10),
parts AS (
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(list_slice(tk, 1, m), ' ') AS text
  FROM tm WHERE doc_id % 9 = 0
  UNION ALL
  SELECT doc_id + 2000000,
         array_to_string(list_slice(tk, m - {_ST_K - 1}, n), ' ')
  FROM tm WHERE doc_id % 9 = 0
),
corpus AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id, text FROM parts)"""
    return rf"""
t AS (SELECT doc_id, split(trim(lower(text)), '\\s+') AS tk
      FROM documents),
tm AS (SELECT doc_id, tk, size(tk) AS n,
              CAST(floor(size(tk) * 0.6) AS INT) AS m
       FROM t WHERE size(tk) >= 10),
parts AS (
  SELECT doc_id + 1000000 AS doc_id,
         array_join(slice(tk, 1, m), ' ') AS text
  FROM tm WHERE doc_id % 9 = 0
  UNION ALL
  SELECT doc_id + 2000000,
         array_join(slice(tk, m - {_ST_K - 1}, n - m + {_ST_K}), ' ')
  FROM tm WHERE doc_id % 9 = 0
),
corpus AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id, text FROM parts)"""


_AD04_ORACLE = rf"""
WITH {_stitch_corpus_cte('duckdb')},
tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        FROM corpus),
g AS (SELECT doc_id, tk, len(tk) AS n FROM tok WHERE len(tk) >= {_ST_K}),
heads AS (SELECT doc_id AS id_b,
                 array_to_string(list_slice(tk, 1, {_ST_K}), ' ') AS gr
          FROM g),
tails AS (SELECT doc_id AS id_a,
                 array_to_string(list_slice(tk, n - {_ST_K - 1}, n),
                                 ' ') AS gr
          FROM g)
SELECT id_a, id_b, gr AS seam_gram
FROM tails JOIN heads USING (gr)
WHERE id_a <> id_b
ORDER BY id_a, id_b
"""


@register("doc_stitch_overlaps", _AD04_ORACLE)
def ad_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import stitch_overlaps

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    corpus = spark.sql("WITH " + _stitch_corpus_cte("spark")
                       + " SELECT * FROM corpus")
    return (stitch_overlaps(corpus, _ST_K)
            .orderBy("id_a", "id_b"))


# ---------------------------------------------------------------------------
# ad05 — code-switching detection: language ID per 12-token segment
# over a corpus where every 4th document concatenates an English and
# a French sentence (mixed) and the rest rotate one language —
# per-doc rollup of distinct segment predictions.
# ---------------------------------------------------------------------------

_CS_SEG = 12


def _cs_corpus_cte() -> str:
    from bano_spark.queries_wave14 import _LID_SENTS

    en, fr = _LID_SENTS["en"], _LID_SENTS["fr"]
    de, es = _LID_SENTS["de"], _LID_SENTS["es"]
    return ("cs_corpus AS (SELECT doc_id, "
            "CASE WHEN doc_id % 4 = 0 "
            f"THEN '{en}' || ' ' || '{fr}' "
            f"WHEN doc_id % 4 = 1 THEN '{de}' "
            f"WHEN doc_id % 4 = 2 THEN '{es}' "
            f"ELSE '{en}' END AS text FROM documents)")


def _ad05_oracle() -> str:
    from bano_spark.operators.langid import profiles_values_sql

    return rf"""
WITH {_cs_corpus_cte()},
prof(lang, tri) AS (VALUES {profiles_values_sql()}),
t AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS tk
      FROM cs_corpus),
d AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0),
segs AS (
  SELECT doc_id,
         CAST((s - 1) // {_CS_SEG} + 1 AS INT) AS seg,
         array_to_string(
           list_slice(tk, CAST(s AS INT),
                      CAST(least(s + {_CS_SEG - 1}, n) AS INT)), ' ')
           AS text
  FROM (SELECT doc_id, tk, n,
               unnest(generate_series(1, n, {_CS_SEG})) AS s
        FROM d)
),
tris AS (
  SELECT doc_id, seg,
         unnest(list_transform(generate_series(1, length(text) - 2),
                               i -> substr(text, CAST(i AS INT), 3))) AS tri
  FROM segs
),
sc AS (SELECT doc_id, seg, lang, CAST(count(*) AS BIGINT) AS score
       FROM tris JOIN prof USING (tri) GROUP BY 1, 2, 3),
rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id, seg
                                    ORDER BY score DESC, lang) AS r
       FROM sc),
lab AS (SELECT doc_id, lang FROM rk WHERE r = 1)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
       count(DISTINCT lang) > 1 AS mixed
FROM lab GROUP BY doc_id ORDER BY doc_id
"""


@register("langid_code_switching", _ad05_oracle())
def ad_codeswitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.langid import langid_segments, profiles_df

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    corpus = spark.sql("WITH " + _cs_corpus_cte()
                       + " SELECT * FROM cs_corpus")
    return (langid_segments(corpus, profiles_df(spark), _CS_SEG)
            .orderBy("doc_id"))
