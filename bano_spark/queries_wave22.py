"""Wave-22 driver queries: watershed basin labelling (pointer-doubled
D8 sink resolution — log-depth rounds, completing direction ->
accumulation -> basins), local Moran's I with LISA quadrants (the
per-cell decomposition of the global Moran test), TextTiling topic
segmentation (lexical-cohesion dips over adjacent block cosines), and
exact positional phrase search (the inverted-index algebra term
search can't express).

Reference anchors: watershed/LISA extend the terrain and spatial-
stats families over the same sparse lattices; TextTiling joins
token_chunks/doc_stitch in the document-structure family; phrase
search completes bm25_topk/inverted_index with positional postings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.queries_wave15 import _dem_cte
from bano_spark.queries_wave16 import _D8_DIR_CTES
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# ah01 — watershed labels over the wave-15 DEM: engine resolves sinks
# by pointer DOUBLING (log-depth rounds); oracle walks every flow
# path step by step with a recursive CTE and keeps the row whose
# cursor landed on a dir-0 cell — two evaluation shapes of the same
# forest, exactly equal.
# ---------------------------------------------------------------------------

_AH01_ORACLE = f"""
WITH RECURSIVE {_dem_cte('duckdb')},
{_D8_DIR_CTES},
edges AS (
  SELECT d.gx, d.gy, d.gx + o.dx AS tx, d.gy + o.dy AS ty
  FROM dirs d JOIN offs o ON o.code = d.dir
  WHERE d.dir <> 0
),
walk(gx, gy, cx, cy) AS (
  SELECT gx, gy, gx, gy FROM dirs
  UNION ALL
  SELECT w.gx, w.gy, e.tx, e.ty FROM walk w
  JOIN edges e ON e.gx = w.cx AND e.gy = w.cy
)
SELECT w.gx, w.gy, w.cx AS sink_gx, w.cy AS sink_gy
FROM walk w JOIN dirs d ON d.gx = w.cx AND d.gy = w.cy
WHERE d.dir = 0
ORDER BY 1, 2
"""


@register("watershed_labels", _AH01_ORACLE)
def ah_watershed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import watershed_labels

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    dem = spark.sql("WITH " + _dem_cte("spark") + " SELECT * FROM dem")
    return watershed_labels(dem).orderBy("gx", "gy")


# ---------------------------------------------------------------------------
# ah02 — local Moran / LISA over a 40x12 lattice with a planted hot
# half (gx < 20 shifted +50): HH cores in the hot half, LL in the
# cold half, HL/LH along the boundary column. Rook weights, binary;
# oracle replays the two-pass algebra inline.
# ---------------------------------------------------------------------------


def _ah02_cells(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return (f"cells AS (SELECT CAST(doc_id % 40 AS BIGINT) AS cx, "
            f"CAST(doc_id{d}40 AS BIGINT) AS cy, "
            f"CAST((doc_id * 37) % 7 + CASE WHEN doc_id % 40 < 20 "
            f"THEN 50 ELSE 0 END AS BIGINT) AS val "
            f"FROM documents WHERE doc_id < 480)")


_AH02_ORACLE = f"""
WITH {_ah02_cells('duckdb')},
g AS (SELECT count(*) AS n, sum(val) / count(*) AS m FROM cells),
dev AS (SELECT cx, cy, val - g.m AS z FROM cells CROSS JOIN g),
m2 AS (SELECT sum(z * z) / (SELECT n FROM g) AS v FROM dev),
offs(dx, dy) AS (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)),
sh AS (SELECT d.cx + o.dx AS cx, d.cy + o.dy AS cy, d.z AS zn
       FROM dev d JOIN offs o ON TRUE),
lag AS (
  SELECT dev.cx, dev.cy, dev.z, sum(sh.zn) AS lg,
         CAST(count(*) AS BIGINT) AS n_nbrs
  FROM dev JOIN sh ON sh.cx = dev.cx AND sh.cy = dev.cy
  GROUP BY dev.cx, dev.cy, dev.z
)
SELECT cx, cy, round(z * lg / (SELECT v FROM m2), 6) AS local_i,
       n_nbrs,
       CASE WHEN z >= 0 AND lg >= 0 THEN 'HH'
            WHEN z < 0 AND lg < 0 THEN 'LL'
            WHEN z >= 0 AND lg < 0 THEN 'HL'
            ELSE 'LH' END AS quadrant
FROM lag ORDER BY cx, cy
"""


@register("local_moran_lisa", _AH02_ORACLE)
def ah_lisa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import local_moran

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    cells = spark.sql("WITH " + _ah02_cells("spark")
                      + " SELECT * FROM cells")
    return local_moran(cells).orderBy("cx", "cy")


# ---------------------------------------------------------------------------
# ah03 — TextTiling boundaries over planted topic shifts: each doc
# repeats an English sentence then a French one (vocabulary flips at
# the midpoint), so the boundary gap's cosine collapses. Integer term
# counts -> exact cosines in both engines.
# ---------------------------------------------------------------------------

_TT_BLOCK = 12
_TT_THRESH = 0.4


def _ah03_corpus(dialect: str) -> str:
    from bano_spark.queries_wave14 import _LID_SENTS

    en, fr = _LID_SENTS["en"], _LID_SENTS["fr"]
    return (f"corpus AS (SELECT doc_id, "
            f"repeat('{en} ', 2 + doc_id % 3) || "
            f"repeat('{fr} ', 2 + doc_id % 2) AS text "
            f"FROM documents WHERE doc_id < 60)")


def _ah03_oracle() -> str:
    return rf"""
WITH {_ah03_corpus('duckdb')},
tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
         generate_subscripts(string_split_regex(trim(lower(text)),
                             '\s+'), 1) AS p
  FROM corpus
),
tf AS (SELECT doc_id, CAST((p - 1) // {_TT_BLOCK} AS BIGINT) AS b, w,
              count(*) AS c
       FROM tok WHERE w <> '' GROUP BY 1, 2, 3),
nrm AS (SELECT doc_id, b, sqrt(sum(c * c)) AS n FROM tf GROUP BY 1, 2),
dot AS (
  SELECT a.doc_id, a.b, sum(a.c * b2.c) AS d
  FROM tf a JOIN tf b2 ON b2.doc_id = a.doc_id AND b2.b = a.b + 1
                      AND b2.w = a.w
  GROUP BY 1, 2
),
gaps AS (
  SELECT na.doc_id, na.b AS gap,
         coalesce(dot.d, 0.0) / (na.n * nb.n) AS sim
  FROM nrm na
  JOIN nrm nb ON nb.doc_id = na.doc_id AND nb.b = na.b + 1
  LEFT JOIN dot ON dot.doc_id = na.doc_id AND dot.b = na.b
),
dep AS (
  SELECT doc_id, gap, sim,
         (max(sim) OVER (PARTITION BY doc_id ORDER BY gap
                         ROWS UNBOUNDED PRECEDING) - sim)
         + (max(sim) OVER (PARTITION BY doc_id ORDER BY gap
                           ROWS BETWEEN CURRENT ROW
                           AND UNBOUNDED FOLLOWING) - sim) AS depth
  FROM gaps
)
SELECT doc_id, gap, round(sim, 6) AS sim, round(depth, 6) AS depth,
       depth >= {_TT_THRESH!r} AS is_boundary
FROM dep ORDER BY doc_id, gap
"""


@register("texttiling_boundaries", _ah03_oracle())
def ah_texttiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import texttiling

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    corpus = spark.sql("WITH " + _ah03_corpus("spark")
                       + " SELECT * FROM corpus")
    return (texttiling(corpus, block=_TT_BLOCK, threshold=_TT_THRESH)
            .orderBy("doc_id", "gap"))


# ---------------------------------------------------------------------------
# ah04 — positional phrase search over the corpus: query phrases are
# DERIVED from the corpus itself (first 3 tokens of docs 10/20/30/40
# — at least one match exists at any sf) plus the literal
# repeated-term phrase 'batch batch' (coverage counts DISTINCT
# offsets, so both aligned positions are required). Oracle: the same
# start-alignment algebra (position bases cancel in p - qp, so 0- vs
# 1-based indexing agrees by construction).
# ---------------------------------------------------------------------------


def _ah04_oracle() -> str:
    return rf"""
WITH ph AS (
  SELECT CAST(doc_id // 10 AS INT) AS qid,
         array_to_string(list_slice(string_split_regex(trim(lower(text)),
                         '\s+'), 1, 3), ' ') AS phrase
  FROM documents WHERE doc_id IN (10, 20, 30, 40)
  UNION ALL SELECT 99, 'batch batch'
),
post AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
         generate_subscripts(string_split_regex(trim(lower(text)),
                             '\s+'), 1) AS p
  FROM documents
),
q AS (
  SELECT qid,
         unnest(string_split_regex(trim(lower(phrase)), '\s+')) AS w,
         generate_subscripts(string_split_regex(trim(lower(phrase)),
                             '\s+'), 1) AS qp
  FROM ph
),
qlen AS (SELECT qid, count(*) AS ql FROM q GROUP BY qid),
hits AS (
  SELECT q.qid, post.doc_id, post.p - q.qp AS start, q.qp
  FROM post JOIN q ON q.w = post.w WHERE post.w <> ''
),
cover AS (
  SELECT qid, doc_id, start, count(DISTINCT qp) AS cov
  FROM hits GROUP BY 1, 2, 3
)
SELECT cover.qid, cover.doc_id,
       CAST(count(*) AS BIGINT) AS n_matches
FROM cover JOIN qlen USING (qid)
WHERE cov = ql AND start >= 0
GROUP BY 1, 2 ORDER BY qid, doc_id
"""


@register("phrase_query_positional", _ah04_oracle())
def ah_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.search import phrase_search

    docs = _read(spark, sf_dir, "documents")
    derived = (docs.filter(F.col("doc_id").isin(10, 20, 30, 40))
               .select((F.col("doc_id") / 10).cast("int").alias("qid"),
                       F.array_join(F.slice(F.split(
                           F.trim(F.lower("text")), r"\s+"), 1, 3), " ")
                       .alias("phrase")))
    lit = docs.sparkSession.createDataFrame(
        [(99, "batch batch")], "qid int, phrase string")
    return (phrase_search(docs, derived.unionByName(lit))
            .orderBy("qid", "doc_id"))
