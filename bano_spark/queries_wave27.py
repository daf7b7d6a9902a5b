"""Wave-27 driver queries: STR spatial bulk packing (the partitioning
strategy a distributed spatial engine co-locates joins on — exact
global ranks WITHOUT a single-partition sort via the engine's
composite-bucketed prefix sums), a Moran correlogram (autocorrelation
range over Chebyshev rings), two-hop neighborhood sizes (local graph
densification), and the corpus selection tradeoff curve (cumulative
doc/token shares by quality band). `lsh_quality_eval` (this wave's
fifth member) lives in __spark_entry__ next to the dedup family whose
shingle/banding generators it shares.

Reference anchors: STR packing is the load-side discipline under
every cell-bucketed join in the engine; the correlogram extends
moran_i_hex/geary to distance profiles; two-hop extends the
link-graph family; the tradeoff curve fronts token_budget_selection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.queries_wave22 import _ah02_cells
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# am01 — STR packing of the event points into a 4 x 4 leaf grid.
# Engine ranks via distributed_cumsum (no single-partition exchange);
# oracle uses the definitional global row_number. floor() is explicit
# in the oracle (DuckDB CAST rounds, Spark's cast truncates).
# ---------------------------------------------------------------------------

_STR_NX, _STR_NY = 4, 4

_AM01_ORACLE = f"""
WITH p AS ({synth.points_select_sql('duckdb')}),
rx AS (SELECT event_id, x, y,
              row_number() OVER (ORDER BY x, event_id) AS r,
              count(*) OVER () AS n
       FROM p),
sl AS (SELECT *, CAST(floor((r - 1) * {_STR_NX} * 1.0 / n) AS BIGINT)
                   AS slab
       FROM rx),
ly AS (SELECT *, row_number() OVER (PARTITION BY slab
                                    ORDER BY y, event_id) AS ry,
              count(*) OVER (PARTITION BY slab) AS sn
       FROM sl),
lf AS (SELECT *, CAST(floor((ry - 1) * {_STR_NY} * 1.0 / sn) AS BIGINT)
                   AS leaf
       FROM ly)
SELECT slab, leaf, CAST(count(*) AS BIGINT) AS n_points,
       round(min(x), 6) AS xmin, round(max(x), 6) AS xmax,
       round(min(y), 6) AS ymin, round(max(y), 6) AS ymax
FROM lf GROUP BY slab, leaf ORDER BY slab, leaf
"""


@register("str_leaf_packing", _AM01_ORACLE)
def am_str_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatial_partition import str_pack

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    pts = spark.sql(synth.points_select_sql("spark"))
    return (str_pack(pts, _STR_NX, _STR_NY, id_col="event_id")
            .orderBy("slab", "leaf"))


# ---------------------------------------------------------------------------
# am02 — Moran correlogram at Chebyshev rings 1..3 over the LISA
# lattice (hot left half): I(k) decays with ring distance, the
# correlation-range profile.
# ---------------------------------------------------------------------------

_MC_KS = [1, 2, 3]


def _am02_oracle() -> str:
    ring_rows = []
    for k in _MC_KS:
        for dx in range(-k, k + 1):
            for dy in range(-k, k + 1):
                if max(abs(dx), abs(dy)) == k:
                    ring_rows.append(f"({k}, {dx}, {dy})")
    return f"""
WITH {_ah02_cells('duckdb')},
g AS (SELECT count(*) AS n, sum(val) / count(*) AS m FROM cells),
dev AS (SELECT cx, cy, val - g.m AS z FROM cells CROSS JOIN g),
ss AS (SELECT sum(z * z) AS ss FROM dev),
offs(k, dx, dy) AS (VALUES {", ".join(ring_rows)}),
sh AS (SELECT o.k, d.cx + o.dx AS cx, d.cy + o.dy AS cy, d.z AS zn
       FROM dev d JOIN offs o ON TRUE),
pr AS (SELECT sh.k, dev.z, sh.zn
       FROM dev JOIN sh ON sh.cx = dev.cx AND sh.cy = dev.cy)
SELECT k, CAST(count(*) AS BIGINT) AS w_pairs,
       round(((SELECT n FROM g) * 1.0 / count(*))
             * sum(z * zn) / (SELECT ss FROM ss), 6) AS moran_i
FROM pr GROUP BY k ORDER BY k
"""


@register("moran_correlogram_rings", _am02_oracle())
def am_correlogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import moran_correlogram

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    cells = spark.sql("WITH " + _ah02_cells("spark")
                      + " SELECT * FROM cells")
    return moran_correlogram(cells, _MC_KS).orderBy("k")


# ---------------------------------------------------------------------------
# am03 — two-hop neighborhood sizes over the wave-25 multi-degree
# host graph (undirected distinct edges).
# ---------------------------------------------------------------------------

_AM03_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT doc_id % 20 AS src,
         (doc_id * 7 + doc_id // 20) % 20 AS dst
  FROM documents WHERE doc_id < 200
),
sym AS (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM e0 WHERE src <> dst
    UNION ALL SELECT dst, src FROM e0 WHERE src <> dst)
),
deg AS (SELECT a, CAST(count(*) AS BIGINT) AS degree FROM sym GROUP BY a),
two AS (
  SELECT a, CAST(count(*) AS BIGINT) AS n_two_hop FROM (
    SELECT DISTINCT a, c FROM (
      SELECT x.a, y.b AS c FROM sym x JOIN sym y ON y.a = x.b
      WHERE x.a <> y.b
      UNION ALL SELECT a, b FROM sym))
  GROUP BY a
)
SELECT deg.a AS node, deg.degree, two.n_two_hop
FROM deg JOIN two ON two.a = deg.a
ORDER BY node
"""


@register("two_hop_neighborhoods", _AM03_ORACLE)
def am_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import two_hop_neighborhoods

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    edges = docs.select(
        (F.col("doc_id") % 20).alias("src"),
        ((F.col("doc_id") * 7 + F.expr("doc_id div 20")) % 20)
        .alias("dst"))
    return two_hop_neighborhoods(edges).orderBy("node")


# ---------------------------------------------------------------------------
# am04 — selection tradeoff curve over document_profile's quality
# bands: cumulative doc/token shares best-band-first. The oracle
# recomputes the same quality CASE algebra as text_profile (q26).
# ---------------------------------------------------------------------------

_AM04_ORACLE = r"""
WITH s AS (
  SELECT doc_id,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END
              AS BIGINT) AS n_tokens,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(length(text) - length(regexp_replace(text, '[.,;:!?]',
                                                   '', 'g'))
              AS DOUBLE) AS n_punct
  FROM documents
),
q AS (
  SELECT doc_id, n_tokens,
         round((
           (CASE WHEN n_chars >= 50 AND n_chars <= 10000
                 THEN 1.0 ELSE 0.0 END)
         + (CASE WHEN n_chars > 0 THEN
                (CASE WHEN n_punct / n_chars <= 0.1 THEN 1.0 ELSE 0.0 END)
            ELSE 0.0 END)
         + (CASE WHEN n_tokens > 0
                 AND n_chars / n_tokens >= 3.0 AND n_chars / n_tokens <= 12.0
                 THEN 1.0 ELSE 0.0 END)
         ) / 3.0, 6) AS score
  FROM s
),
bands AS (SELECT score, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS n_tokens
          FROM q GROUP BY score),
tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS td,
               CAST(sum(n_tokens) AS DOUBLE) AS tt FROM bands)
SELECT score, n_docs, n_tokens,
       round(sum(n_docs) OVER (ORDER BY score DESC
                               ROWS UNBOUNDED PRECEDING) / tot.td, 6)
         AS cum_doc_share,
       round(sum(n_tokens) OVER (ORDER BY score DESC
                                 ROWS UNBOUNDED PRECEDING) / tot.tt, 6)
         AS cum_token_share
FROM bands CROSS JOIN tot
ORDER BY score DESC
"""


@register("selection_tradeoff", _AM04_ORACLE)
def am_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.selection import selection_tradeoff_curve
    from bano_spark.operators.textstats import document_profile

    docs = _read(spark, sf_dir, "documents")
    prof = document_profile(docs)
    return (selection_tradeoff_curve(prof, "quality", "n_tokens")
            .orderBy(F.desc("score")))
