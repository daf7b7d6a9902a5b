"""Wave-16 driver queries: hydrology on the sparse DEM (D8 flow
direction + flow accumulation), the exact cross-table nearest-site
join, the empirical semivariogram (kriging's structure function),
anchor-text rollups per target host, and fixed-size overlapping token
chunking for training-example prep.

Reference anchors: D8 extends the wave-15 terrain family on the same
sparse-raster representation the reference's tile accounting implies
(bano/expire_tiles.py); nearest-site generalizes the reference's
closest-point rapprochement (bano/models.py) from geometry-internal
to cross-table; anchor rollups/chunking serve the webtext axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.queries_wave15 import _dem_cte
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# ab01 — D8 flow direction on the wave-15 DEM (ESRI codes, steepest
# strictly-descending occupied neighbor, drop/dist with sqrt(2)
# diagonals, ties to the smallest code, sinks = 0). Oracle: the
# textbook 8-neighbor VALUES join + per-cell top-1 window.
# ---------------------------------------------------------------------------

_D8_OFFS_SQL = ("(1, 0, 1, CAST(1.0 AS DOUBLE)), "
                "(1, -1, 2, sqrt(CAST(2.0 AS DOUBLE))), "
                "(0, -1, 4, CAST(1.0 AS DOUBLE)), "
                "(-1, -1, 8, sqrt(CAST(2.0 AS DOUBLE))), "
                "(-1, 0, 16, CAST(1.0 AS DOUBLE)), "
                "(-1, 1, 32, sqrt(CAST(2.0 AS DOUBLE))), "
                "(0, 1, 64, CAST(1.0 AS DOUBLE)), "
                "(1, 1, 128, sqrt(CAST(2.0 AS DOUBLE)))")

_D8_DIR_CTES = f"""
offs(dx, dy, code, dist) AS (VALUES {_D8_OFFS_SQL}),
nb AS (
  SELECT c.gx, c.gy, o.code,
         CAST(c.z - n.z AS DOUBLE) / o.dist AS g
  FROM dem c JOIN offs o ON TRUE
  JOIN dem n ON n.gx = c.gx + o.dx AND n.gy = c.gy + o.dy
  WHERE n.z < c.z
),
rk AS (
  SELECT gx, gy, code, g,
         row_number() OVER (PARTITION BY gx, gy
                            ORDER BY g DESC, code) AS r
  FROM nb
),
dirs AS (
  SELECT d.gx, d.gy, coalesce(rk.code, 0) AS dir,
         coalesce(rk.g, 0.0) AS g
  FROM dem d LEFT JOIN (SELECT * FROM rk WHERE r = 1) rk
    ON rk.gx = d.gx AND rk.gy = d.gy
)"""

_AB01_ORACLE = f"""
WITH {_dem_cte('duckdb')},
{_D8_DIR_CTES}
SELECT gx, gy, dir, round(g, 6) AS drop_per_cell
FROM dirs ORDER BY gx, gy
"""


@register("d8_flow_direction", _AB01_ORACLE)
def ab_flowdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import d8_flow_direction

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    dem = spark.sql("WITH " + _dem_cte("spark") + " SELECT * FROM dem")
    return d8_flow_direction(dem).orderBy("gx", "gy")


# ---------------------------------------------------------------------------
# ab02 — D8 flow accumulation: upstream contributing-cell count per
# cell (self included). Engine: iterative acc = 1 + sum(upstream)
# with structural fixpoint detection; oracle: a RECURSIVE CTE walking
# every cell's full flow path and counting visits — two different
# evaluation shapes of the same (acyclic, strict-descent) pointer
# forest, exactly equal on integer counts.
# ---------------------------------------------------------------------------

_AB02_ORACLE = f"""
WITH RECURSIVE {_dem_cte('duckdb')},
{_D8_DIR_CTES},
edges AS (
  SELECT d.gx, d.gy, d.gx + o.dx AS tx, d.gy + o.dy AS ty
  FROM dirs d JOIN offs o ON o.code = d.dir
  WHERE d.dir <> 0
),
walk(cx, cy) AS (
  SELECT gx, gy FROM dem
  UNION ALL
  SELECT e.tx, e.ty FROM walk w
  JOIN edges e ON e.gx = w.cx AND e.gy = w.cy
)
SELECT cx AS gx, cy AS gy, CAST(count(*) AS BIGINT) AS acc
FROM walk GROUP BY cx, cy ORDER BY gx, gy
"""


@register("d8_flow_accumulation", _AB02_ORACLE)
def ab_flowacc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import d8_flow_accumulation

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    dem = spark.sql("WITH " + _dem_cte("spark") + " SELECT * FROM dem")
    return d8_flow_accumulation(dem).orderBy("gx", "gy")


# ---------------------------------------------------------------------------
# ab03 — exact nearest-site join: every point gets its closest site
# (ties by smallest site id) from the sparse site subset
# (event_id % 97 = 0). Engine: doubling-cell ring search (provably
# exact, loud guard); oracle: the brute-force point x site argmin the
# engine never materializes.
# ---------------------------------------------------------------------------


def _ns_fixture_cte(dialect: str) -> str:
    p = synth.points_select_sql(dialect)
    return (f"p AS ({p}), "
            "sites AS (SELECT event_id AS site_id, x, y FROM p "
            "WHERE event_id % 97 = 0)")


_AB03_ORACLE = f"""
WITH {_ns_fixture_cte('duckdb')},
cand AS (
  SELECT p.event_id, s.site_id,
         (p.x - s.x) * (p.x - s.x) + (p.y - s.y) * (p.y - s.y) AS d2
  FROM p CROSS JOIN sites s
),
best AS (
  SELECT event_id, site_id, d2,
         row_number() OVER (PARTITION BY event_id
                            ORDER BY d2, site_id) AS r
  FROM cand
)
SELECT event_id, site_id, round(sqrt(d2), 6) AS nn_dist
FROM best WHERE r = 1 ORDER BY event_id
"""


@register("nearest_site_join", _AB03_ORACLE)
def ab_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import nearest_site_join

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    pts = spark.sql("WITH " + _ns_fixture_cte("spark")
                    + " SELECT * FROM p")
    sites = spark.sql("WITH " + _ns_fixture_cte("spark")
                      + " SELECT * FROM sites")
    return nearest_site_join(pts, sites, 20000.0).orderBy("event_id")


# ---------------------------------------------------------------------------
# ab04 — empirical semivariogram over a scattered integer field
# (every 7th point, z from the event hash): gamma(h) per 1 km lag bin
# under 8 km, unordered pairs once via strict (x, y, z) order.
# Engine: 3x3 ring join at cell = max_lag; oracle: the O(n^2) pair
# join. Every aggregated term is an exact integer, so the bin sums
# are order-independent doubles.
# ---------------------------------------------------------------------------

_VG_LAG, _VG_BINS = 8000.0, 8


def _vg_fixture_cte(dialect: str) -> str:
    p = synth.points_select_sql(dialect)
    return (f"p AS ({p}), "
            "s AS (SELECT x, y, CAST((event_id * 13) % 50 AS BIGINT) AS z "
            "FROM p WHERE event_id % 7 = 0)")


_AB04_ORACLE = f"""
WITH {_vg_fixture_cte('duckdb')},
prs AS (
  SELECT a.x AS x1, a.y AS y1, a.z AS z1, b.x, b.y, b.z
  FROM s a JOIN s b ON (a.x, a.y, a.z) < (b.x, b.y, b.z)
),
d AS (
  SELECT (x1 - x) * (x1 - x) + (y1 - y) * (y1 - y) AS d2,
         sqrt((x1 - x) * (x1 - x) + (y1 - y) * (y1 - y)) AS dist,
         CAST(z1 - z AS DOUBLE) AS dz
  FROM prs
),
binned AS (
  SELECT CAST(floor(dist / {_VG_LAG / _VG_BINS}) AS INT) AS bin,
         d2, dz * dz AS dz2
  FROM d WHERE dist < {_VG_LAG}
)
SELECT bin, round(bin * CAST({_VG_LAG / _VG_BINS} AS DOUBLE), 6) AS lag_lo,
       round((bin + 1) * CAST({_VG_LAG / _VG_BINS} AS DOUBLE), 6) AS lag_hi,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(sum(dz2) / (2.0 * count(*)), 6) AS gamma,
       round(sqrt(sum(d2) / count(*)), 6) AS rms_dist
FROM binned GROUP BY bin ORDER BY bin
"""


@register("empirical_variogram", _AB04_ORACLE)
def ab_variogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import empirical_variogram

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    s = spark.sql("WITH " + _vg_fixture_cte("spark") + " SELECT * FROM s")
    return empirical_variogram(s, _VG_LAG, _VG_BINS)


# ---------------------------------------------------------------------------
# ab05 — anchor-text rollup per destination host over the extracted
# link graph: inlink count, distinct source hosts, top-3 anchors by
# (count desc, anchor asc).
# ---------------------------------------------------------------------------

_AB05_ORACLE = f"""
WITH h AS ({synth.link_html_select_sql('duckdb')}),
e AS (
  SELECT doc_id, src_host,
         unnest(regexp_extract_all(html,
             '<a href="([^"]+)">([^<]*)</a>', 1)) AS href,
         unnest(regexp_extract_all(html,
             '<a href="([^"]+)">([^<]*)</a>', 2)) AS anchor
  FROM h
),
l AS (
  SELECT src_host, anchor,
         CASE WHEN href LIKE 'https://%'
              THEN regexp_extract(href, 'https://([^/]+)', 1)
              ELSE src_host END AS dst_host
  FROM e
),
per AS (SELECT dst_host, anchor, CAST(count(*) AS BIGINT) AS n_anchor
        FROM l GROUP BY dst_host, anchor),
tot AS (SELECT dst_host, CAST(count(*) AS BIGINT) AS n_inlinks,
               CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts
        FROM l GROUP BY dst_host),
rk AS (SELECT *, row_number() OVER (PARTITION BY dst_host
                                    ORDER BY n_anchor DESC, anchor) AS rnk
       FROM per)
SELECT t.dst_host, t.n_inlinks, t.n_src_hosts, rk.rnk, rk.anchor,
       rk.n_anchor
FROM rk JOIN tot t ON t.dst_host = rk.dst_host
WHERE rk.rnk <= 3 ORDER BY t.dst_host, rk.rnk
"""


@register("anchor_text_rollup", _AB05_ORACLE)
def ab_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.crawl import anchor_text_rollup, extract_links

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    pages = spark.sql(synth.link_html_select_sql("spark"))
    links = extract_links(pages)
    return (anchor_text_rollup(links, k=3)
            .orderBy("dst_host", "rnk"))


# ---------------------------------------------------------------------------
# ab06 — fixed-size overlapping token chunks (size 32, stride 24)
# with md5 chunk fingerprints — the training-example prep step; both
# engines hash the identical space-joined UTF-8 token strings.
# ---------------------------------------------------------------------------

_CH_SIZE, _CH_STRIDE = 32, 24

_AB06_ORACLE = rf"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\s+') AS tk
  FROM documents
),
d AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0),
ex AS (
  SELECT doc_id, tk, n,
         unnest(generate_series(1, n, {_CH_STRIDE})) AS start,
         generate_subscripts(generate_series(1, n, {_CH_STRIDE}), 1) AS k
  FROM d
)
SELECT doc_id, CAST(k AS INT) AS chunk_no, CAST(start AS INT) AS start_tok,
       CAST(len(list_slice(tk, CAST(start AS INT),
                           CAST(least(start + {_CH_SIZE - 1}, n) AS INT)))
            AS INT) AS n_tokens,
       md5(array_to_string(
           list_slice(tk, CAST(start AS INT),
                      CAST(least(start + {_CH_SIZE - 1}, n) AS INT)),
           ' ')) AS chunk_md5
FROM ex ORDER BY doc_id, chunk_no
"""


@register("token_chunks", _AB06_ORACLE)
def ab_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import token_chunks

    docs = _read(spark, sf_dir, "documents")
    return (token_chunks(docs, _CH_SIZE, _CH_STRIDE)
            .orderBy("doc_id", "chunk_no"))
