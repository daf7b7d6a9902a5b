"""Wave-117 driver queries: exact 2-D rectangle union area — Klee's
measure problem (operators/rectunion.py) — over (a) hash-derived
integer squares from orders, layered by customer, and (b) the commune
bbox fixture per department (where Paris' commune/arrondissement
nesting makes union < sum).

Oracle: independent SQL sweep — same coordinate compression, islands
by running-max, depth by endpoint prefix sums. All integers.

Ref parity: the coverage-audit complement of the reference's pairwise
bbox conciliation joins (bano/sql, rect_intersection_areas fixture).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.operators.rectunion import union_area, union_profile
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _squares_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return f"""
SELECT o_orderkey AS rid,
       o_custkey % 20 AS grp,
       (u{d}1024) % 200000 - (50 + ((u{d}32) % 450)) AS x0,
       ((u{d}1024){d}200000) % 100000 - (50 + ((u{d}32) % 450)) AS y0,
       (u{d}1024) % 200000 + (50 + ((u{d}32) % 450)) AS x1,
       ((u{d}1024){d}200000) % 100000 + (50 + ((u{d}32) % 450)) AS y1
FROM (SELECT o_orderkey, o_custkey,
             (o_orderkey * 2654435761 + 29) % 2147483648 AS u
      FROM orders)"""


def _squares(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .createOrReplaceTempView("orders")
    return spark.sql(_squares_sql("spark"))


def _sweep_sql() -> str:
    """Shared oracle sweep over CTE `rects(grp, rid, x0, y0, x1, y1)`."""
    return """
edges AS (
  SELECT DISTINCT grp, x0 AS x FROM rects
  UNION SELECT DISTINCT grp, x1 FROM rects),
slabs AS (
  SELECT grp, x AS sx,
         lead(x) OVER (PARTITION BY grp ORDER BY x) AS snx
  FROM edges),
cov AS (
  SELECT s.grp, s.sx, s.snx, r.rid, r.y0, r.y1
  FROM slabs s JOIN rects r
    ON r.grp = s.grp AND s.snx IS NOT NULL
   AND r.x0 <= s.sx AND r.x1 >= s.snx),
marked AS (
  SELECT grp, sx, snx, rid, y0, y1,
         CASE WHEN max(y1) OVER (PARTITION BY grp, sx ORDER BY y0, rid
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
              OR y0 > max(y1) OVER (PARTITION BY grp, sx
                  ORDER BY y0, rid
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_isl
  FROM cov),
islanded AS (
  SELECT *, sum(new_isl) OVER (PARTITION BY grp, sx ORDER BY y0, rid
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM marked),
per_slab AS (
  SELECT grp, sx, snx, sum(ylen) AS yunion
  FROM (SELECT grp, sx, snx, isl, max(y1) - min(y0) AS ylen
        FROM islanded GROUP BY grp, sx, snx, isl)
  GROUP BY grp, sx, snx),
uarea AS (
  SELECT grp, CAST(sum((snx - sx) * yunion) AS BIGINT) AS union_area
  FROM per_slab GROUP BY grp)"""


_RU01_ORACLE = f"""
WITH rects AS ({_squares_sql("duckdb")}),
{_sweep_sql()},
base AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_rects,
         CAST(sum((x1 - x0) * (y1 - y0)) AS BIGINT) AS sum_area,
         CAST((max(x1) - min(x0)) * (max(y1) - min(y0)) AS BIGINT)
           AS bbox_area
  FROM rects GROUP BY grp)
SELECT b.grp, b.n_rects, b.sum_area, u.union_area, b.bbox_area,
       CAST(u.union_area AS DOUBLE) / CAST(b.bbox_area AS DOUBLE)
         AS coverage,
       CAST(b.sum_area AS DOUBLE) / CAST(u.union_area AS DOUBLE)
         AS overlap_factor
FROM base b JOIN uarea u ON u.grp = b.grp
ORDER BY b.grp
"""


@register("rect_union_area", _RU01_ORACLE)
def rect_union_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact union area per layer of hash-derived squares, with the
    coverage and overlap-factor diagnostics."""
    return (union_area(_squares(spark, sf_dir))
            .select("grp", "n_rects", "sum_area", "union_area",
                    "bbox_area", "coverage", "overlap_factor")
            .orderBy("grp"))


_RU02_ORACLE = f"""
WITH rects AS ({_squares_sql("duckdb")}),
{_sweep_sql()},
ev AS (
  SELECT grp, sx, y0 AS y, 1 AS d, rid FROM cov
  UNION ALL
  SELECT grp, sx, y1 AS y, -1 AS d, rid FROM cov),
depth AS (
  SELECT grp, sx, max(run) AS slab_depth
  FROM (SELECT grp, sx,
               sum(d) OVER (PARTITION BY grp, sx ORDER BY y, d, rid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS run
        FROM ev)
  GROUP BY grp, sx),
isl2 AS (
  SELECT grp, sx, sum(new_isl) AS slab_islands,
         count(*) AS slab_cover_rows
  FROM marked GROUP BY grp, sx)
SELECT d.grp, CAST(count(*) AS BIGINT) AS n_slabs,
       CAST(sum(i.slab_cover_rows) AS BIGINT) AS cover_join_rows,
       CAST(max(i.slab_islands) AS BIGINT) AS max_islands,
       CAST(max(d.slab_depth) AS BIGINT) AS max_depth
FROM depth d JOIN isl2 i ON i.grp = d.grp AND i.sx = d.sx
GROUP BY d.grp
ORDER BY d.grp
"""


@register("rect_union_profile", _RU02_ORACLE)
def rect_union_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep cost profile per layer: non-empty slab count, cover-join
    volume (the real work), worst-slab island count and overlap
    depth."""
    return union_profile(_squares(spark, sf_dir)).orderBy("grp")


def _communes_rects_sql() -> str:
    rows = ", ".join(
        f"('{c[1]}', {i}, {int(c[3])}, {int(c[4])}, {int(c[5])}, {int(c[6])})"
        for i, c in enumerate(synth.COMMUNES))
    return ("rects AS (SELECT grp, CAST(rid AS BIGINT) AS rid, "
            "CAST(x0 AS BIGINT) AS x0, CAST(y0 AS BIGINT) AS y0, "
            "CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1 "
            f"FROM (VALUES {rows}) v(grp, rid, x0, y0, x1, y1))")


_RU03_ORACLE = f"""
WITH {_communes_rects_sql()},
{_sweep_sql()},
base AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_rects,
         CAST(sum((x1 - x0) * (y1 - y0)) AS BIGINT) AS sum_area
  FROM rects GROUP BY grp)
SELECT b.grp AS dept, b.n_rects, b.sum_area, u.union_area,
       b.sum_area > u.union_area AS has_overlap
FROM base b JOIN uarea u ON u.grp = b.grp
ORDER BY dept
"""


@register("dept_bbox_union_coverage", _RU03_ORACLE)
def dept_bbox_union_coverage(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Commune-bbox union per department — Paris' commune vs
    arrondissement nesting is the union < sum case."""
    rows = [(c[1], i, int(c[3]), int(c[4]), int(c[5]), int(c[6]))
            for i, c in enumerate(synth.COMMUNES)]
    rects = spark.createDataFrame(
        rows, "grp string, rid long, x0 long, y0 long, x1 long, y1 long")
    out = union_area(rects)
    return (out.select(F.col("grp").alias("dept"), "n_rects", "sum_area",
                       "union_area",
                       (F.col("sum_area") > F.col("union_area"))
                       .alias("has_overlap"))
            .orderBy("dept"))
