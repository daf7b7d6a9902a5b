"""Wave-109 driver queries: polygon clipping to tile rectangles
(operators/clipping.py) — Sutherland–Hodgman as 4 let-bound Catalyst
array passes, the vector-overlay half of the tiling stage.

Fixtures:
  * q1 — the commune rectangles + the non-convex refine polygons
    (slope±2 triangles, concave L) clipped to the origin-aligned
    8192 m grid: full per-fragment vertex dump. Bit-exact across
    engines because both evaluate the identical IEEE formula.
  * q2/q3 — data-scaled DIAMONDS from `orders` (odd integer centers,
    power-of-two radii 1024/2048/4096): every clip intersection lands
    on an exact integer, so shoelace terms are exact and conservation
    (sum of fragment areas == 4r^2) is INTEGER equality, order-free
    across DuckDB's unordered SUM.

Oracle: an independent row-based Sutherland–Hodgman — lag-window edge
walk, UNION ALL emission (intersection row, then kept vertex),
row_number re-rank, degenerate groups (<3 open vertices) dropped,
ring re-closed. Four generated CTE blocks, one per half-plane.

Ref parity: bano/db.py + bano/sql expire-tile handling regenerate
whole-commune geometry per tile; this operator ships each tile only
its fragment (ref: bano/models.py:167-210 polygon accessors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.operators.clipping import clip_to_tiles
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


TS = 8192.0
_TSD = "CAST(8192 AS DOUBLE)"


# ---------------------------------------------------------------------------
# Row-based Sutherland–Hodgman oracle generator. Input CTE must have
# (poly_id, tx, ty, pos, x, y) closed-ring rows; emits 4 chained pass
# blocks ending in CTE `p4` of the same shape.
# ---------------------------------------------------------------------------

_SIDES = [
    ("p1", "xmin", f"tx * {_TSD}"),
    ("p2", "xmax", f"(tx + 1) * {_TSD}"),
    ("p3", "ymin", f"ty * {_TSD}"),
    ("p4", "ymax", f"(ty + 1) * {_TSD}"),
]


def _ins(side: str, bound: str, x: str, y: str) -> str:
    return {"xmin": f"{x} >= {bound}", "xmax": f"{x} <= {bound}",
            "ymin": f"{y} >= {bound}", "ymax": f"{y} <= {bound}"}[side]


def _ipoint(side: str, bound: str) -> tuple[str, str]:
    # prev = (px, py), cur = (x, y); identical formula text to the
    # Spark operator so inexact doubles still match bit-for-bit.
    if side in ("xmin", "xmax"):
        t = f"((({bound}) - px) / (x - px))"
        return f"CAST({bound} AS DOUBLE)", f"py + (y - py) * {t}"
    t = f"((({bound}) - py) / (y - py))"
    return f"px + (x - px) * {t}", f"CAST({bound} AS DOUBLE)"


def _sh_pass_sql(tag: str, src: str, side: str, bound: str) -> str:
    ix, iy = _ipoint(side, bound)
    ins_c = _ins(side, bound, "x", "y")
    ins_p = _ins(side, bound, "px", "py")
    return f"""
{tag}_e AS MATERIALIZED (
  SELECT poly_id, tx, ty, pos, x, y,
         lag(x) OVER (PARTITION BY poly_id, tx, ty ORDER BY pos) AS px,
         lag(y) OVER (PARTITION BY poly_id, tx, ty ORDER BY pos) AS py
  FROM {src}),
{tag}_m AS MATERIALIZED (
  SELECT poly_id, tx, ty, pos, 1 AS sub, {ix} AS x, {iy} AS y
  FROM {tag}_e WHERE pos > 1 AND (({ins_c}) <> ({ins_p}))
  UNION ALL
  SELECT poly_id, tx, ty, pos, 2 AS sub, x, y
  FROM {tag}_e WHERE pos > 1 AND ({ins_c})),
{tag}_r AS MATERIALIZED (
  SELECT poly_id, tx, ty,
         CAST(row_number() OVER (PARTITION BY poly_id, tx, ty
                                 ORDER BY pos, sub) AS BIGINT) AS pos,
         CAST(count(*) OVER (PARTITION BY poly_id, tx, ty) AS BIGINT) AS n,
         x, y
  FROM {tag}_m),
{tag} AS MATERIALIZED (
  SELECT poly_id, tx, ty, pos, x, y FROM {tag}_r WHERE n >= 3
  UNION ALL
  SELECT poly_id, tx, ty, n + 1 AS pos, x, y
  FROM {tag}_r WHERE n >= 3 AND pos = 1)"""


def _sh_chain(base: str) -> str:
    parts, src = [], base
    for tag, side, bound in _SIDES:
        parts.append(_sh_pass_sql(tag, src, side, bound))
        src = tag
    return ",".join(parts)


_COVER = f"""
bbox AS (
  SELECT poly_id, min(x) AS xmin, max(x) AS xmax,
         min(y) AS ymin, max(y) AS ymax
  FROM polys GROUP BY poly_id),
cx_ AS (
  SELECT poly_id, ymin, ymax,
         unnest(generate_series(
             CAST(floor(xmin / {_TSD}) AS BIGINT),
             CAST(floor(xmax / {_TSD}) AS BIGINT))) AS tx
  FROM bbox),
cover AS (
  SELECT poly_id, tx,
         unnest(generate_series(
             CAST(floor(ymin / {_TSD}) AS BIGINT),
             CAST(floor(ymax / {_TSD}) AS BIGINT))) AS ty
  FROM cx_),
base AS (
  SELECT c.poly_id, c.tx, c.ty, p.pos, p.x, p.y
  FROM cover c JOIN polys p USING (poly_id))"""


# ---------------------------------------------------------------------------
# tc01 — fixture polygons (commune rects + refine triangles/L) -> full
# clipped-fragment vertex dump.
# ---------------------------------------------------------------------------

def _fixture_rings() -> list[tuple[str, list[list[float]]]]:
    out = []
    for c in synth.COMMUNES:
        insee, _, _, x0, y0, x1, y1, _ = c
        out.append((insee, [[x0, y0], [x1, y0], [x1, y1], [x0, y1],
                            [x0, y0]]))
    for pid, x0, y0, h in synth._TRI_SPECS:
        out.append((pid, [[x0, y0], [x0 + 2 * h, y0], [x0 + h, y0 + 2 * h],
                          [x0, y0]]))
    pid, x0, y0 = synth._L_SPEC
    out.append((pid, [[x0, y0], [x0 + 4000.0, y0],
                      [x0 + 4000.0, y0 + 2000.0],
                      [x0 + 1500.0, y0 + 2000.0],
                      [x0 + 1500.0, y0 + 6000.0], [x0, y0 + 6000.0],
                      [x0, y0]]))
    return out


def _fixture_values_sql() -> str:
    rows = []
    for pid, ring in _fixture_rings():
        for i, (x, y) in enumerate(ring, start=1):
            rows.append(f"('{pid}', {i}, {x!r}, {y!r})")
    return (
        "polys AS (SELECT poly_id, CAST(pos AS BIGINT) AS pos, "
        "CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y FROM (VALUES "
        + ", ".join(rows) + ") v(poly_id, pos, x, y))")


def _fixture_df(spark: SparkSession) -> DataFrame:
    from pyspark.sql import types as T

    rows = [(pid, [list(p) for p in ring]) for pid, ring in _fixture_rings()]
    schema = T.StructType([
        T.StructField("poly_id", T.StringType()),
        T.StructField("verts", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ])
    return spark.createDataFrame(rows, schema)


_TC01_ORACLE = f"""
WITH {_fixture_values_sql()},
{_COVER},
{_sh_chain("base")}
SELECT poly_id, tx, ty, pos, x, y
FROM p4
ORDER BY poly_id, tx, ty, pos
"""


@register("tile_clip_vertices", _TC01_ORACLE)
def tile_clip_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every fragment vertex of every fixture polygon clipped to the
    8192 m grid — rectangles, slope±2 triangles, and the concave L
    (whose clip exercises the SH bridging-edge artifact)."""
    frags = clip_to_tiles(_fixture_df(spark), TS)
    return (frags
            .select("poly_id", "tx", "ty",
                    F.posexplode("clipped").alias("p0", "pt"))
            .select("poly_id", "tx", "ty",
                    (F.col("p0") + 1).cast("bigint").alias("pos"),
                    F.col("pt")[0].alias("x"), F.col("pt")[1].alias("y"))
            .orderBy("poly_id", "tx", "ty", "pos"))


# ---------------------------------------------------------------------------
# Diamonds from `orders`: odd integer centers, power-of-two radii.
# ---------------------------------------------------------------------------

def _diamond_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return f"""
SELECT oid,
       CAST(1000001 + 2 * (u % 100000) AS DOUBLE) AS cx,
       CAST(2000001 + 2 * ((u{d}100000) % 50000) AS DOUBLE) AS cy,
       CAST(CASE WHEN oid % 3 = 0 THEN 1024
                 WHEN oid % 3 = 1 THEN 2048
                 ELSE 4096 END AS DOUBLE) AS r
FROM (SELECT o_orderkey AS oid,
             (o_orderkey * 2654435761 + 11) % 2147483648 AS u
      FROM orders)"""


_DIAMOND_RING = """
polys AS (
  SELECT d.oid AS poly_id, o.pos,
         d.cx + o.ax * d.r AS x, d.cy + o.ay * d.r AS y
  FROM diamonds d,
       (VALUES (CAST(1 AS BIGINT), CAST(1 AS DOUBLE), CAST(0 AS DOUBLE)),
               (2, 0, 1), (3, -1, 0), (4, 0, -1),
               (5, 1, 0)) o(pos, ax, ay))"""


def _diamond_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .createOrReplaceTempView("orders")
    d = spark.sql(_diamond_sql("spark"))
    return d.withColumn("verts", F.expr(
        "array(array(cx + r, cy), array(cx, cy + r), array(cx - r, cy),"
        " array(cx, cy - r), array(cx + r, cy))"))


_TC02_ORACLE = f"""
WITH diamonds AS ({_diamond_sql("duckdb")}),
{_DIAMOND_RING},
{_COVER},
{_sh_chain("base")},
area AS (
  SELECT poly_id, tx, ty,
         CAST(count(*) AS BIGINT) AS n_closed,
         CAST(sum(x * ylead - xlead * y) AS BIGINT) AS twoa
  FROM (SELECT poly_id, tx, ty, x, y,
               lead(x) OVER (PARTITION BY poly_id, tx, ty
                             ORDER BY pos) AS xlead,
               lead(y) OVER (PARTITION BY poly_id, tx, ty
                             ORDER BY pos) AS ylead
        FROM p4)
  WHERE xlead IS NOT NULL
  GROUP BY poly_id, tx, ty)
SELECT d.oid, CAST(d.r AS BIGINT) AS r,
       CAST(count(*) AS BIGINT) AS n_tiles,
       CAST(sum(a.n_closed + 1) AS BIGINT) AS n_vertices,
       CAST(4 * d.r * d.r AS BIGINT) AS twoa_orig,
       CAST(sum(a.twoa) AS BIGINT) AS twoa_sum,
       (CAST(sum(a.twoa) AS BIGINT) = CAST(4 * d.r * d.r AS BIGINT))
         AS conserved
FROM diamonds d JOIN area a ON a.poly_id = d.oid
GROUP BY d.oid, d.r
ORDER BY d.oid
"""


@register("tile_clip_diamond_conservation", _TC02_ORACLE)
def tile_clip_diamond_conservation(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Per diamond: fragment count, vertex volume, and INTEGER area
    conservation (sum of fragment doubled-shoelace == 4r^2) — the
    overlay correctness invariant, exact by construction."""
    frags = clip_to_tiles(_diamond_df(spark, sf_dir), TS)
    return (frags
            .groupBy("oid", "r")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum(F.size("clipped")).alias("nv"),
                 F.sum("twoa_clip").alias("twoa"))
            .select(F.col("oid"),
                    F.col("r").cast("bigint").alias("r"),
                    F.col("n_tiles").cast("bigint").alias("n_tiles"),
                    F.col("nv").cast("bigint").alias("n_vertices"),
                    (F.lit(4) * F.col("r") * F.col("r")).cast("bigint")
                    .alias("twoa_orig"),
                    F.col("twoa").cast("bigint").alias("twoa_sum"),
                    (F.col("twoa").cast("bigint") ==
                     (F.lit(4) * F.col("r") * F.col("r")).cast("bigint"))
                    .alias("conserved"))
            .orderBy("oid"))


_TC03_ORACLE = f"""
WITH diamonds AS ({_diamond_sql("duckdb")}),
{_DIAMOND_RING},
{_COVER},
{_sh_chain("base")},
area AS (
  SELECT poly_id, tx, ty,
         CAST(sum(x * ylead - xlead * y) AS BIGINT) AS twoa
  FROM (SELECT poly_id, tx, ty, x, y,
               lead(x) OVER (PARTITION BY poly_id, tx, ty
                             ORDER BY pos) AS xlead,
               lead(y) OVER (PARTITION BY poly_id, tx, ty
                             ORDER BY pos) AS ylead
        FROM p4)
  WHERE xlead IS NOT NULL
  GROUP BY poly_id, tx, ty)
SELECT tx, ty, CAST(count(*) AS BIGINT) AS n_frags,
       CAST(sum(twoa) AS BIGINT) AS twoa_total,
       CAST(max(twoa) AS BIGINT) AS twoa_max
FROM area
GROUP BY tx, ty
ORDER BY tx, ty
"""


@register("tile_clip_tile_stats", _TC03_ORACLE)
def tile_clip_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per tile: fragment count and exact clipped-area rollup — the
    tile-bucketed write profile (what each tile would ship)."""
    frags = clip_to_tiles(_diamond_df(spark, sf_dir), TS)
    return (frags
            .groupBy("tx", "ty")
            .agg(F.count(F.lit(1)).alias("n_frags"),
                 F.sum(F.col("twoa_clip").cast("bigint"))
                 .alias("twoa_total"),
                 F.max(F.col("twoa_clip").cast("bigint")).alias("twoa_max"))
            .select("tx", "ty",
                    F.col("n_frags").cast("bigint").alias("n_frags"),
                    "twoa_total", "twoa_max")
            .orderBy("tx", "ty"))
