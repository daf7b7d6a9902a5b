"""Wave-28 driver queries: blocked Jaro-Winkler linkage (the fuzzy
generalization of BANO's exact rapprochement dicts, scored by a
bit-exact Arrow kernel against DuckDB's builtin), join-count
statistics (the categorical sibling of Moran's I for binary
coverage grids), per-track circular bearing statistics (Rayleigh
uniformity of movement directions), Huff-model market shares
(probabilistic catchment assignment next to the engine's hard PIP
containment) and doubly-constrained gravity balancing via IPF.

Reference anchors: BANO matches names by exact normalized equality
(`bano/models.py` rapprochement dicts) — JW scores the typo'd residue;
the spatial statistics extend the moran/geary/getis family; Huff and
IPF extend od_matrix_tiles into model-based interaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# an01 — blocked Jaro-Winkler name linkage. Canonical street names
# (21 combos) vs observed names with a deterministic one-char drop at
# position >= 11 (so the block key, chars 9-10 = the A-word 2-prefix,
# survives the typo). The engine's Arrow kernel is fuzz-verified
# bit-identical to DuckDB's jaro_winkler_similarity.
# ---------------------------------------------------------------------------

_AN_A = ["FLEURS", "LILAS", "ROSES", "PINS", "CHENES", "ORMES", "TILLEULS"]
_AN_H = ["LE CRES", "LA COTE", "BELLEVUE"]


def _an01_canonical_sql() -> str:
    a = "CASE " + " ".join(
        f"WHEN o_orderkey % {len(_AN_A)} = {i} THEN '{w}'"
        for i, w in enumerate(_AN_A)) + " END"
    h = "CASE " + " ".join(
        f"WHEN (o_orderkey % 21) % {len(_AN_H)} = {i} THEN '{w}'"
        for i, w in enumerate(_AN_H)) + " END"
    return f"""
SELECT DISTINCT 'RUE DES ' || {a} || ' ' || {h} AS name_a,
       SUBSTR('RUE DES ' || {a} || ' ' || {h}, 9, 2) AS block_key
FROM orders
"""


def _an01_observed_sql() -> str:
    a = "CASE " + " ".join(
        f"WHEN o_orderkey % {len(_AN_A)} = {i} THEN '{w}'"
        for i, w in enumerate(_AN_A)) + " END"
    h = "CASE " + " ".join(
        f"WHEN (o_orderkey % 13) % {len(_AN_H)} = {i} THEN '{w}'"
        for i, w in enumerate(_AN_H)) + " END"
    return f"""
SELECT rec_id,
       CASE WHEN rec_id % 4 = 0 THEN base
            ELSE SUBSTR(base, 1, 10 + rec_id % 4)
                 || SUBSTR(base, 12 + rec_id % 4, 200) END AS name_b,
       SUBSTR(base, 9, 2) AS block_key
FROM (SELECT o_orderkey AS rec_id,
             'RUE DES ' || {a} || ' ' || {h} AS base
      FROM orders WHERE o_orderkey % 11 = 3)
"""


_AN01_ORACLE = f"""
WITH l AS ({_an01_canonical_sql()}),
r AS ({_an01_observed_sql()})
SELECT r.rec_id, l.name_a,
       round(jaro_winkler_similarity(l.name_a, r.name_b), 6) AS jw
FROM r JOIN l ON l.block_key = r.block_key
WHERE jaro_winkler_similarity(l.name_a, r.name_b) >= 0.8
ORDER BY r.rec_id, l.name_a
"""


@register("jaro_winkler_match", _AN01_ORACLE)
def q_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.linkage import jaro_winkler_pairs

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    left = spark.sql(_an01_canonical_sql())
    right = spark.sql(_an01_observed_sql())
    pairs = jaro_winkler_pairs(left, right, "block_key",
                               left_name="name_a", right_name="name_b",
                               threshold=0.8)
    return (pairs.select("rec_id", "name_a",
                         F.round("jw", 6).alias("jw"))
            .orderBy("rec_id", "name_a"))


# ---------------------------------------------------------------------------
# an02 — join-count statistics on a planted binary grid: the west half
# is black-dense (70%), the east sparse (20%), so BB joins sit far
# above the free-sampling expectation and z_bb is strongly positive.
# ---------------------------------------------------------------------------

def _an02_cells(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return (f"cells AS (SELECT CAST(doc_id % 40 AS BIGINT) AS cx, "
            f"CAST(doc_id{d}40 AS BIGINT) AS cy, "
            f"CASE WHEN doc_id % 40 < 20 "
            f"THEN CASE WHEN (doc_id * 37) % 10 < 7 THEN 1 ELSE 0 END "
            f"ELSE CASE WHEN (doc_id * 37) % 10 < 2 THEN 1 ELSE 0 END END "
            f"AS black FROM documents WHERE doc_id < 1600)")


_AN02_ORACLE = f"""
WITH {_an02_cells('duckdb')},
j AS (
  SELECT a.black AS ba, c.black AS br
  FROM (SELECT cx + 1 AS cx, cy, black FROM cells
        UNION ALL SELECT cx, cy + 1 AS cy, black FROM cells) a
  JOIN cells c ON c.cx = a.cx AND c.cy = a.cy
),
offs(dx, dy) AS (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)),
deg AS (
  SELECT c.cx, c.cy, count(*) AS k
  FROM cells c JOIN offs o ON TRUE
  JOIN cells n ON n.cx = c.cx + o.dx AND n.cy = c.cy + o.dy
  GROUP BY c.cx, c.cy
),
kk AS (SELECT sum(k * (k - 1) / 2.0) AS kk FROM deg),
tot AS (SELECT count(*) AS n, sum(black) AS nb FROM cells),
jc AS (SELECT count(*) AS j, sum(ba * br) AS bb,
              sum((1 - ba) * (1 - br)) AS ww FROM j)
SELECT CAST(tot.n AS BIGINT) AS n_cells,
       CAST(tot.nb AS BIGINT) AS n_black,
       CAST(jc.j AS BIGINT) AS n_joins,
       CAST(jc.bb AS BIGINT) AS bb,
       CAST(jc.j - jc.bb - jc.ww AS BIGINT) AS bw,
       CAST(jc.ww AS BIGINT) AS ww,
       round(jc.j * power(tot.nb * 1.0 / tot.n, 2), 6) AS e_bb,
       round((jc.bb - jc.j * power(tot.nb * 1.0 / tot.n, 2))
             / sqrt(jc.j * power(tot.nb * 1.0 / tot.n, 2)
                    + 2 * kk.kk * power(tot.nb * 1.0 / tot.n, 3)
                    - (jc.j + 2 * kk.kk)
                      * power(tot.nb * 1.0 / tot.n, 4)), 6) AS z_bb
FROM tot, jc, kk
"""


@register("join_count_stats", _AN02_ORACLE)
def q_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import join_count_statistics

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    cells = spark.sql("WITH " + _an02_cells("spark") + " SELECT * FROM cells")
    return join_count_statistics(cells)


# ---------------------------------------------------------------------------
# an03 — circular bearing statistics per trajectory. Unit vectors via
# dx/hypot (no per-leg trig); the single atan2 runs on the aggregated
# resultant in both engines.
# ---------------------------------------------------------------------------

_AN03_ORACLE = f"""
WITH t AS ({synth.traj_select_sql('duckdb')}),
legs AS (
  SELECT user_id,
         x - lag(x) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dx,
         y - lag(y) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dy
  FROM t
),
unitv AS (
  SELECT user_id, dx / sqrt(dx * dx + dy * dy) AS c,
         dy / sqrt(dx * dx + dy * dy) AS s
  FROM legs WHERE dx IS NOT NULL AND (dx <> 0 OR dy <> 0)
),
agg AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_legs,
         sum(c) AS sc, sum(s) AS ss
  FROM unitv GROUP BY user_id
)
SELECT user_id, n_legs,
       round(atan2(ss, sc), 6) AS mean_dir_rad,
       round(sqrt(sc * sc + ss * ss) / n_legs, 6) AS resultant_r,
       round(n_legs * (sqrt(sc * sc + ss * ss) / n_legs)
                    * (sqrt(sc * sc + ss * ss) / n_legs), 6) AS rayleigh_z
FROM agg ORDER BY user_id
"""


@register("circular_mean_bearing", _AN03_ORACLE)
def q_circular(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.trajectory import circular_bearing_stats

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    traj = spark.sql(synth.traj_select_sql("spark"))
    return circular_bearing_stats(traj).orderBy("user_id")


# ---------------------------------------------------------------------------
# an04 — Huff-model top site per demand point: candidate sites from
# the 3x3 coarse-cell ring (cell = the 500-unit lattice spacing),
# weight attract / d^2, shares normalized per point. The oracle uses
# the definitional ring predicate; the engine the exploded equi-join.
# ---------------------------------------------------------------------------

_AN04_SITES_ATTRACT = "1 + node_id % 5"

_AN04_ORACLE = f"""
WITH p AS ({synth.dense_points_select_sql('duckdb')}),
s AS (SELECT node_id, nx, ny, {_AN04_SITES_ATTRACT} AS attract
      FROM ({synth.grid_nodes_select_sql('duckdb')})),
cand AS (
  SELECT p.event_id, s.node_id,
         s.attract / ((p.x - s.nx) * (p.x - s.nx)
                      + (p.y - s.ny) * (p.y - s.ny)) AS w
  FROM p JOIN s
    ON abs(CAST(floor(p.x / 500) AS BIGINT)
           - CAST(floor(s.nx / 500) AS BIGINT)) <= 1
   AND abs(CAST(floor(p.y / 500) AS BIGINT)
           - CAST(floor(s.ny / 500) AS BIGINT)) <= 1
),
sh0 AS (
  SELECT event_id, node_id, w,
         w / sum(w) OVER (PARTITION BY event_id) AS share,
         CAST(count(*) OVER (PARTITION BY event_id) AS BIGINT)
           AS n_candidates
  FROM cand
),
sh AS (
  SELECT event_id, node_id, share, n_candidates,
         row_number() OVER (PARTITION BY event_id
                            ORDER BY w DESC, node_id) AS rn
  FROM sh0
)
SELECT event_id, node_id AS best_site, n_candidates,
       round(share, 6) AS share
FROM sh WHERE rn = 1 ORDER BY event_id
"""


@register("huff_model_shares", _AN04_ORACLE)
def q_huff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatial_interaction import huff_shares

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    _read(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    points = spark.sql(synth.dense_points_select_sql("spark"))
    sites = spark.sql(
        "SELECT node_id, nx, ny, " + _AN04_SITES_ATTRACT + " AS attract "
        + "FROM (" + synth.grid_nodes_select_sql("spark") + ")")
    return huff_shares(points, sites, 500.0).orderBy("event_id")


# ---------------------------------------------------------------------------
# an05 — doubly-constrained gravity balancing (IPF, 3 full passes,
# finishing on the column step). Seed = customer count per (i, j)
# cell; margins (i+1)*55 / (j+1)*78 sum to the same total (4290) so
# the alternating scaling converges. The oracle unrolls all six
# scaling steps as window-sum CTEs.
# ---------------------------------------------------------------------------

def _an05_seed_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return (f"SELECT c_custkey % 12 AS i, (c_custkey{d}12) % 10 AS j, "
            f"CAST(count(*) AS DOUBLE) AS t FROM customer GROUP BY 1, 2")


def _an05_oracle() -> str:
    steps = []
    prev = "seed"
    for it in range(3):
        steps.append(
            f"r{it} AS (SELECT i, j, t * ((i + 1) * 55.0)"
            f" / sum(t) OVER (PARTITION BY i) AS t FROM {prev})")
        steps.append(
            f"c{it} AS (SELECT i, j, t * ((j + 1) * 78.0)"
            f" / sum(t) OVER (PARTITION BY j) AS t FROM r{it})")
        prev = f"c{it}"
    return (f"WITH seed AS ({_an05_seed_sql('duckdb')}),\n"
            + ",\n".join(steps)
            + f"\nSELECT i, j, round(t, 6) AS t_balanced FROM {prev} "
            f"ORDER BY i, j")


@register("gravity_ipf", _an05_oracle())
def q_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatial_interaction import ipf_balance

    _read(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    seed = spark.sql(_an05_seed_sql("spark"))
    rows = spark.range(12).select(
        F.col("id").alias("i"),
        ((F.col("id") + 1) * 55.0).alias("o_target"))
    cols = spark.range(10).select(
        F.col("id").alias("j"),
        ((F.col("id") + 1) * 78.0).alias("d_target"))
    return ipf_balance(seed, rows, cols, iters=3).orderBy("i", "j")
