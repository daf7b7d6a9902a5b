"""Wave-32 driver queries: location quotients and Theil's multigroup
segregation H over the document lattice (concentration + diversity
partition of the categorical mix), interpolated Kneser-Ney bigram
probabilities (continuation-count smoothing — the LM upgrade of the
additive/backoff family), classical additive seasonal decomposition
(the moving-average trend/seasonal/remainder baseline under STL), and
Fellegi-Sunter probabilistic record-linkage weights (the
decision-theoretic upgrade of the wave-28 Jaro-Winkler threshold).

Reference anchors: LQ/H extend the moran/gini spatial family to
categorical mixes; KN joins bigram_lm/stupid-backoff/Good-Turing;
decomposition joins holt/seasonal-MASE; Fellegi-Sunter generalizes
the rapprochement matching (`bano/models.py`) the way record-linkage
practice did.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


def _cells_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return (f"SELECT CAST(doc_id % 8 AS BIGINT) AS cx, "
            f"CAST((doc_id{d}8) % 8 AS BIGINT) AS cy, lang AS category "
            f"FROM documents")


# ---------------------------------------------------------------------------
# ar01 — location quotient per (cell, language) over the 8x8 document
# lattice: local share over global share.
# ---------------------------------------------------------------------------

_AR01_ORACLE = f"""
WITH cells AS ({_cells_sql('duckdb')}),
cc AS (SELECT cx, cy, category, count(*) AS n_cc
       FROM cells GROUP BY 1, 2, 3),
ct AS (SELECT cx, cy, count(*) AS n_cell FROM cells GROUP BY 1, 2),
gt AS (SELECT category, count(*) AS n_cat FROM cells GROUP BY 1),
tot AS (SELECT count(*) AS n_total FROM cells)
SELECT cc.cx, cc.cy, cc.category,
       CAST(cc.n_cc AS BIGINT) AS n_cc,
       CAST(ct.n_cell AS BIGINT) AS n_cell,
       round((CAST(cc.n_cc AS DOUBLE) / ct.n_cell)
             / (CAST(gt.n_cat AS DOUBLE) / tot.n_total), 6) AS lq
FROM cc JOIN ct ON ct.cx = cc.cx AND ct.cy = cc.cy
JOIN gt ON gt.category = cc.category CROSS JOIN tot
ORDER BY cc.cx, cc.cy, cc.category
"""


@register("location_quotient", _AR01_ORACLE)
def q_location_quotient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import location_quotient

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    cells = spark.sql(_cells_sql("spark"))
    return (location_quotient(cells)
            .orderBy("cx", "cy", "category"))


# ---------------------------------------------------------------------------
# ar02 — Theil's multigroup segregation H over the same lattice/mix.
# ---------------------------------------------------------------------------

_AR02_ORACLE = f"""
WITH cells AS ({_cells_sql('duckdb')}),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS tt FROM cells),
gl AS (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
         -sum((g / tt) * ln(g / tt)) AS e
  FROM (SELECT category, CAST(count(*) AS DOUBLE) AS g
        FROM cells GROUP BY category) CROSS JOIN tot
  GROUP BY tt
),
ct AS (SELECT cx, cy, CAST(count(*) AS DOUBLE) AS t
       FROM cells GROUP BY 1, 2),
cc AS (SELECT cx, cy, category, CAST(count(*) AS DOUBLE) AS n
       FROM cells GROUP BY 1, 2, 3),
ei AS (
  SELECT cc.cx, cc.cy, any_value(ct.t) AS t,
         -sum((cc.n / ct.t) * ln(cc.n / ct.t)) AS ei
  FROM cc JOIN ct ON ct.cx = cc.cx AND ct.cy = cc.cy
  GROUP BY cc.cx, cc.cy
),
num AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         any_value(gl.n_groups) AS n_groups,
         any_value(gl.e) AS e,
         sum(t * (gl.e - ei)) AS num
  FROM ei CROSS JOIN gl
)
SELECT n_cells, n_groups, round(e, 6) AS global_entropy,
       round(num / (tot.tt * e), 6) AS h_index
FROM num CROSS JOIN tot
"""


@register("segregation_entropy", _AR02_ORACLE)
def q_segregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import segregation_entropy

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    cells = spark.sql(_cells_sql("spark"))
    return segregation_entropy(cells)


# ---------------------------------------------------------------------------
# ar03 — interpolated Kneser-Ney bigram table: top 30 bigrams by count
# with continuation-count components and P_KN (discount 0.75).
# ---------------------------------------------------------------------------

_AR03_ORACLE = """
WITH d AS (
  SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE len(string_split_regex(trim(lower(text)),
                                              '\\s+')) >= 2
),
bi AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM d)
),
c12 AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12
        FROM bi GROUP BY 1, 2),
c1 AS (SELECT w1, sum(c12) AS c1, CAST(count(*) AS DOUBLE) AS n1p_fwd
       FROM c12 GROUP BY w1),
cont AS (SELECT w2, CAST(count(*) AS DOUBLE) AS n1p_bwd
         FROM c12 GROUP BY w2),
types AS (SELECT CAST(count(*) AS DOUBLE) AS n1p_all FROM c12)
SELECT c12.w1, c12.w2, CAST(c12.c12 AS BIGINT) AS count,
       CAST(c1.c1 AS BIGINT) AS context_count,
       CAST(c1.n1p_fwd AS BIGINT) AS n_follow_types,
       CAST(cont.n1p_bwd AS BIGINT) AS n_precede_types,
       round(greatest(c12.c12 - 0.75, CAST(0 AS DOUBLE)) / c1.c1
             + (0.75 * c1.n1p_fwd / c1.c1)
               * (cont.n1p_bwd / types.n1p_all), 6) AS p_kn
FROM c12 JOIN c1 ON c1.w1 = c12.w1
JOIN cont ON cont.w2 = c12.w2 CROSS JOIN types
ORDER BY count DESC, c12.w1, c12.w2 LIMIT 30
"""


@register("kneser_ney_bigrams", _AR03_ORACLE)
def q_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import kneser_ney_bigrams

    docs = _read(spark, sf_dir, "documents")
    return kneser_ney_bigrams(docs, discount=0.75, top_k=30)


# ---------------------------------------------------------------------------
# ar04 — classical additive decomposition (period 7) of the series
# fixture with a planted weekly pattern (+30 * (seq % 7)); trend NULL
# where the centered window is truncated.
# ---------------------------------------------------------------------------

def _ar04_series(dialect: str) -> str:
    base = synth.series_select_sql(dialect)
    return (f"SELECT user_id, seq, v + 30 * (seq % 7) AS y "
            f"FROM ({base}) WHERE user_id < 30")


_AR04_ORACLE = f"""
WITH d AS ({_ar04_series('duckdb')}),
t AS (
  SELECT user_id, seq, y,
         CASE WHEN count(*) OVER w = 7 THEN avg(y) OVER w END AS trend
  FROM d
  WINDOW w AS (PARTITION BY user_id ORDER BY seq
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
ph AS (SELECT user_id, seq % 7 AS phase, avg(y - trend) AS sp
       FROM t GROUP BY 1, 2),
ctr AS (SELECT user_id, avg(sp) AS spm FROM ph GROUP BY 1),
se AS (SELECT ph.user_id, ph.phase, ph.sp - ctr.spm AS seasonal
       FROM ph JOIN ctr ON ctr.user_id = ph.user_id)
SELECT t.user_id, t.seq, round(t.y, 6) AS value,
       round(t.trend, 6) AS trend, round(se.seasonal, 6) AS seasonal,
       round(t.y - t.trend - se.seasonal, 6) AS remainder
FROM t JOIN se ON se.user_id = t.user_id AND se.phase = t.seq % 7
ORDER BY t.user_id, t.seq
"""


@register("classical_decomposition", _AR04_ORACLE)
def q_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import classical_decomposition

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    d = spark.sql(_ar04_series("spark"))
    return (classical_decomposition(d, "user_id", "seq", "y", 7)
            .orderBy("user_id", "seq"))


# ---------------------------------------------------------------------------
# ar05 — Fellegi-Sunter linkage weights on blocked customer records:
# name (cardinality ~200) and band (cardinality 10) fields, right side
# perturbed on deterministic subsets; u from the left value
# distribution, m = (0.95, 0.9).
# ---------------------------------------------------------------------------

def _ar05_left(dialect: str) -> str:
    return ("SELECT c_custkey AS id_a, c_custkey % 50 AS blk, "
            "'N' || CAST((c_custkey * 13) % 200 AS STRING) AS name, "
            "CAST((c_custkey * 7) % 10 AS BIGINT) AS band "
            "FROM customer") if dialect == "spark" else (
            "SELECT c_custkey AS id_a, c_custkey % 50 AS blk, "
            "'N' || CAST((c_custkey * 13) % 200 AS VARCHAR) AS name, "
            "CAST((c_custkey * 7) % 10 AS BIGINT) AS band "
            "FROM customer")


def _ar05_right(dialect: str) -> str:
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    return (f"SELECT c_custkey AS id_b, c_custkey % 50 AS blk, "
            f"CASE WHEN c_custkey % 5 = 0 "
            f"THEN 'X' || CAST((c_custkey * 13) % 200 AS {cast}) "
            f"ELSE 'N' || CAST((c_custkey * 13) % 200 AS {cast}) END "
            f"AS name, "
            f"CAST(CASE WHEN c_custkey % 3 = 0 "
            f"THEN ((c_custkey * 7) % 10 + 1) % 10 "
            f"ELSE (c_custkey * 7) % 10 END AS BIGINT) AS band "
            f"FROM customer")


_AR05_M_NAME, _AR05_M_BAND = 0.95, 0.9

_AR05_ORACLE = f"""
WITH l AS ({_ar05_left('duckdb')}),
r AS ({_ar05_right('duckdb')}),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM l),
un AS (SELECT sum(CAST(c AS DOUBLE) * c) / (n.n * n.n) AS u
       FROM (SELECT count(*) AS c FROM l GROUP BY name) CROSS JOIN n
       GROUP BY n.n),
ub AS (SELECT sum(CAST(c AS DOUBLE) * c) / (n.n * n.n) AS u
       FROM (SELECT count(*) AS c FROM l GROUP BY band) CROSS JOIN n
       GROUP BY n.n)
SELECT l.id_a, r.id_b,
       l.name = r.name AS agree_name,
       l.band = r.band AS agree_band,
       round(CASE WHEN l.name = r.name
                  THEN ln({_AR05_M_NAME!r} / un.u)
                  ELSE ln((1 - {_AR05_M_NAME!r}) / (1 - un.u)) END
           + CASE WHEN l.band = r.band
                  THEN ln({_AR05_M_BAND!r} / ub.u)
                  ELSE ln((1 - {_AR05_M_BAND!r}) / (1 - ub.u)) END, 6)
         AS fs_weight
FROM l JOIN r ON r.blk = l.blk CROSS JOIN un CROSS JOIN ub
ORDER BY l.id_a, r.id_b
"""


@register("fellegi_sunter_scores", _AR05_ORACLE)
def q_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.linkage import fellegi_sunter_scores

    _read(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    left = spark.sql(_ar05_left("spark"))
    right = spark.sql(_ar05_right("spark"))
    return (fellegi_sunter_scores(left, right, "blk",
                                  ["name", "band"],
                                  [_AR05_M_NAME, _AR05_M_BAND])
            .orderBy("id_a", "id_b"))
