"""Wave-51 driver queries: choropleth classification schemes over the
event-value distribution — exact Jenks natural breaks (relational DP,
oracle = the identical DP unrolled as chained CTEs), equal-interval,
quantile (equal-count, tie-deterministic), and head/tail breaks.
These are the cartographic classing steps a BANO-style per-commune
statistic passes through before rendering.

Float parity: every DP cell is exact-integer prefix sums with one
double division, and the oracle parenthesizes the accumulation
exactly as the engine evaluates it (opt + (dQ - dS^2/dW)) — float
addition is not associative, so the textual order IS the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# bk01 — Jenks natural breaks, k=4, over floor(value).
# ---------------------------------------------------------------------------

def _jenks_stage(j: int) -> str:
    sse = ("((pi.Q - pm.Q) - (pi.S - pm.S) * (pi.S - pm.S)"
           " / (pi.W - pm.W))")
    return f""",
d{j} AS (SELECT i, opt, m FROM (
  SELECT pi.i AS i, dm.opt + {sse} AS opt, dm.i AS m,
         row_number() OVER (PARTITION BY pi.i
                            ORDER BY dm.opt + {sse}, dm.i) AS rn
  FROM d{j-1} dm JOIN p pm ON pm.i = dm.i
  JOIN p pi ON pi.i > dm.i
  WHERE dm.i >= {j-1}) WHERE rn = 1)"""


_BK01_ORACLE = ("""
WITH vals AS (SELECT CAST(floor(value) AS BIGINT) AS v, count(*) AS c
              FROM events WHERE value IS NOT NULL GROUP BY 1),
p AS (SELECT v, row_number() OVER (ORDER BY v) AS i,
             sum(c) OVER (ORDER BY v) AS W,
             sum(c * v) OVER (ORDER BY v) AS S,
             sum(c * v * v) OVER (ORDER BY v) AS Q
      FROM vals),
d1 AS (SELECT i, Q - S * S / W AS opt, CAST(0 AS BIGINT) AS m FROM p)"""
                + _jenks_stage(2) + _jenks_stage(3) + _jenks_stage(4) + """,
e4 AS (SELECT max(i) AS i FROM p),
e3 AS (SELECT d4.m AS i FROM d4, e4 WHERE d4.i = e4.i),
e2 AS (SELECT d3.m AS i FROM d3, e3 WHERE d3.i = e3.i),
e1 AS (SELECT d2.m AS i FROM d2, e2 WHERE d2.i = e2.i),
sk AS (SELECT d4.opt AS s FROM d4, e4 WHERE d4.i = e4.i),
s1 AS (SELECT d1.opt AS s FROM d1, e4 WHERE d1.i = e4.i),
br AS (
  SELECT 1 AS class, p.v AS ub FROM p, e1 WHERE p.i = e1.i
  UNION ALL SELECT 2, p.v FROM p, e2 WHERE p.i = e2.i
  UNION ALL SELECT 3, p.v FROM p, e3 WHERE p.i = e3.i
  UNION ALL SELECT 4, p.v FROM p, e4 WHERE p.i = e4.i)
SELECT br.class, CAST(br.ub AS BIGINT) AS upper_bound,
       round(1 - sk.s / s1.s, 6) AS gvf
FROM br, sk, s1 ORDER BY br.class
""")


@register("jenks_natural_breaks", _BK01_ORACLE)
def q_jenks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.classing import jenks_natural_breaks

    ev = _read(spark, sf_dir, "events").select(
        F.floor("value").alias("v"))
    return jenks_natural_breaks(ev, "v", k=4)


# ---------------------------------------------------------------------------
# bk02 — equal-interval classing, k=5.
# ---------------------------------------------------------------------------

_BK02_ORACLE = """
WITH s AS (SELECT value AS v FROM events WHERE value IS NOT NULL),
mm AS (SELECT min(v) AS lo, max(v) AS hi FROM s)
SELECT least(CAST(floor((s.v - mm.lo) / ((mm.hi - mm.lo) / 5))
             AS BIGINT), 4) AS class,
       CAST(count(*) AS BIGINT) AS n_values,
       min(s.v) AS min_v, max(s.v) AS max_v
FROM s, mm GROUP BY 1 ORDER BY class
"""


@register("equal_interval_classes", _BK02_ORACLE)
def q_eqint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.classing import equal_interval_classes

    return equal_interval_classes(_read(spark, sf_dir, "events"),
                                  "value", k=5)


# ---------------------------------------------------------------------------
# bk03 — quantile (equal-count) classing, k=4, tie-deterministic.
# ---------------------------------------------------------------------------

_BK03_ORACLE = """
WITH s AS (SELECT value AS v, count(*) AS c
           FROM events WHERE value IS NOT NULL GROUP BY 1),
cm AS (SELECT v, c, sum(c) OVER (ORDER BY v) AS f FROM s),
t AS (SELECT sum(c) AS n FROM s)
SELECT CAST(floor((cm.f * 4 + t.n - 1) / t.n) AS BIGINT) AS class,
       CAST(sum(cm.c) AS BIGINT) AS n_values,
       min(cm.v) AS min_v, max(cm.v) AS max_v
FROM cm, t GROUP BY 1 ORDER BY class
"""


@register("quantile_classes", _BK03_ORACLE)
def q_qcls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.classing import quantile_classes

    return quantile_classes(_read(spark, sf_dir, "events"),
                            "value", k=4)


# ---------------------------------------------------------------------------
# bk04 — head/tail breaks (3 levels) on cents-quantized values.
# ---------------------------------------------------------------------------

_BK04_ORACLE = """
WITH s0 AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS v
            FROM events WHERE value IS NOT NULL),
a1 AS (SELECT count(*) AS n, sum(v) / count(*) AS m FROM s0),
h1 AS (SELECT s0.v FROM s0, a1 WHERE s0.v > a1.m),
r1 AS (SELECT 1 AS level, a1.m AS bm, count(*) AS nh,
              count(*) / (a1.n * 1.0) AS hf
       FROM h1, a1 GROUP BY a1.m, a1.n),
a2 AS (SELECT count(*) AS n, sum(v) / count(*) AS m FROM h1),
h2 AS (SELECT h1.v FROM h1, a2 WHERE h1.v > a2.m),
r2 AS (SELECT 2 AS level, a2.m AS bm, count(*) AS nh,
              count(*) / (a2.n * 1.0) AS hf
       FROM h2, a2 GROUP BY a2.m, a2.n),
a3 AS (SELECT count(*) AS n, sum(v) / count(*) AS m FROM h2),
h3 AS (SELECT h2.v FROM h2, a3 WHERE h2.v > a3.m),
r3 AS (SELECT 3 AS level, a3.m AS bm, count(*) AS nh,
              count(*) / (a3.n * 1.0) AS hf
       FROM h3, a3 GROUP BY a3.m, a3.n)
SELECT level, round(bm, 6) AS break_mean, CAST(nh AS BIGINT) AS n_head,
       round(hf, 6) AS head_frac
FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
      UNION ALL SELECT * FROM r3) u
ORDER BY level
"""


@register("head_tail_breaks", _BK04_ORACLE)
def q_headtail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.classing import head_tail_breaks

    ev = _read(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"))
    return head_tail_breaks(ev, "cents", levels=3)
