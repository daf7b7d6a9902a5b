"""Wave-33 driver queries: community conductance (the bottleneck
quality of a graph partition), two-step floating catchment area
accessibility (supply-vs-need within reach), radius of gyration (the
characteristic travel scale per track), Markov entropy rate (sequence
predictability per user), and the Benford first-digit conformity test
(the classic ledger anomaly screen as a data-quality gate).

Reference anchors: conductance scores the same host partitions as
graph_modularity; 2SFCA extends the Huff/IPF spatial-interaction
family; gyration joins the trajectory profile; the entropy rate sits
on event_transitions; Benford screens numeric columns before they
feed importance heuristics (bano/sql/03_*).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.queries_wave9 import _LINKS_CTE, _links_df
from bano_spark.queries_wave29 import _COMM_RE
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# as01 — conductance of the registrable-domain partition on the
# undirected host graph: cut / min(vol, 2m - vol) per community.
# ---------------------------------------------------------------------------

_AS01_ORACLE = f"""
WITH {_LINKS_CTE},
und AS (
  SELECT DISTINCT least(src_host, dst_host) AS a,
         greatest(src_host, dst_host) AS b
  FROM edges0 WHERE src_host <> dst_host
),
lab AS (
  SELECT host, regexp_extract(host, '{_COMM_RE}', 2) AS community
  FROM (SELECT a AS host FROM und UNION SELECT b FROM und)
),
e AS (
  SELECT la.community AS ca, lb.community AS cb
  FROM und JOIN lab la ON la.host = und.a
  JOIN lab lb ON lb.host = und.b
),
m AS (SELECT count(*) AS m FROM und),
deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und)
  GROUP BY n
),
vol AS (
  SELECT lab.community, CAST(sum(deg.d) AS BIGINT) AS vol
  FROM deg JOIN lab ON lab.host = deg.n GROUP BY lab.community
),
cut AS (
  SELECT community, CAST(count(*) AS BIGINT) AS cut
  FROM (SELECT ca AS community FROM e WHERE ca <> cb
        UNION ALL SELECT cb FROM e WHERE ca <> cb)
  GROUP BY community
)
SELECT vol.community, vol.vol,
       CAST(coalesce(cut.cut, 0) AS BIGINT) AS cut,
       round(CASE WHEN least(vol.vol, 2 * m.m - vol.vol) > 0
                  THEN CAST(coalesce(cut.cut, 0) AS DOUBLE)
                       / least(vol.vol, 2 * m.m - vol.vol) END, 6)
         AS conductance
FROM vol LEFT JOIN cut ON cut.community = vol.community CROSS JOIN m
ORDER BY vol.community
"""


@register("community_conductance", _AS01_ORACLE)
def q_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import community_conductance

    edges = _links_df(spark, sf_dir).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    hosts = (edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node"))).distinct())
    labels = hosts.select(
        "node", F.regexp_extract("node", _COMM_RE, 2).alias("community"))
    return (community_conductance(edges, labels)
            .orderBy("community"))


# ---------------------------------------------------------------------------
# as02 — 2SFCA accessibility at d0 = 400 over the dense demand points
# (integer weights) and the 8x8 supply lattice. The oracle uses the
# definitional distance predicate; the engine the 3x3 ring join.
# ---------------------------------------------------------------------------

_AS02_ORACLE = f"""
WITH p AS (
  SELECT event_id, x, y, CAST(1 + event_id % 3 AS DOUBLE) AS dw
  FROM ({synth.dense_points_select_sql('duckdb')})
),
s AS (
  SELECT node_id, nx, ny, CAST(5 + node_id % 7 AS DOUBLE) AS sw
  FROM ({synth.grid_nodes_select_sql('duckdb')})
),
within AS (
  SELECT p.event_id, p.dw, s.node_id, s.sw
  FROM p JOIN s
    ON (p.x - s.nx) * (p.x - s.nx) + (p.y - s.ny) * (p.y - s.ny)
       <= 400.0 * 400.0
),
ratio AS (
  SELECT node_id, any_value(sw) / sum(dw) AS r
  FROM within GROUP BY node_id
),
acc AS (
  SELECT w.event_id, sum(ratio.r) AS a
  FROM within w JOIN ratio ON ratio.node_id = w.node_id
  GROUP BY w.event_id
)
SELECT p.event_id, round(coalesce(acc.a, 0.0), 6) AS accessibility
FROM p LEFT JOIN acc ON acc.event_id = p.event_id
ORDER BY p.event_id
"""


@register("two_step_fca", _AS02_ORACLE)
def q_two_step_fca(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatial_interaction import two_step_fca

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    _read(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    demand = spark.sql(synth.dense_points_select_sql("spark")).select(
        "event_id", "x", "y",
        (1 + F.col("event_id") % 3).cast("double").alias("demand"))
    supply = spark.sql(synth.grid_nodes_select_sql("spark")).select(
        "node_id", "nx", "ny",
        (5 + F.col("node_id") % 7).cast("double").alias("supply"))
    return two_step_fca(demand, supply, 400.0).orderBy("event_id")


# ---------------------------------------------------------------------------
# as03 — radius of gyration per trajectory via the moment identity
# (one aggregation pass, exact power sums on the lattice fixture).
# ---------------------------------------------------------------------------

_AS03_ORACLE = f"""
WITH t AS ({synth.traj_select_sql('duckdb')}),
g AS (
  SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM t GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_points,
       round(sx / n, 6) AS cx, round(sy / n, 6) AS cy,
       round(sqrt(greatest(sxx / n - (sx / n) * (sx / n)
                         + syy / n - (sy / n) * (sy / n),
                           CAST(0 AS DOUBLE))), 6) AS rg
FROM g ORDER BY user_id
"""


@register("radius_of_gyration", _AS03_ORACLE)
def q_gyration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.trajectory import radius_of_gyration

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    traj = spark.sql(synth.traj_select_sql("spark"))
    return radius_of_gyration(traj).orderBy("user_id")


# ---------------------------------------------------------------------------
# as04 — Markov entropy rate per user over event-type transitions:
# H = -sum p(s) p(t|s) ln p(t|s).
# ---------------------------------------------------------------------------

_AS04_ORACLE = """
WITH tr AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS f,
         event_type AS t
  FROM events
),
nst AS (SELECT user_id, f, t, CAST(count(*) AS DOUBLE) AS nst
        FROM tr WHERE f IS NOT NULL GROUP BY 1, 2, 3),
ns AS (SELECT user_id, f, sum(nst) AS ns FROM nst GROUP BY 1, 2),
tot AS (SELECT user_id, sum(ns) AS nt FROM ns GROUP BY 1)
SELECT nst.user_id, CAST(any_value(tot.nt) AS BIGINT) AS n_transitions,
       round(-sum((ns.ns / tot.nt) * (nst.nst / ns.ns)
                  * ln(nst.nst / ns.ns)), 6) AS entropy_rate
FROM nst JOIN ns ON ns.user_id = nst.user_id AND ns.f = nst.f
JOIN tot ON tot.user_id = nst.user_id
GROUP BY nst.user_id ORDER BY nst.user_id
"""


@register("markov_entropy_rate", _AS04_ORACLE)
def q_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.eventflow import markov_entropy_rate

    ev = _read(spark, sf_dir, "events")
    return markov_entropy_rate(ev).orderBy("user_id")


# ---------------------------------------------------------------------------
# as05 — Benford first-digit test on order totals: observed counts vs
# log10(1 + 1/d) expectations with per-digit chi-square terms. The
# expectation literals are Python-computed and INLINED in both
# dialects, so both engines see identical doubles.
# ---------------------------------------------------------------------------

_AS05_PROBS = [(d, math.log10(1 + 1 / d)) for d in range(1, 10)]

_AS05_ORACLE = f"""
WITH probs(digit, p) AS (VALUES {", ".join(
    f"({d}, CAST({p!r} AS DOUBLE))" for d, p in _AS05_PROBS)}),
obs AS (
  SELECT CAST(substr(CAST(CAST(floor(abs(o_totalprice)) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         CAST(count(*) AS DOUBLE) AS o
  FROM orders WHERE abs(o_totalprice) >= 1
  GROUP BY 1
),
tot AS (SELECT sum(o) AS n FROM obs)
SELECT probs.digit, CAST(coalesce(obs.o, 0) AS BIGINT) AS n_obs,
       round(tot.n * probs.p, 6) AS expected,
       round((coalesce(obs.o, 0) - tot.n * probs.p)
             * (coalesce(obs.o, 0) - tot.n * probs.p)
             / (tot.n * probs.p), 6) AS chi2_term
FROM probs LEFT JOIN obs ON obs.digit = probs.digit CROSS JOIN tot
ORDER BY probs.digit
"""


@register("benford_digit_test", _AS05_ORACLE)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import benford_digit_test

    orders = _read(spark, sf_dir, "orders")
    return benford_digit_test(orders, "o_totalprice").orderBy("digit")
