"""Wave-57 driver queries: isotonic-regression calibration of the
hashed classifier (PAV via the parallel minimax characterization) and
Bradley-Terry paired-comparison strengths over consecutive-event
"duels" (the pairwise-preference aggregation model).

Float parity: isotonic interval means are single divisions of exact
integer sums (order-free min/max folds); Bradley-Terry pins its MM
trajectory by rounding each iteration's normalized strengths to 12
decimals (the pagerank discipline)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bano_spark.queries_wave39 import _AY02_SCORED, _ay02_scored
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# bp01 — isotonic calibration of p = (score + 1)/2 against the label.
# ---------------------------------------------------------------------------

_BP01_ORACLE = f"""
WITH {_AY02_SCORED},
r AS (SELECT (score + 1) / 2 AS p,
             CASE WHEN label THEN 1 ELSE 0 END AS y FROM lab),
bins AS (SELECT CAST(least(floor(p * 20), 19) AS BIGINT) AS b,
                count(*) AS w, sum(y) AS s
         FROM r GROUP BY 1),
m AS (SELECT j.b AS j, k.b AS k, sum(bb.s) / sum(bb.w) AS m
      FROM (SELECT b FROM bins) j
      JOIN (SELECT b FROM bins) k ON j.b <= k.b
      JOIN bins bb ON bb.b >= j.b AND bb.b <= k.b
      GROUP BY 1, 2),
g AS (SELECT i.b AS i, m.j, min(m.m) AS g
      FROM bins i JOIN m ON m.j <= i.b AND m.k >= i.b
      GROUP BY 1, 2),
f AS (SELECT i, max(g) AS f FROM g GROUP BY i)
SELECT bins.b AS bin, CAST(bins.w AS BIGINT) AS n,
       round(bins.s / bins.w, 6) AS rate,
       round(f.f, 6) AS isotonic_rate
FROM bins JOIN f ON f.i = bins.b ORDER BY bin
"""


@register("isotonic_calibration", _BP01_ORACLE)
def q_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import isotonic_calibration

    scored = _ay02_scored(spark, sf_dir).select(
        ((F.col("score") + 1) / 2).alias("p"), "label")
    return isotonic_calibration(scored, "p", "label", n_bins=20)


# ---------------------------------------------------------------------------
# bp02 — Bradley-Terry strengths from consecutive-event duels: the
# higher-valued of two adjacent DIFFERENT event types wins.
# ---------------------------------------------------------------------------

def _bt_oracle(iters: int) -> str:
    parts = ["""
WITH ev AS (
  SELECT user_id, ts, event_id, event_type, value,
         lag(event_type) OVER w AS pt, lag(value) OVER w AS pv
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
oc AS MATERIALIZED (SELECT CASE WHEN value > pv THEN event_type ELSE pt END AS winner,
              CASE WHEN value > pv THEN pt ELSE event_type END AS loser
       FROM ev
       WHERE pt IS NOT NULL AND pt <> event_type AND value <> pv),
wt AS MATERIALIZED (SELECT winner AS i, count(*) AS wins FROM oc GROUP BY 1),
games AS MATERIALIZED (SELECT a, b, count(*) AS n FROM (
            SELECT winner AS a, loser AS b FROM oc
            UNION ALL SELECT loser, winner FROM oc) GROUP BY 1, 2),
it AS MATERIALIZED (SELECT DISTINCT a AS i FROM games),
s0 AS MATERIALIZED (SELECT i, 1.0 AS w FROM it)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
d{k} AS MATERIALIZED (SELECT g.a AS i, sum(g.n / nullif(sa.w + sb.w, 0.0)) AS d
         FROM games g
         JOIN s{k - 1} sa ON sa.i = g.a
         JOIN s{k - 1} sb ON sb.i = g.b
         GROUP BY 1),
r{k} AS MATERIALIZED (SELECT n.i, n.win / d.d AS r
         FROM (SELECT it.i, CAST(coalesce(wt.wins, 0) AS DOUBLE) AS win
               FROM it LEFT JOIN wt ON wt.i = it.i) n
         JOIN d{k} d ON d.i = n.i),
t{k} AS MATERIALIZED (SELECT sum(r) AS t FROM r{k}),
s{k} AS MATERIALIZED (SELECT r.i, round(r.r / t.t, 12) AS w FROM r{k} r, t{k} t)""")
    parts.append(f"""
SELECT s.i AS item, CAST(coalesce(wt.wins, 0) AS BIGINT) AS wins,
       round(s.w, 6) AS strength
FROM s{iters} s LEFT JOIN wt ON wt.i = s.i ORDER BY item""")
    return "".join(parts)


@register("bradley_terry_strengths", _bt_oracle(5))
def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.ranking import bradley_terry

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = (_read(spark, sf_dir, "events")
          .withColumn("pt", F.lag("event_type").over(w))
          .withColumn("pv", F.lag("value").over(w))
          .filter(F.col("pt").isNotNull()
                  & (F.col("pt") != F.col("event_type"))
                  & (F.col("value") != F.col("pv"))))
    oc = ev.select(
        F.when(F.col("value") > F.col("pv"), F.col("event_type"))
        .otherwise(F.col("pt")).alias("winner"),
        F.when(F.col("value") > F.col("pv"), F.col("pt"))
        .otherwise(F.col("event_type")).alias("loser"))
    return bradley_terry(oc, iters=5)
