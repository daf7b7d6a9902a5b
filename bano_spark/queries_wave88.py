"""Wave-88 driver queries: multi-touch attribution beyond
first/last-touch (wave-4 attribution_touches). (1) EXACT Shapley-value
attribution over channel coalitions — per-conversion touch masks from
one window pass, coalition values v(S) on the 2^n mask-count table,
phi_i = (integer numerator) / n! with ONE final division, so credits
are bit-identical everywhere and satisfy the efficiency axiom.
(2) U-shaped (position-based 40/20/40) attribution with the float
reduction made deterministic: exact integer count table
(channel, k, position-class, n) first, then a sorted fold.

Oracles: the same mask/coalition algebra in DuckDB (bitwise joins on
16-row relations; popcount spelled as explicit bit sums), and the
same sorted list_reduce for the U-shaped credits.

Ref parity: the reference assigns per-source credit to each matched
address with fixed weights (bano/models.py poids, core.py
rapprochement order); Shapley is the principled version of "how much
did each source contribute to the match".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


CHANNELS = ["click", "error", "signup", "view"]
CONV = "purchase"
LOOKBACK_S = 7200

_EP = ("CAST(floor(epoch(ts)) AS BIGINT) * 1000000 "
       "+ event_id % 1000000")

_POP = ("((pairs.s & 1) + ((pairs.s >> 1) & 1) "
        "+ ((pairs.s >> 2) & 1) + ((pairs.s >> 3) & 1))")
# n! * w_s for n=4: s!(3-s)! = [6, 2, 2, 6]
_COEF = f"(list_value(6, 2, 2, 6))[{_POP} + 1]"

_SH_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type AS ty, {_EP} AS t FROM events),
masked AS (
  SELECT ty,
         {" + ".join(
             f"coalesce(max(CASE WHEN ty = '{c}' THEN 1 ELSE 0 END) "
             f"OVER (PARTITION BY user_id ORDER BY t "
             f"RANGE BETWEEN {LOOKBACK_S * 1000000} PRECEDING "
             f"AND 1 PRECEDING), 0) * {1 << i}"
             for i, c in enumerate(CHANNELS))} AS mask
  FROM e),
conv AS (SELECT mask FROM masked WHERE ty = '{CONV}'),
cm AS (SELECT CAST(mask AS INT) AS m, CAST(count(*) AS BIGINT) AS c
       FROM conv GROUP BY 1),
subsets AS (SELECT CAST(unnest(generate_series(0, 15)) AS INT) AS s),
v AS (
  SELECT s, CAST(coalesce(sum(c), 0) AS BIGINT) AS v
  FROM subsets LEFT JOIN cm ON (cm.m & subsets.s) = cm.m
  GROUP BY s),
chan AS (SELECT * FROM (VALUES {", ".join(
    f"({i}, '{c}')" for i, c in enumerate(CHANNELS))}) t(i, channel)),
pairs AS (
  SELECT chan.i, chan.channel, v.s, v.v
  FROM chan CROSS JOIN v WHERE ((1 << chan.i) & v.s) = 0),
num AS (
  SELECT i, channel,
         CAST(sum({_COEF} * (v1.v - pairs.v)) AS BIGINT) AS shapley_num
  FROM pairs JOIN v v1 ON v1.s = pairs.s + (1 << pairs.i)
  GROUP BY i, channel),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_conversions FROM conv)
SELECT channel, shapley_num,
       round(shapley_num / 24.0, 6) + 0.0 AS shapley_credit,
       n_conversions
FROM num CROSS JOIN nc ORDER BY channel
"""


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


@register("shapley_attribution", _SH_ORACLE)
def q_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.eventflow import shapley_attribution

    return shapley_attribution(_events(spark, sf_dir), CHANNELS,
                               CONV, LOOKBACK_S)


# position classes sort like the Spark struct(k, pc-string, n):
# first=0 < last=1 < middle=2 < only=3 (alphabetical).
_PB_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type AS ty, {_EP} AS t FROM events),
conv AS (SELECT user_id AS u, t AS tc FROM e WHERE ty = '{CONV}'),
touch AS (SELECT user_id AS u, ty AS channel, t AS tt
          FROM e WHERE ty IN ({", ".join(f"'{c}'" for c in CHANNELS)})),
j AS (
  SELECT conv.u, conv.tc, touch.channel, touch.tt
  FROM conv JOIN touch ON touch.u = conv.u
  WHERE touch.tt < conv.tc
    AND touch.tt >= conv.tc - {LOOKBACK_S * 1000000}),
ranked AS (
  SELECT channel,
         row_number() OVER (PARTITION BY u, tc ORDER BY tt) AS rn,
         count(*) OVER (PARTITION BY u, tc) AS k
  FROM j),
counts AS (
  SELECT channel, CAST(k AS BIGINT) AS k,
         CASE WHEN k = 1 THEN 3
              WHEN rn = 1 THEN 0
              WHEN rn = k THEN 1 ELSE 2 END AS pc,
         CAST(count(*) AS BIGINT) AS n
  FROM ranked GROUP BY 1, 2, 3),
per AS (
  SELECT channel, CAST(sum(n) AS BIGINT) AS n_touches,
         list([CAST(k AS DOUBLE), CAST(pc AS DOUBLE), CAST(n AS DOUBLE)]
              ORDER BY k, pc, n) AS xs
  FROM counts GROUP BY channel)
SELECT channel, n_touches,
       round(list_reduce(
         list_prepend([0.0, -1.0, -1.0], xs),
         (acc, r) -> [acc[1] + r[3] * CASE
             WHEN r[2] = 3 THEN 1.0
             WHEN r[2] IN (0, 1) THEN (CASE WHEN r[1] = 2
                                            THEN 0.5 ELSE 0.4 END)
             ELSE 0.2 / (r[1] - 2) END,
           0.0, 0.0])[1], 6) + 0.0 AS credit
FROM per ORDER BY channel
"""


@register("position_attribution", _PB_ORACLE)
def q_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.eventflow import position_attribution

    return position_attribution(_events(spark, sf_dir), CHANNELS,
                                CONV, LOOKBACK_S)
