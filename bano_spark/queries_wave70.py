"""Wave-70 driver queries: time-series / sequence complexity family —
(1) Hurst exponent per user by rescaled-range analysis over dyadic
block sizes (persistence of the level-shift series); (2) LZ78 phrase
complexity of each user's event-type stream (greedy
shortest-novel-phrase parse — pure integer/string, exact parity);
(3) order-3 permutation entropy per user (Bandt-Pompe ordinal
patterns with deterministic position tie-break).

Float parity: Hurst's block moments/cumdevs are exact integer sums
(one-pass variance form avoids re-aggregation sum-order noise), only
the block-average and ln-slope round at 6 dp; LZ78 is exact; PE
counts are exact integers, entropy rounds at 6 dp."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# cc01 — Hurst R/S per user over the level-shift series.
# ---------------------------------------------------------------------------

_CC01_ORACLE = f"""
WITH s AS ({synth.series_select_sql('duckdb')}),
b0 AS (
  SELECT user_id AS g, v, seq,
         row_number() OVER (PARTITION BY user_id ORDER BY seq) AS i
  FROM s),
b AS (
  SELECT g, v, seq, i, sz.size,
         CAST((i - 1) // sz.size AS INT) AS blk
  FROM b0 CROSS JOIN (SELECT unnest([8, 16, 32]) AS size) sz),
mom AS (
  SELECT g, size, blk, count(*) AS nb,
         sum(v) AS sm, sum(v * v) AS ss
  FROM b GROUP BY g, size, blk
  HAVING count(*) = size),
mm AS (
  SELECT g, size, blk,
         sm / CAST(size AS DOUBLE) AS mean,
         sqrt(ss / CAST(size AS DOUBLE)
              - (sm / CAST(size AS DOUBLE))
              * (sm / CAST(size AS DOUBLE))) AS sd
  FROM mom),
cum AS (
  SELECT b.g, b.size, b.blk, mm.mean, mm.sd,
         row_number() OVER (PARTITION BY b.g, b.size, b.blk
                            ORDER BY b.seq) AS t,
         sum(b.v) OVER (PARTITION BY b.g, b.size, b.blk
                        ORDER BY b.seq
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cs
  FROM b JOIN mm ON b.g = mm.g AND b.size = mm.size
                 AND b.blk = mm.blk),
rsb AS (
  SELECT g, size, blk, any_value(sd) AS sd,
         max(cs - t * mean) - min(cs - t * mean) AS r
  FROM cum GROUP BY g, size, blk),
rs AS (
  SELECT g, size, r / sd AS rs
  FROM rsb WHERE sd > 0),
pts AS (
  SELECT g, size, avg(rs) AS avg_rs, count(*) AS n_blocks
  FROM rs GROUP BY g, size),
fin AS (
  SELECT g, CAST(count(*) AS DOUBLE) AS k,
         sum(ln(CAST(size AS DOUBLE))) AS sx,
         sum(ln(avg_rs)) AS sy,
         sum(ln(CAST(size AS DOUBLE)) * ln(CAST(size AS DOUBLE))) AS sxx,
         sum(ln(CAST(size AS DOUBLE)) * ln(avg_rs)) AS sxy,
         sum(n_blocks) AS n_blocks
  FROM pts GROUP BY g)
SELECT g AS user_id, CAST(n_blocks AS BIGINT) AS n_blocks,
       round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS hurst
FROM fin ORDER BY user_id
"""


@register("hurst_exponent", _CC01_ORACLE)
def q_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import hurst_rs

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    s = spark.sql(synth.series_select_sql("spark"))
    return hurst_rs(s, "user_id", ["seq"], "v")


# ---------------------------------------------------------------------------
# cc02 — LZ78 phrase complexity of event-type streams.
# ---------------------------------------------------------------------------

_CC02_ORACLE = """
WITH s AS (
  SELECT user_id,
         list(event_type ORDER BY ts, event_id) AS vs
  FROM events GROUP BY user_id),
f AS (
  SELECT user_id, len(vs) AS n,
         list_reduce(
           list_prepend(['0', ''],
             list_transform(vs, x -> [x])),
           (s, v) -> CASE
             WHEN list_contains(s[3:],
                    CASE WHEN s[2] = '' THEN v[1]
                         ELSE s[2] || '|' || v[1] END)
             THEN [s[1],
                   CASE WHEN s[2] = '' THEN v[1]
                        ELSE s[2] || '|' || v[1] END] || s[3:]
             ELSE [CAST(CAST(s[1] AS INT) + 1 AS VARCHAR), '']
                  || s[3:]
                  || [CASE WHEN s[2] = '' THEN v[1]
                      ELSE s[2] || '|' || v[1] END]
           END) AS st
  FROM s)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       CAST(CAST(st[1] AS INT)
            + CASE WHEN st[2] = '' THEN 0 ELSE 1 END
            AS BIGINT) AS n_phrases,
       CAST(len(st) - 2 AS BIGINT) AS dict_size
FROM f ORDER BY user_id
"""


@register("lz78_complexity", _CC02_ORACLE)
def q_lz78(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.eventflow import lz78_complexity

    ev = _read(spark, sf_dir, "events")
    return lz78_complexity(ev)


# ---------------------------------------------------------------------------
# cc03 — order-3 permutation entropy per user.
# ---------------------------------------------------------------------------

_CC03_ORACLE = f"""
WITH s AS ({synth.series_select_sql('duckdb')}),
t AS (
  SELECT user_id AS g, v,
         lead(v, 1) OVER w AS v2, lead(v, 2) OVER w AS v3
  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY seq)),
p AS (
  SELECT g,
         array_to_string(list_transform(
           list_sort([[v, 1.0], [v2, 2.0], [v3, 3.0]]),
           l -> CAST(CAST(l[2] AS INT) AS VARCHAR)), '') AS pattern
  FROM t WHERE v3 IS NOT NULL),
c AS (SELECT g, pattern, count(*) AS c FROM p GROUP BY g, pattern),
n AS (SELECT g, sum(c) AS n FROM c GROUP BY g)
SELECT c.g AS user_id,
       CAST(any_value(n.n) AS BIGINT) AS n_windows,
       CAST(count(*) AS BIGINT) AS n_patterns,
       round(-sum((c / n.n) * ln(c / n.n)), 6) AS perm_entropy
FROM c JOIN n ON c.g = n.g
GROUP BY c.g ORDER BY user_id
"""


@register("permutation_entropy", _CC03_ORACLE)
def q_perm_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import permutation_entropy

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    s = spark.sql(synth.series_select_sql("spark"))
    return permutation_entropy(s, "user_id", ["seq"], "v")
