"""Wave-144 driver queries: Bloom filter build + FPR audit
(operators/bloom_audit.py) — a 65536-bit / 3-hash filter built by a
bit_or groupBy over even-event keys, probed by odd-event keys that an
exact anti-join certifies as true negatives; empirical FPR lands
within 2x of (1 - e^(-kn/m))^k.

Oracles: the bitmap build is commutative bit arithmetic (exact,
order-free); probing mirrors the per-hash LEFT JOIN word lookups;
the single scalar exp() is round-6 and the theoretical cube is an
explicit product (no pow(), libm parity)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.bloom_audit import (HASHES,
                                              bloom_bitmap_census,
                                              bloom_fpr_audit)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_M, _K = 65536, 3
_M31 = 2147483648

_INS = """
SELECT (event_id * 2654435761 + 13) % 2147483648 % 20000 AS kk
FROM events WHERE event_id % 2 = 0"""

_PRB = """
SELECT (event_id * 1103515245 + 12345) % 2147483648 % 20000 AS kk
FROM events WHERE event_id % 2 = 1"""


def _pos(j: int) -> str:
    # mirrors operators/bloom_audit._pos: kk reduced mod 2^31 before
    # the multiply so the product fits int64 on both engines (DuckDB
    # would otherwise promote to HUGEINT where Spark wraps)
    a, b = HASHES[j]
    return (f"CAST((((kk % {_M31}) * {a} + {b}) % {_M31}) % {_M} "
            f"AS BIGINT)")


_WORDS_CTE = f"""
ins AS (SELECT DISTINCT kk FROM ({_INS})),
allpos AS ({' UNION ALL '.join(f'SELECT {_pos(j)} AS p FROM ins'
                               for j in range(_K))}),
words AS (
  SELECT p // 64 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 64 AS INT)) AS bits
  FROM allpos GROUP BY 1)"""

_Q1_ORACLE = f"""
WITH {_WORDS_CTE}
SELECT word, CAST(bit_count(bits) AS BIGINT) AS popcount
FROM words ORDER BY word
"""


@register("bloom_bitmap_census", _Q1_ORACLE)
def q_bloom_bitmap_census(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Per-word popcounts of the distributed bit_or bitmap build."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return bloom_bitmap_census(spark.sql(_INS), "kk", m=_M, k=_K)


_THEO = (f"(1.0 - exp(-(3.0) * CAST(n_inserted AS DOUBLE) "
         f"/ {float(_M)!r}))")

_Q2_ORACLE = f"""
WITH {_WORDS_CTE},
pr AS (SELECT DISTINCT kk FROM ({_PRB})
       WHERE kk NOT IN (SELECT kk FROM ins)),
{', '.join(
    f"h{j} AS (SELECT kk, {_pos(j)} AS p FROM pr), "
    f"j{j} AS (SELECT h{j}.kk, CASE WHEN w.bits IS NULL THEN 0 "
    f"WHEN ((w.bits >> CAST(h{j}.p % 64 AS INT)) & 1) = 1 THEN 1 "
    f"ELSE 0 END AS b{j} "
    f"FROM h{j} LEFT JOIN words w ON w.word = h{j}.p // 64)"
    for j in range(_K))},
fl AS (
  SELECT j0.kk,
         CASE WHEN b0 + b1 + b2 = {_K} THEN 1 ELSE 0 END AS fp
  FROM j0 JOIN j1 ON j0.kk = j1.kk JOIN j2 ON j0.kk = j2.kk),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_probes,
         CAST(COALESCE(sum(fp), 0) AS BIGINT) AS false_positives
  FROM fl),
ni AS (SELECT CAST(count(*) AS BIGINT) AS n_inserted FROM ins),
nb AS (SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS bs FROM words)
SELECT n_inserted, {_M} AS m, {_K} AS k, bs AS bits_set,
       n_probes, false_positives,
       round(CASE WHEN n_probes > 0 THEN
             CAST(false_positives AS DOUBLE)
             / CAST(n_probes AS DOUBLE) END, 6) AS fpr_empirical,
       round({_THEO} * {_THEO} * {_THEO}, 6) AS fpr_theoretical,
       (CASE WHEN n_probes > 0 THEN CAST(false_positives AS DOUBLE)
          / CAST(n_probes AS DOUBLE) END
          < 2.0 * ({_THEO} * {_THEO} * {_THEO}) + 0.001)
       AND (CASE WHEN n_probes > 0 THEN CAST(false_positives AS DOUBLE)
          / CAST(n_probes AS DOUBLE) END
          > 0.25 * ({_THEO} * {_THEO} * {_THEO}) - 0.001)
         AS within_2x
FROM agg CROSS JOIN ni CROSS JOIN nb
"""


@register("bloom_fpr_audit", _Q2_ORACLE)
def q_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical vs theoretical FPR on certified true negatives."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return bloom_fpr_audit(spark.sql(_INS), spark.sql(_PRB), "kk",
                           m=_M, k=_K)
