"""Wave-73 driver queries: (1) Haar wavelet energy decomposition of
each user's first 32 series values — 5 detail-level energies + the
approximation coefficient, all EXACT dyadic arithmetic (the
level-shift fixture concentrates energy in the coarse levels); (2)
Huffman optimal-code total cost vs the Shannon bound per event type
over a geometric (lowest-set-bit) symbol distribution — the
compressibility audit pair, exact integer merges."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# cf01 — Haar energies over the level-shift series (L=32, 5 levels).
# ---------------------------------------------------------------------------

def _haar_levels_duckdb() -> str:
    """Unrolled 5-level cascade over DuckDB 1-based lists."""
    steps = []
    cur = "a0"
    for lv in range(1, 6):
        half = 32 >> lv
        steps.append(
            f"l{lv} AS (SELECT user_id, "
            f"list_transform(range(1, {half + 1}), i -> "
            f"({cur}[2*i - 1] - {cur}[2*i]) / 2) AS d{lv}, "
            f"list_transform(range(1, {half + 1}), i -> "
            f"({cur}[2*i - 1] + {cur}[2*i]) / 2) AS a{lv} "
            f"FROM {'base' if lv == 1 else 'l' + str(lv - 1)})")
        cur = f"a{lv}"
    return ",\n".join(steps)


_CF01_ORACLE = f"""
WITH s AS ({synth.series_select_sql('duckdb')}),
vs AS (
  SELECT user_id, list(v ORDER BY seq) AS lv
  FROM s GROUP BY user_id),
base AS (
  SELECT user_id, lv[1:32] AS a0 FROM vs WHERE len(lv) >= 32),
{_haar_levels_duckdb()}
SELECT l5.user_id,
       list_sum(list_transform(l1.d1, x -> x * x)) AS e1,
       list_sum(list_transform(l2.d2, x -> x * x)) AS e2,
       list_sum(list_transform(l3.d3, x -> x * x)) AS e3,
       list_sum(list_transform(l4.d4, x -> x * x)) AS e4,
       list_sum(list_transform(l5.d5, x -> x * x)) AS e5,
       l5.a5[1] AS approx
FROM l5 JOIN l4 ON l5.user_id = l4.user_id
JOIN l3 ON l5.user_id = l3.user_id
JOIN l2 ON l5.user_id = l2.user_id
JOIN l1 ON l5.user_id = l1.user_id
ORDER BY l5.user_id
"""


@register("haar_energy_levels", _CF01_ORACLE)
def q_haar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import haar_energy

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    s = spark.sql(synth.series_select_sql("spark"))
    return haar_energy(s, "user_id", ["seq"], "v", length=32)


# ---------------------------------------------------------------------------
# cf02 — Huffman cost vs entropy bound per event type.
# ---------------------------------------------------------------------------

_SYM_CASE = """CASE WHEN k % 2 = 1 THEN 0 WHEN k % 4 = 2 THEN 1
       WHEN k % 8 = 4 THEN 2 WHEN k % 16 = 8 THEN 3
       WHEN k % 32 = 16 THEN 4 WHEN k % 64 = 32 THEN 5
       WHEN k % 128 = 64 THEN 6 ELSE 7 END"""

_SYM_FIXTURE = f"""
SELECT event_type AS g, {_SYM_CASE} AS sym
FROM (SELECT event_type,
             (event_id * 2654435761 + 53) % 2147483648 AS k
      FROM events)
"""

_CF02_ORACLE = f"""
WITH x AS ({_SYM_FIXTURE}),
cnt AS (SELECT g, sym, count(*) AS c FROM x GROUP BY g, sym),
per AS (
  SELECT g, list_sort(list(c)) AS ws, sum(c) AS n,
         count(*) AS n_symbols,
         sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS clogc
  FROM cnt GROUP BY g),
fold AS (
  SELECT g, n, n_symbols, clogc,
         CASE WHEN len(ws) < 2 THEN CAST(0 AS BIGINT)
         ELSE list_reduce(
           list_prepend(list_prepend(CAST(0 AS BIGINT), ws),
                        list_transform(range(1, len(ws)), i -> [i])),
           (s, v) ->
             list_prepend(s[1] + list_sort(s[2:])[1]
                          + list_sort(s[2:])[2],
               list_append(list_sort(s[2:])[3:],
                           list_sort(s[2:])[1]
                           + list_sort(s[2:])[2])))[1]
         END AS huffman_bits
  FROM per)
SELECT g AS event_type, CAST(n AS BIGINT) AS n_total,
       CAST(n_symbols AS BIGINT) AS n_symbols,
       huffman_bits,
       round(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE)) - clogc,
             6) AS entropy_bits
FROM fold ORDER BY event_type
"""


@register("huffman_vs_entropy", _CF02_ORACLE)
def q_huffman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import huffman_cost

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    x = spark.sql(_SYM_FIXTURE)
    return huffman_cost(x, "g", "sym").withColumnRenamed(
        "g", "event_type")
