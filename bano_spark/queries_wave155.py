"""Wave-155 driver query: orthonormal DCT-II energy compaction per
user series (operators/spectral.py) — spectral features with a
built-in Parseval self-check (sum of ALL squared coefficients must
equal the time-domain energy, emitted as a boolean column, so the
transform verifies itself row by row).

Oracle: same literal cos basis (precomputed in Python — runtime
cos() would expose cross-engine libm wobble) and same fixed
index-order folds via list_reduce; the INDEPENDENT check is the
numpy replay in tools/check_kernels.py (np.cos basis + np.dot), plus
the in-row Parseval identity itself."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.spectral import dct2_basis, dct2_compaction
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_N, _KEEP = 32, 8


def _basis_duck() -> str:
    rows = ", ".join(
        "[" + ", ".join(repr(v) for v in row) + "]"
        for row in dct2_basis(_N))
    return f"[{rows}]"


def _fold(arr_a: str, arr_b: str, n: int) -> str:
    """Fixed index-order dot product of two DuckDB lists."""
    return (f"list_reduce(list_prepend([CAST(0 AS DOUBLE)], "
            f"list_transform(generate_series(1, {n}), "
            f"i -> [CAST(i AS DOUBLE)])), "
            f"(s, v) -> [s[1] + {arr_a}[CAST(v[1] AS INT)] "
            f"* {arr_b}[CAST(v[1] AS INT)]])[1]")


_Q1_ORACLE = f"""
WITH s AS (
  SELECT user_id,
         list_slice(list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                    1, {_N}) AS xs
  FROM events GROUP BY user_id HAVING count(*) >= {_N}),
tt AS (SELECT {_basis_duck()} AS basis),
c AS (
  SELECT user_id, xs,
         list_transform(basis, trow ->
           list_reduce(list_prepend([CAST(0 AS DOUBLE)],
             list_transform(generate_series(1, {_N}),
                            i -> [CAST(i AS DOUBLE)])),
             (s2, v) -> [s2[1] + xs[CAST(v[1] AS INT)]
                         * trow[CAST(v[1] AS INT)]])[1]) AS cs
  FROM s CROSS JOIN tt),
e AS (
  SELECT user_id, cs,
         {_fold('xs', 'xs', _N)} AS et,
         {_fold('cs', 'cs', _N)} AS ef,
         list_reduce(list_prepend([CAST(0 AS DOUBLE)],
           list_transform(generate_series(1, {_KEEP}),
                          i -> [CAST(i AS DOUBLE)])),
           (s2, v) -> [s2[1] + cs[CAST(v[1] AS INT)]
                       * cs[CAST(v[1] AS INT)]])[1] AS ek
  FROM c)
SELECT user_id, CAST({_N} AS BIGINT) AS n,
       {', '.join(f'round(cs[{k + 1}], 6) AS c{k}'
                  for k in range(_KEEP))},
       round(et, 6) AS energy,
       round(ek / et, 6) AS compaction,
       (abs(ef - et) <= 1e-9 * et) AS parseval_ok
FROM e ORDER BY user_id
"""


@register("dct2_spectral_compaction", _Q1_ORACLE)
def q_dct2_spectral_compaction(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """First 8 orthonormal DCT-II coefficients + compaction ratio per
    user, with the Parseval identity as an in-row self-check."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    ev = spark.table("events")
    return dct2_compaction(ev, "user_id", ["ts", "event_id"], "value",
                           n=_N, keep=_KEEP)
