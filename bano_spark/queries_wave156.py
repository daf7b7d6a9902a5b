"""Wave-156 driver query: Walsh-Hadamard rotation audit over the
embeddings table (operators/hadamard.py) — the
quantization-preconditioning flatness measurement, with the
unnormalized-Parseval identity (sum X^2 = n sum x^2) as an in-row
self-check.

Oracle: same literal +-1 matrix (every entry exact) and same fixed
index-order folds; the INDEPENDENT check is the recursive-butterfly
FWHT replay in tools/check_kernels.py plus the in-row Parseval
identity."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.hadamard import (fwht_rotation_audit,
                                           hadamard_matrix)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_DIM, _QMOD = 64, 25


def _h_duck() -> str:
    rows = ", ".join(
        "[" + ", ".join(f"{v}.0" for v in row) + "]"
        for row in hadamard_matrix(_DIM))
    return f"[{rows}]"


def _fold(arr_a: str, arr_b: str, n: int) -> str:
    return (f"list_reduce(list_prepend([CAST(0 AS DOUBLE)], "
            f"list_transform(generate_series(1, {n}), "
            f"i -> [CAST(i AS DOUBLE)])), "
            f"(s, v) -> [s[1] + {arr_a}[CAST(v[1] AS INT)] "
            f"* {arr_b}[CAST(v[1] AS INT)]])[1]")


_Q1_ORACLE = f"""
WITH sel AS (
  SELECT vec_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xs
  FROM embeddings
  WHERE vec_id % {_QMOD} = 0 AND len(embedding) = {_DIM}),
hh AS (SELECT {_h_duck()} AS H),
t AS (
  SELECT vec_id, xs,
         list_transform(H, hrow ->
           list_reduce(list_prepend([CAST(0 AS DOUBLE)],
             list_transform(generate_series(1, {_DIM}),
                            i -> [CAST(i AS DOUBLE)])),
             (s2, v) -> [s2[1] + xs[CAST(v[1] AS INT)]
                         * hrow[CAST(v[1] AS INT)]])[1]) AS hx
  FROM sel CROSS JOIN hh),
e AS (
  SELECT vec_id,
         {_fold('xs', 'xs', _DIM)} AS et,
         {_fold('hx', 'hx', _DIM)} AS ef,
         list_max(list_transform(xs, v -> abs(v))) AS li,
         list_max(list_transform(hx, v -> abs(v)))
           / CAST({float(_DIM)!r} AS DOUBLE) AS lr
  FROM t)
SELECT vec_id, CAST({_DIM} AS BIGINT) AS n,
       round(et, 6) AS energy,
       round(li, 6) AS linf_input,
       round(lr, 6) AS linf_rotated,
       round(li / lr, 6) AS flatten_ratio,
       (abs(ef - {float(_DIM)!r} * et)
        <= 1e-9 * {float(_DIM)!r} * et) AS parseval_ok
FROM e ORDER BY vec_id
"""


@register("fwht_rotation_audit", _Q1_ORACLE)
def q_fwht_rotation_audit(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Hadamard flatness audit per selected embedding vector."""
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .createOrReplaceTempView("embeddings")
    return fwht_rotation_audit(spark.table("embeddings"),
                               dim=_DIM, qmod=_QMOD)
