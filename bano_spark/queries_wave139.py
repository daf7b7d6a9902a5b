"""Wave-139 driver queries: cash-flow analytics
(operators/finance.py) — Newton-Raphson IRR and the NPV
rate-sensitivity table over per-project flows (t=0 outlay -1000,
then hash-valued positive inflows; IRR lands ~0.18-0.30 per period
and the NPV residual at the returned rate prints 0.0 to 6 decimals).

Oracles: nested DuckDB list_reduce — the outer Newton fold's
lambda-bound rate is captured by the inner (d, npv, dnpv) single-pass
fold, exactly the engine's nested-capture shape; the running
discount d' = d/(1+r) avoids pow()/libm entirely, so every value is
a fixed IEEE chain and matches bit-for-bit before round-to-6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.finance import irr_newton, npv_table
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_ITERS, _R0 = 6, 0.1
_RATES = [0.05, 0.1, 0.15, 0.25]

_FIX = """
SELECT user_id % 20 AS g, event_id AS ord,
       CASE WHEN rn = 1 THEN -1000 ELSE 50 + u % 300 END AS cf
FROM (SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id % 20
                                ORDER BY event_id) AS rn,
             (event_id * 2654435761 + 13) % 2147483648 AS u
      FROM events)"""


def _npv_duck(r: str, field: int) -> str:
    return (f"list_reduce(list_prepend([CAST(1 AS DOUBLE), "
            f"CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)], cfs), "
            f"(si, vi) -> [si[1] / (1.0 + {r}), "
            f"si[2] + vi[2] * si[1], "
            f"si[3] - vi[1] * vi[2] * si[1] / (1.0 + {r})])[{field}]")


_SQ_CTE = f"""
fix AS ({_FIX}),
rk AS (
  SELECT g, cf,
         row_number() OVER (PARTITION BY g ORDER BY ord) - 1 AS t
  FROM fix),
sq AS (
  SELECT g, list([CAST(t AS DOUBLE), CAST(cf AS DOUBLE)]
                 ORDER BY t) AS cfs
  FROM rk GROUP BY g HAVING count(*) >= 4)"""

_NEWTON = (f"list_reduce(list_prepend([CAST({_R0!r} AS DOUBLE)], "
           f"list_transform(generate_series(1, {_ITERS}), "
           f"it -> [CAST(it AS DOUBLE)])), "
           f"(ro, vo) -> [ro[1] - {_npv_duck('ro[1]', 2)} "
           f"/ {_npv_duck('ro[1]', 3)}])[1]")

_Q1_ORACLE = f"""
WITH {_SQ_CTE},
ir AS (SELECT g, cfs, {_NEWTON} AS irr FROM sq)
SELECT g, CAST(len(cfs) AS BIGINT) AS n_flows,
       CAST(list_reduce(list_prepend([CAST(0 AS DOUBLE)],
              list_transform(cfs, x -> [x[2]])),
            (a, v) -> [a[1] + v[1]])[1] AS BIGINT) AS total_cf,
       round(irr, 6) AS irr,
       round({_npv_duck('irr', 2)}, 6) + 0.0 AS npv_residual
FROM ir ORDER BY g
"""


@register("irr_newton_per_project", _Q1_ORACLE)
def irr_newton_per_project(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Six Newton steps per project, each ONE pass over the flow
    array for (NPV, dNPV); residual prints 0 at 6 decimals."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return irr_newton(spark.sql(_FIX), "g", "ord", "cf",
                      iters=_ITERS, r0=_R0).orderBy("g")


_Q2_ORACLE = f"""
WITH {_SQ_CTE}
SELECT g, r.rate, round({_npv_duck('r.rate', 2)}, 6) AS npv
FROM sq CROSS JOIN (
  SELECT CAST(unnest(ARRAY[{', '.join(repr(float(r))
                                      for r in _RATES)}]) AS DOUBLE)
    AS rate) r
ORDER BY g, r.rate
"""


@register("npv_rate_sensitivity", _Q2_ORACLE)
def npv_rate_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NPV at four discount rates per project — monotone decreasing,
    crossing zero at the IRR."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return npv_table(spark.sql(_FIX), "g", "ord", "cf",
                     _RATES).orderBy("g", "rate")
