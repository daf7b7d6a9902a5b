"""Wave-135 driver queries: Equal Earth + UTM scale audits
(geo/equalearth.py) — the modern equal-area projection and the
conformal-zone scale-factor QA over a hash-uniform global point
cloud.

Oracles: built from the SAME EE_CHAIN / UTM_CHAIN (name, sql) pairs
the engine applies via selectExpr — one CTE per chain step — so the
arithmetic is identical by construction; per-row trig wobble is
absorbed by round-to-6 and every aggregate input is micro-quantized
to the 2^-24 grid (max_k being order-free stays raw)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.geo.equalearth import (EE_CHAIN, UTM_CHAIN,
                                       equal_earth_bands,
                                       utm_scale_audit)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_FIX = """
SELECT CAST(u1 % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon,
       CAST(u2 % 16000 AS DOUBLE) / 100.0 - 80.0 AS lat
FROM (SELECT (event_id * 2654435761 + 13) % 2147483648 AS u1,
             (event_id * 1103515245 + 12345) % 2147483648 AS u2
      FROM events)"""


def _chain_ctes(chain) -> str:
    ctes = [f"c0 AS ({_FIX})"]
    for i, (name, sql) in enumerate(chain, 1):
        ctes.append(f"c{i} AS (SELECT *, {sql} AS {name} "
                    f"FROM c{i - 1})")
    return ",\n".join(ctes), f"c{len(chain)}"


_EE_CTES, _EE_LAST = _chain_ctes(EE_CHAIN)

_Q1_ORACLE = f"""
WITH {_EE_CTES}
SELECT band, CAST(count(*) AS BIGINT) AS n,
       round(sum(qax) / CAST(count(*) AS DOUBLE), 6) AS mean_abs_x,
       round(sum(qy) / CAST(count(*) AS DOUBLE), 6) AS mean_y
FROM {_EE_LAST} GROUP BY band ORDER BY band
"""


@register("equal_earth_projection_bands", _Q1_ORACLE)
def equal_earth_projection_bands(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Per 10-degree latitude band: projected |x| and y means —
    map-only chain + one hash aggregate of dyadic-quantized values."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return equal_earth_bands(spark.sql(_FIX)).orderBy("band")


_UTM_CTES, _UTM_LAST = _chain_ctes(UTM_CHAIN)

_Q2_ORACLE = f"""
WITH {_UTM_CTES}
SELECT zone, CAST(count(*) AS BIGINT) AS n,
       round(max(kk), 6) AS max_k,
       round(sum(qk) / CAST(count(*) AS DOUBLE), 6) AS mean_k,
       CAST(sum(CASE WHEN kk > 1.0005 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over_tol
FROM {_UTM_LAST} GROUP BY zone ORDER BY zone
"""


@register("utm_zone_scale_audit", _Q2_ORACLE)
def utm_zone_scale_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-zone scale-factor QA: max/mean k per zone and the count of
    points whose TM distortion exceeds 5e-4."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return utm_scale_audit(spark.sql(_FIX), tol=1.0005).orderBy("zone")
