"""Wave-141 driver queries: great-circle cross-track QA
(geo/crosstrack.py) — XTD/ATD of a hash point cloud (lon 0-40E,
lat 40-55N, straddling the (0,45N)->(30E,50N) route) per longitude
band, plus corridor membership at 25/100/400 km.

Oracles: the SAME xtd_chain() (name, sql) pairs as CTE steps; mean
|XTD| micro-quantized to 2^-20 before summing, max order-free,
corridor counts compare bit-identical doubles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.geo.crosstrack import (corridor_counts,
                                       cross_track_band_stats,
                                       xtd_chain)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_WIDTHS = [25.0, 100.0, 400.0]

_FIX = """
SELECT CAST(u1 % 4000 AS DOUBLE) / 100.0 AS lon,
       40.0 + CAST(u2 % 1500 AS DOUBLE) / 100.0 AS lat
FROM (SELECT (event_id * 2654435761 + 13) % 2147483648 AS u1,
             (event_id * 1103515245 + 12345) % 2147483648 AS u2
      FROM events)"""


def _ctes() -> str:
    ctes = [f"c0 AS ({_FIX})"]
    for i, (name, sql) in enumerate(xtd_chain(), 1):
        ctes.append(f"c{i} AS (SELECT *, {sql} AS {name} "
                    f"FROM c{i - 1})")
    return ",\n".join(ctes), f"c{len(xtd_chain())}"


_CTES, _LAST = _ctes()

_Q1_ORACLE = f"""
WITH {_CTES}
SELECT band, CAST(count(*) AS BIGINT) AS n,
       round(sum(qax) / CAST(count(*) AS DOUBLE), 6)
         AS mean_abs_xtd_km,
       round(max(atd_km), 6) AS max_atd_km
FROM {_LAST} GROUP BY band ORDER BY band
"""


@register("cross_track_band_stats", _Q1_ORACLE)
def q_cross_track_band_stats(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Map-only XTD/ATD chain + one quantized hash aggregate per
    longitude band."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return cross_track_band_stats(spark.sql(_FIX)).orderBy("band")


_Q2_ORACLE = f"""
WITH {_CTES},
a AS (
  SELECT band, CAST(count(*) AS BIGINT) AS n,
         {', '.join(
             f"CAST(sum(CASE WHEN abs(xtd_km) < {float(w)!r} "
             f"THEN 1 ELSE 0 END) AS BIGINT) AS c{i}"
             for i, w in enumerate(_WIDTHS))}
  FROM {_LAST} GROUP BY band)
{' UNION ALL '.join(
    f"SELECT band, CAST({float(w)!r} AS DOUBLE) AS width_km, "
    f"c{i} AS n_in, "
    f"round(CAST(c{i} AS DOUBLE) / CAST(n AS DOUBLE), 6) AS frac_in "
    f"FROM a" for i, w in enumerate(_WIDTHS))}
ORDER BY band, width_km
"""


@register("route_corridor_membership", _Q2_ORACLE)
def route_corridor_membership(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Fraction of fixes within 25/100/400 km corridors of the
    route, per band — widening corridors nest monotonically."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return corridor_counts(spark.sql(_FIX),
                           _WIDTHS).orderBy("band", "width_km")
