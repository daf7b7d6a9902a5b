"""Wave-64 driver queries: Huber robust regression per event type
(fixed-k IRLS — the outlier-resistant twin of linear_fit_per_group on
the same value ~ hour fixture) and the per-user 1-D Kalman local-level
filter (adaptive-gain upgrade of the ewma/holt fixed-gain smoothers).

Float parity: Huber pins the IRLS trajectory by rounding (slope,
intercept) to 12 per pass and divides only in the |r| > k branch
(ANSI safety); Kalman is a pure-rational fold in identical order on
both engines (Spark struct accumulator, DuckDB LIST accumulator — the
list_reduce struct-field trap), bit-stable before final rounding."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# bx01 — Huber IRLS fit of value ~ hour-of-day per event type, k = 40.
# ---------------------------------------------------------------------------

_HUBER_FIT = """
  SELECT g, round((sw * swxy - swx * swy)
                  / (sw * swxx - swx * swx), 12) AS b1,
         round((swy - ((sw * swxy - swx * swy)
                       / (sw * swxx - swx * swx)) * swx) / sw, 12)
           AS b0
  FROM (SELECT g, sum(w) AS sw, sum(w * x) AS swx, sum(w * y) AS swy,
               sum(w * x * x) AS swxx, sum(w * x * y) AS swxy
        FROM {src} GROUP BY g)
"""


def _huber_oracle(iters: int = 3, k: float = 40.0) -> str:
    kk = f"CAST({k!r} AS DOUBLE)"
    parts = ["""
WITH b AS MATERIALIZED (
  SELECT event_type AS g, CAST(date_part('hour', ts) AS DOUBLE) AS x,
         CAST(value AS DOUBLE) AS y
  FROM events),
c0 AS MATERIALIZED ("""
        + _HUBER_FIT.format(
            src="(SELECT g, x, y, CAST(1 AS DOUBLE) AS w FROM b)")
        + ")"]
    for i in range(1, iters + 1):
        src = (f"(SELECT b.g, b.x, b.y, "
               f"CASE WHEN abs(b.y - c.b0 - c.b1 * b.x) <= {kk} "
               f"THEN CAST(1 AS DOUBLE) "
               f"ELSE {kk} / abs(b.y - c.b0 - c.b1 * b.x) END AS w "
               f"FROM b JOIN c{i - 1} c ON c.g = b.g)")
        parts.append(f",\nc{i} AS MATERIALIZED ("
                     + _HUBER_FIT.format(src=src) + ")")
    parts.append(f"""
SELECT c.g AS event_type, CAST(count(*) AS BIGINT) AS n,
       round(any_value(c.b1), 6) AS slope,
       round(any_value(c.b0), 6) AS intercept,
       CAST(sum(CASE WHEN abs(b.y - c.b0 - c.b1 * b.x) > {kk}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_downweighted
FROM b JOIN c{iters} c ON c.g = b.g
GROUP BY c.g ORDER BY event_type""")
    return "".join(parts)


@register("huber_regression", _huber_oracle(3, 40.0))
def q_huber(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import huber_fit_per_group

    ev = _read(spark, sf_dir, "events")
    return huber_fit_per_group(
        ev.select(F.col("event_type"),
                  F.hour("ts").cast("double").alias("xh"),
                  F.col("value")),
        "event_type", "xh", "value", k=40.0, iters=3)


# ---------------------------------------------------------------------------
# bx02 — per-user Kalman local-level filter, q = 4, r = 25.
# ---------------------------------------------------------------------------

_Q, _R = 4.0, 25.0

_KG = (f"((s[2] + CAST({_Q!r} AS DOUBLE)) / (s[2]"
       f" + CAST({_Q!r} AS DOUBLE) + CAST({_R!r} AS DOUBLE)))")

_BX02_ORACLE = f"""
WITH s AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vs
  FROM events GROUP BY user_id HAVING count(*) >= 2
),
f AS (
  SELECT user_id, len(vs) AS n,
         list_reduce(
           list_prepend(
             [CAST(vs[1] AS DOUBLE), CAST({_R!r} AS DOUBLE),
              CAST(0 AS DOUBLE)],
             list_transform(list_slice(vs, 2, len(vs)),
                            x -> [CAST(x AS DOUBLE),
                                  CAST(0.0 AS DOUBLE),
                                  CAST(0.0 AS DOUBLE)])),
           (s, v) -> [
             s[1] + {_KG} * (v[1] - s[1]),
             (1 - {_KG}) * (s[2] + CAST({_Q!r} AS DOUBLE)),
             s[3] + abs(v[1] - s[1])]) AS st
  FROM s
)
SELECT user_id, CAST(n AS BIGINT) AS n_rows,
       round(st[1], 6) AS x_hat, round(st[2], 6) AS p_var,
       round((st[2] + CAST({_Q!r} AS DOUBLE))
             / (st[2] + CAST({_Q!r} AS DOUBLE)
                + CAST({_R!r} AS DOUBLE)), 6) AS gain,
       round(st[3] / (n - 1), 6) AS mae_innov
FROM f ORDER BY user_id
"""


@register("kalman_level_filter", _BX02_ORACLE)
def q_kalman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import kalman_level_last

    return kalman_level_last(_read(spark, sf_dir, "events"),
                             "user_id", ["ts", "event_id"], "value",
                             q=_Q, r=_R)
