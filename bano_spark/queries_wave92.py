"""Wave-92 driver queries: (1) Page-Hinkley sequential drift
detection per user (operators/temporal.page_hinkley) over a series
with a deterministic mid-series level shift injected for every third
user — alarms must fire for shifted users and stay quiet otherwise
(the kernel test asserts both); the fold's doubles are bit-identical
because both engines run the identical operation sequence. (2)
Split-conformal prediction intervals per event type
(operators/quantiles.split_conformal) — conformity scores scaled to
INTEGERS (|y*n - S|), conformal quantile as an exact order statistic,
measured test coverage vs the 1-alpha = 0.9 guarantee.

Oracles: the same list_reduce state machine (fresh structs per step)
and the same rank/count algebra.

Ref parity: the reference thresholds per-commune matched-count drift
in munin (bano_rapproche warning/critical); Page-Hinkley is the
sequential test with a false-alarm bound, and conformal intervals are
the finite-sample version of its tolerance bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_EP = ("CAST(floor(epoch(ts)) AS BIGINT) * 1000000 "
       "+ event_id % 1000000")

# level shift of +6 in the second half of every third user's series
_PH_FIX_DUCK = f"""
SELECT user_id, t,
       CAST(u % 9 + CASE WHEN user_id % 3 = 0 AND seq * 2 > n
                         THEN 6 ELSE 0 END AS BIGINT) AS x
FROM (
  SELECT user_id, t, u,
         row_number() OVER (PARTITION BY user_id ORDER BY t) AS seq,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM (SELECT user_id, {_EP} AS t,
               (event_id * 2654435761 + 151) % 2147483648 AS u
        FROM events))
"""

DELTA, LAM = 0.5, 20.0


def _ph_oracle() -> str:
    # state: [s, t, m, mn, mx, al] as DOUBLE list; element [x].
    step = f"""
      (acc, r) -> list_transform(
        [acc[3] + (r[1] - (acc[1] + r[1]) / (acc[2] + 1)
                   - CAST(0.5 AS DOUBLE))],
        m2 -> [acc[1] + r[1], acc[2] + 1, m2,
               least(acc[4], m2),
               greatest(acc[5], m2 - least(acc[4], m2)),
               CASE WHEN acc[6] > 0 THEN acc[6]
                    WHEN m2 - least(acc[4], m2)
                         > CAST(20.0 AS DOUBLE)
                    THEN acc[2] + 1 ELSE CAST(0 AS DOUBLE) END])[1]
    """
    return f"""
WITH x AS ({_PH_FIX_DUCK}),
s AS (
  SELECT user_id,
         list([CAST(x AS DOUBLE)] ORDER BY t) AS xs
  FROM x GROUP BY user_id),
f AS (
  SELECT user_id, CAST(len(xs) AS BIGINT) AS n,
         list_reduce(
           list_prepend([0.0, 0.0, 0.0, 0.0, 0.0, 0.0], xs),
           {step}) AS st
  FROM s)
SELECT user_id, n,
       round(st[3], 6) + 0.0 AS ph_final,
       round(st[5], 6) + 0.0 AS max_dev,
       CAST(st[6] AS BIGINT) AS first_alarm
FROM f ORDER BY user_id
"""


@register("page_hinkley_drift", _ph_oracle())
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from bano_spark.operators.temporal import page_hinkley

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts = F.col("ts").cast("timestamp_ntz")
    epoch = (F.datediff(F.to_date(ts), F.lit("1970-01-01")).cast("long")
             * 86400 + F.hour(ts) * 3600 + F.minute(ts) * 60
             + F.second(ts))
    base = ev.select(
        "user_id",
        (epoch * 1000000 + F.col("event_id") % 1000000).alias("t"),
        ((F.col("event_id") * 2654435761 + 151) % 2147483648)
        .alias("u"))
    w = Window.partitionBy("user_id").orderBy("t")
    s = (base.withColumn("seq", F.row_number().over(w))
         .withColumn("n", F.count("*").over(
             Window.partitionBy("user_id")))
         .select("user_id", "t",
                 (F.col("u") % 9
                  + F.when((F.col("user_id") % 3 == 0)
                           & (F.col("seq") * 2 > F.col("n")), 6)
                  .otherwise(0)).cast("bigint").alias("x")))
    return page_hinkley(s, "user_id", "t", "x", delta=DELTA, lam=LAM)


# conformal: y = u % 50 plus a per-type offset; calibration on even
# event ids, test on odd.
_CF_FIX = """
SELECT event_type AS g,
       CASE WHEN event_id % 2 = 0 THEN 'cal' ELSE 'test' END AS split,
       event_id AS rid,
       CAST(u % 50 + length(event_type) * 3 AS BIGINT) AS y
FROM (SELECT event_id, event_type,
             (event_id * 2654435761 + 157) % 2147483648 AS u
      FROM events)
"""

_CF_ORACLE = f"""
WITH x AS ({_CF_FIX}),
cal AS (SELECT g, rid, y FROM x WHERE split = 'cal'),
test AS (SELECT g, y FROM x WHERE split = 'test'),
stats AS (SELECT g, CAST(sum(y) AS BIGINT) AS S,
                 CAST(count(*) AS BIGINT) AS n_cal
          FROM cal GROUP BY g),
scored AS (
  SELECT cal.g, abs(cal.y * st.n_cal - st.S) AS r, cal.rid,
         st.S, st.n_cal
  FROM cal JOIN stats st ON st.g = cal.g),
ranked AS (
  SELECT g, r, S, n_cal,
         row_number() OVER (PARTITION BY g ORDER BY r, rid) AS rn,
         least(((n_cal + 1) * 9 + 9) // 10, n_cal) AS k
  FROM scored),
q AS (SELECT g, r AS q_scaled, S, n_cal FROM ranked WHERE rn = k),
cov AS (
  SELECT q.g, q.n_cal, q.q_scaled,
         CAST(count(*) AS BIGINT) AS n_test,
         CAST(sum(CASE WHEN abs(t.y * q.n_cal - q.S) <= q.q_scaled
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
  FROM test t JOIN q ON q.g = t.g
  GROUP BY q.g, q.n_cal, q.q_scaled)
SELECT g AS event_type, n_cal, n_test, q_scaled,
       round(CAST(q_scaled AS DOUBLE) / n_cal, 6) + 0.0 AS q,
       round(CAST(n_covered AS DOUBLE) / n_test, 6) + 0.0 AS coverage
FROM cov ORDER BY event_type
"""


@register("conformal_intervals", _CF_ORACLE)
def q_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import split_conformal

    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    x = spark.sql(_CF_FIX)
    return (split_conformal(x, "g", "split", "rid", "y")
            .withColumnRenamed("g", "event_type"))
