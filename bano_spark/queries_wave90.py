"""Wave-90 driver queries: (1) exact 1-D Wasserstein-1 drift between
two deterministic halves of the event stream per event type
(operators/quantiles.wasserstein_1d) — the earth-mover distance kept
INTEGER by multiplying through by n_a*n_b, one final division; the B
side is deliberately smeared upward so the drift is non-trivial.
(2) Matrix-profile motif + discord discovery per user
(operators/temporal.matrix_profile_ed, Yeh et al. 2016) under exact
squared Euclidean distance with the |i-j| >= m exclusion zone.

Oracles: the same cumulative-count window algebra and the same
LEAD-column self-join in DuckDB — all integers until single final
divisions.

Ref parity: the reference monitors per-source address-count
distributions between nightly runs (munin bano_rapproche, stats.sql);
W1 is the drift metric for that comparison, and the matrix profile is
the standard "which stretch of the series repeats / never repeats"
primitive over the same per-entity event streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_W_FIX = """
SELECT event_type AS g,
       CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
       CAST(u % 100 + CASE WHEN event_id % 2 = 1
                           THEN (u // 100) % 13 ELSE 0 END
            AS BIGINT) AS x
FROM (SELECT event_id, event_type,
             (event_id * 2654435761 + 131) % 2147483648 AS u
      FROM events)
"""

_W_FIX_SPARK = _W_FIX.replace("//", "div")

_WD_ORACLE = f"""
WITH x AS ({_W_FIX}),
counts AS (
  SELECT g, x,
         CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
           AS ca,
         CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
           AS cb
  FROM x GROUP BY g, x),
cum AS (
  -- cum_a, NOT "CA": unquoted identifiers are case-insensitive in
  -- BOTH engines, and "CA" silently collides with the "ca" count.
  SELECT g, x,
         sum(ca) OVER (PARTITION BY g ORDER BY x
                       ROWS UNBOUNDED PRECEDING) AS cum_a,
         sum(cb) OVER (PARTITION BY g ORDER BY x
                       ROWS UNBOUNDED PRECEDING) AS cum_b,
         sum(ca) OVER (PARTITION BY g) AS na,
         sum(cb) OVER (PARTITION BY g) AS nb,
         coalesce(lead(x) OVER (PARTITION BY g ORDER BY x) - x, 0)
           AS dx
  FROM counts)
SELECT g AS event_type,
       CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
       CAST(sum(abs(cum_a * nb - cum_b * na) * dx) AS BIGINT)
         AS w1_num,
       round(CAST(sum(abs(cum_a * nb - cum_b * na) * dx) AS DOUBLE)
             / (max(na) * max(nb)), 6) + 0.0 AS w1
FROM cum GROUP BY g ORDER BY event_type
"""


@register("wasserstein_drift", _WD_ORACLE)
def q_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import wasserstein_1d

    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    x = spark.sql(_W_FIX_SPARK)
    return (wasserstein_1d(x, "g", "side", "x")
            .withColumnRenamed("g", "event_type"))


_MP_FIX = """
SELECT user_id,
       CAST(floor(epoch(ts)) AS BIGINT) * 1000000
         + event_id % 1000000 AS t,
       CAST((event_id * 2654435761 + 137) % 2147483648 % 21 - 10
            AS BIGINT) AS y
FROM events
"""

M = 4

_MP_ORACLE = f"""
WITH s AS ({_MP_FIX}),
subs AS (
  SELECT user_id AS g,
         row_number() OVER (PARTITION BY user_id ORDER BY t) AS i,
         y AS v0,
         lead(y, 1) OVER (PARTITION BY user_id ORDER BY t) AS v1,
         lead(y, 2) OVER (PARTITION BY user_id ORDER BY t) AS v2,
         lead(y, 3) OVER (PARTITION BY user_id ORDER BY t) AS v3
  FROM s),
good AS (SELECT * FROM subs WHERE v3 IS NOT NULL),
pairs AS (
  SELECT a.g, a.i, b.i AS j,
         CAST((a.v0 - b.v0) * (a.v0 - b.v0)
              + (a.v1 - b.v1) * (a.v1 - b.v1)
              + (a.v2 - b.v2) * (a.v2 - b.v2)
              + (a.v3 - b.v3) * (a.v3 - b.v3) AS BIGINT) AS d2
  FROM good a JOIN good b
    ON a.g = b.g AND abs(a.i - b.i) >= {M}),
profile AS (
  SELECT g, i, min(d2) AS pd2 FROM pairs GROUP BY g, i),
discord AS (
  SELECT g, i AS discord_i, pd2 AS discord_d2 FROM (
    SELECT g, i, pd2,
           row_number() OVER (PARTITION BY g
                              ORDER BY pd2 DESC, i) AS rn
    FROM profile) WHERE rn = 1),
motif AS (
  SELECT g, i AS motif_i, j AS motif_j, d2 AS motif_d2 FROM (
    SELECT g, i, j, d2,
           row_number() OVER (PARTITION BY g
                              ORDER BY d2, i, j) AS rn
    FROM pairs WHERE i < j) WHERE rn = 1),
nsubs AS (SELECT g, CAST(count(*) AS BIGINT) AS n_subs
          FROM good GROUP BY g)
SELECT n.g AS user_id, n.n_subs,
       CAST(m.motif_i AS BIGINT) AS motif_i,
       CAST(m.motif_j AS BIGINT) AS motif_j,
       m.motif_d2,
       CAST(d.discord_i AS BIGINT) AS discord_i, d.discord_d2
FROM nsubs n JOIN motif m ON m.g = n.g JOIN discord d ON d.g = n.g
ORDER BY user_id
"""


@register("matrix_profile_motifs", _MP_ORACLE)
def q_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from bano_spark.operators.temporal import matrix_profile_ed

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts = F.col("ts").cast("timestamp_ntz")
    epoch = (F.datediff(F.to_date(ts), F.lit("1970-01-01")).cast("long")
             * 86400 + F.hour(ts) * 3600 + F.minute(ts) * 60
             + F.second(ts))
    s = ev.select(
        "user_id",
        (epoch * 1000000 + F.col("event_id") % 1000000).alias("t"),
        ((F.col("event_id") * 2654435761 + 137) % 2147483648 % 21 - 10)
        .cast("bigint").alias("y"))
    mp = matrix_profile_ed(s, "user_id", "t", "y", m=M)
    return mp.select(
        "user_id", "n_subs",
        F.col("motif_i").cast("bigint").alias("motif_i"),
        F.col("motif_j").cast("bigint").alias("motif_j"), "motif_d2",
        F.col("discord_i").cast("bigint").alias("discord_i"),
        "discord_d2")
