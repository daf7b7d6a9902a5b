"""Wave-58 driver queries: population stability index between the
month's two halves (the production drift monitor), in-sample top-1
accuracy of the first-order Markov next-event predictor, and
rendezvous-hashing shard assignment with its minimal-disruption
property checked by dropping one shard.

Float parity: PSI proportions and Markov accuracies are single
divisions of exact integer counts; rendezvous is pure BIGINT
arithmetic — only PSI's final 10-term fold rounds."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# bq01 — PSI of event values: first half of the month (expected) vs
# the second (actual) — both halves populated at every sf.
# ---------------------------------------------------------------------------

_BQ01_ORACLE = """
WITH b AS (SELECT value AS v, day(ts) <= 15 AS e
           FROM events WHERE value IS NOT NULL),
mm AS (SELECT min(v) AS lo, max(v) AS hi FROM b WHERE e),
bn AS (SELECT e,
              least(greatest(CAST(floor((b.v - mm.lo)
                    / ((mm.hi - mm.lo) / 10)) AS BIGINT), 0), 9) AS bin
       FROM b, mm),
cnt AS (SELECT bin,
               sum(CASE WHEN e THEN 1 ELSE 0 END) AS ce,
               sum(CASE WHEN e THEN 0 ELSE 1 END) AS ca
        FROM bn GROUP BY bin),
tot AS (SELECT sum(CASE WHEN e THEN 1 ELSE 0 END) AS ne,
               sum(CASE WHEN e THEN 0 ELSE 1 END) AS na FROM bn),
t AS (SELECT tot.ne, tot.na,
             (greatest(ca / na, 0.000001) - greatest(ce / ne, 0.000001))
             * ln(greatest(ca / na, 0.000001)
                  / greatest(ce / ne, 0.000001)) AS term
      FROM cnt, tot)
SELECT CAST(ne AS BIGINT) AS n_expected, CAST(na AS BIGINT) AS n_actual,
       round(sum(term), 6) AS psi
FROM t GROUP BY ne, na
"""


@register("psi_value_drift", _BQ01_ORACLE)
def q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import population_stability_index

    ev = (_read(spark, sf_dir, "events")
          .select("value",
                  (F.dayofmonth("ts") <= 15).alias("is_expected")))
    return population_stability_index(ev, "value", "is_expected",
                                      n_bins=10)


# ---------------------------------------------------------------------------
# bq02 — Markov next-event predictor accuracy per current state.
# ---------------------------------------------------------------------------

_BQ02_ORACLE = """
WITH p AS (SELECT event_type AS cur,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS nxt
           FROM events),
tr AS (SELECT cur, nxt, count(*) AS c FROM p
       WHERE nxt IS NOT NULL GROUP BY 1, 2),
pr AS (SELECT cur, nxt AS predicted_next FROM (
  SELECT cur, nxt,
         row_number() OVER (PARTITION BY cur
                            ORDER BY c DESC, nxt) AS rn
  FROM tr) WHERE rn = 1)
SELECT tr.cur AS event_type, CAST(sum(tr.c) AS BIGINT) AS n_transitions,
       max(pr.predicted_next) AS predicted_next,
       round(sum(CASE WHEN tr.nxt = pr.predicted_next
                 THEN tr.c ELSE 0 END) / sum(tr.c), 6) AS accuracy
FROM tr JOIN pr ON pr.cur = tr.cur GROUP BY 1 ORDER BY 1
"""


@register("markov_next_accuracy", _BQ02_ORACLE)
def q_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.eventflow import markov_next_accuracy

    return markov_next_accuracy(_read(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# bq03 — rendezvous sharding, 8 shards vs 7: only shard 7's items
# move (minimal disruption), which the rollup proves directly.
# ---------------------------------------------------------------------------

_BQ03_ORACLE = """
WITH ids AS (SELECT doc_id FROM documents),
s8 AS (SELECT unnest(generate_series(0, 7)) AS s),
h8 AS (SELECT doc_id, s,
              (doc_id * 2654435761 + s * 40503) % 1000003 AS h
       FROM ids, s8),
a8 AS (SELECT doc_id, s AS shard8 FROM (
  SELECT doc_id, s,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY h DESC, s) AS rn FROM h8)
  WHERE rn = 1),
s7 AS (SELECT unnest(generate_series(0, 6)) AS s),
h7 AS (SELECT doc_id, s,
              (doc_id * 2654435761 + s * 40503) % 1000003 AS h
       FROM ids, s7),
a7 AS (SELECT doc_id, s AS shard7 FROM (
  SELECT doc_id, s,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY h DESC, s) AS rn FROM h7)
  WHERE rn = 1)
SELECT CAST(a8.shard8 AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CASE WHEN a7.shard7 <> a8.shard8 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved
FROM a8 JOIN a7 ON a7.doc_id = a8.doc_id
GROUP BY 1 ORDER BY shard
"""


@register("rendezvous_sharding", _BQ03_ORACLE)
def q_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatial_partition import rendezvous_assign

    ids = _read(spark, sf_dir, "documents").select("doc_id")
    a8 = rendezvous_assign(ids, "doc_id", 8) \
        .withColumnRenamed("shard", "shard8")
    a7 = rendezvous_assign(ids, "doc_id", 7) \
        .withColumnRenamed("shard", "shard7")
    return (a8.join(a7, "doc_id")
            .groupBy(F.col("shard8").alias("shard"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_items"),
                 F.sum(F.when(F.col("shard7") != F.col("shard8"), 1)
                       .otherwise(0)).cast("bigint").alias("n_moved"))
            .orderBy("shard"))
