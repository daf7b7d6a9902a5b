"""Wave-83 driver queries: (1) merge-asof join (operators/asof.py) —
the point-in-time lookup primitive (pandas merge_asof / kdb aj /
feature-store correctness), in all three flavors: keyless backward on
a GLOBAL timeline (exercises the range-bucketed two-pass prefix-max —
no single-partition exchange), keyed backward with a tolerance, and
keyed nearest; (2) GPT-style training-sequence packing
(operators/packing.py) — concat-and-cut documents into fixed
context-length bins over the distributed prefix sum, reporting
per-document bin spans and the per-bin document mix.

Oracles: DuckDB's native ASOF JOIN (an independent implementation of
the same semantics — not a transcription of ours) and window-cumsum +
generate_series SQL for packing. Event times are made strictly unique
(micro-scaled second epoch + event_id) so the asof match is
well-defined in both engines.

Ref parity: the reference resolves "current record as of batch N" via
batch-stamped snapshot tables (bano/sql/*.sql); merge_asof is the
event-time generalization. Packing is LLM-loader bookkeeping (GPT-3
appendix B; T5 pack-sequences preprocessing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


# Strictly-unique event time: second epoch scaled by 1e6 plus
# event_id mod 1e6 (event ids are unique and < 1e6 at gate scales, so
# t is injective — DuckDB's ASOF and our max-(t,id) rule then agree
# with no tie ambiguity).

_EV_SQL = """
ev AS (
  SELECT event_id, user_id, event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) * 1000000
           + event_id % 1000000 AS t
  FROM events)
"""


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts = F.col("ts").cast("timestamp_ntz")
    epoch = (F.datediff(F.to_date(ts), F.lit("1970-01-01")).cast("long")
             * 86400 + F.hour(ts) * 3600 + F.minute(ts) * 60
             + F.second(ts))
    return ev.select(
        "event_id", "user_id", "event_type", "value",
        (epoch * 1000000 + F.col("event_id") % 1000000).alias("t"))


# ---------------------------------------------------------------------------
# ao01 — keyless backward asof: every click matched to the most recent
# error anywhere in the system (global incident timeline). Exercises
# the range-bucketed carry path.
# ---------------------------------------------------------------------------

_AO01_ORACLE = f"""
WITH {_EV_SQL},
l AS (SELECT event_id, t FROM ev WHERE event_type = 'click'),
r AS (SELECT event_id AS rid, t, value FROM ev
      WHERE event_type = 'error')
SELECT l.event_id, l.t, r.t AS t_asof, r.value AS value_asof
FROM l ASOF LEFT JOIN r ON l.t >= r.t
ORDER BY l.event_id
"""


@register("asof_global_last_error", _AO01_ORACLE)
def q_asof_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.asof import merge_asof

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "click").select("event_id", "t")
    right = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("rid"), "t", "value")
    return (merge_asof(left, right, on="t", value_cols=["value"],
                       right_id="rid")
            .orderBy("event_id"))


# ---------------------------------------------------------------------------
# ao02 — keyed backward asof with tolerance: each click joined to the
# user's most recent view within 2 hours.
# ---------------------------------------------------------------------------

_AO02_ORACLE = f"""
WITH {_EV_SQL},
l AS (SELECT event_id, user_id, t FROM ev WHERE event_type = 'click'),
r AS (SELECT event_id AS rid, user_id, t, value FROM ev
      WHERE event_type = 'view')
SELECT l.event_id, l.user_id, l.t,
       CASE WHEN l.t - r.t <= 7200000000 THEN r.t END AS t_asof,
       CASE WHEN l.t - r.t <= 7200000000 THEN r.value END AS value_asof
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.t >= r.t
ORDER BY l.event_id
"""


@register("asof_user_click_view", _AO02_ORACLE)
def q_asof_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.asof import merge_asof

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "t")
    right = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("rid"), "user_id", "t", "value")
    return (merge_asof(left, right, on="t", value_cols=["value"],
                       right_id="rid", by=["user_id"],
                       tolerance=7200 * 1000000)
            .orderBy("event_id"))


# ---------------------------------------------------------------------------
# ao03 — keyed nearest asof: each signup matched to the user's closest
# purchase in either direction (distance ties -> backward; impossible
# here since t is injective).
# ---------------------------------------------------------------------------

_AO03_ORACLE = f"""
WITH {_EV_SQL},
l AS (SELECT event_id, user_id, t FROM ev WHERE event_type = 'signup'),
r AS (SELECT event_id AS rid, user_id, t, value FROM ev
      WHERE event_type = 'purchase'),
b AS (SELECT l.event_id, l.user_id, l.t, r.t AS bt, r.value AS bv
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.t >= r.t),
f AS (SELECT l.event_id, r.t AS ft, r.value AS fv
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.t <= r.t)
SELECT b.event_id, b.user_id, b.t,
       CASE WHEN (bt IS NULL AND ft IS NOT NULL)
              OR (bt IS NOT NULL AND ft IS NOT NULL
                  AND ft - b.t < b.t - bt)
            THEN ft ELSE bt END AS t_asof,
       CASE WHEN (bt IS NULL AND ft IS NOT NULL)
              OR (bt IS NOT NULL AND ft IS NOT NULL
                  AND ft - b.t < b.t - bt)
            THEN fv ELSE bv END AS value_asof
FROM b JOIN f ON b.event_id = f.event_id
ORDER BY b.event_id
"""


@register("asof_nearest_purchase", _AO03_ORACLE)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.asof import merge_asof_nearest

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "t")
    right = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("rid"), "user_id", "t", "value")
    return (merge_asof_nearest(left, right, on="t",
                               value_cols=["value"], right_id="rid",
                               left_id="event_id", by=["user_id"])
            .orderBy("event_id"))


# ---------------------------------------------------------------------------
# pk01/pk02 — sequence packing over documents (whitespace token count,
# context_len = 512), concat order = doc_id.
# ---------------------------------------------------------------------------

_PK_FIX = """
d AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
           AS n_tokens
  FROM documents
  WHERE doc_id % 3 = 0 AND length(trim(text)) > 0),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM d),
spans AS (
  SELECT doc_id, n_tokens,
         CAST(cum - n_tokens AS BIGINT) AS start_off,
         CAST((cum - n_tokens) // 512 AS BIGINT) AS first_bin,
         CAST((cum - 1) // 512 AS BIGINT) AS last_bin
  FROM c)
"""

_PK01_ORACLE = f"""
WITH {_PK_FIX}
SELECT doc_id, n_tokens, start_off, first_bin, last_bin,
       CAST(last_bin - first_bin + 1 AS BIGINT) AS n_bins,
       CAST(CASE WHEN last_bin > first_bin THEN 1 ELSE 0 END AS BIGINT)
         AS crosses
FROM spans ORDER BY doc_id
"""


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (docs.filter((F.col("doc_id") % 3 == 0)
                        & (F.length(F.trim(F.col("text"))) > 0))
            .select("doc_id",
                    F.size(F.split(F.trim(F.col("text")), " +"))
                    .cast("bigint").alias("n_tokens")))


@register("sequence_packing_spans", _PK01_ORACLE)
def q_pack_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.packing import pack_sequences

    packed = pack_sequences(_doc_tokens(spark, sf_dir), "n_tokens",
                            "doc_id", 512)
    return (packed.select(
        "doc_id", "n_tokens", "start_off", "first_bin", "last_bin",
        "n_bins",
        F.col("crosses_boundary").cast("bigint").alias("crosses"))
        .orderBy("doc_id"))


_PK02_ORACLE = f"""
WITH {_PK_FIX},
e AS (
  SELECT s.doc_id, s.n_tokens, s.start_off, s.first_bin, s.last_bin,
         CAST(u.b AS BIGINT) AS bin
  FROM spans s, unnest(generate_series(s.first_bin, s.last_bin))
       AS u(b))
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN first_bin = bin THEN 1 ELSE 0 END) AS BIGINT)
         AS n_start_docs,
       CAST(sum(CASE WHEN last_bin > first_bin THEN 1 ELSE 0 END)
            AS BIGINT) AS n_split_docs,
       CAST(sum(least(start_off + n_tokens, (bin + 1) * 512)
                - greatest(start_off, bin * 512)) AS BIGINT)
         AS n_tokens
FROM e GROUP BY bin ORDER BY bin
"""


@register("sequence_packing_bin_stats", _PK02_ORACLE)
def q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.packing import (pack_sequences,
                                              packing_bin_stats)

    packed = pack_sequences(_doc_tokens(spark, sf_dir), "n_tokens",
                            "doc_id", 512)
    return (packing_bin_stats(packed, "n_tokens", "doc_id", 512)
            .orderBy("bin"))
