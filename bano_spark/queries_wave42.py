"""Wave-42 driver queries: Fleiss' kappa over a three-rater
weak-supervision stack (classifier sign, token-length, char-length)
and the Fano factor of hourly event counts per user decile — the
multi-rater agreement and count-dispersion closers of the statistics
arm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.queries_wave39 import _AY02_SCORED, _ay02_scored
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# bb01 — Fleiss' kappa over three heuristic raters on the classifier
# fixture docs: score sign, token length >= 30, n_chars >= 200.
# ---------------------------------------------------------------------------

_BB01_ORACLE = f"""
WITH {_AY02_SCORED},
r AS (
  SELECT CAST(CASE WHEN lab.score >= 0 THEN 1 ELSE 0 END
            + CASE WHEN lab.label THEN 1 ELSE 0 END
            + CASE WHEN doc.n_chars >= 200 THEN 1 ELSE 0 END
            AS DOUBLE) AS p
  FROM lab JOIN documents doc ON doc.doc_id = lab.doc_id
),
a AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         avg((p * (p - 1) + (3 - p) * (3 - p - 1)) / 6.0) AS pbar,
         sum(p) / (count(*) * 3) AS q
  FROM r
)
SELECT CAST(n AS BIGINT) AS n_items, 3 AS n_raters,
       round(pbar, 6) AS p_bar,
       round(q * q + (1 - q) * (1 - q), 6) AS p_e,
       round(CASE WHEN q * q + (1 - q) * (1 - q) <> 1.0
                  THEN (pbar - (q * q + (1 - q) * (1 - q)))
                       / (1 - (q * q + (1 - q) * (1 - q))) END, 6)
         AS kappa
FROM a
"""


@register("fleiss_kappa", _BB01_ORACLE)
def q_fleiss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import fleiss_kappa_binary

    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    rated = (_ay02_scored(spark, sf_dir)
             .join(docs, "doc_id")
             .select((F.col("score") >= 0).alias("r1"),
                     F.col("label").alias("r2"),
                     (F.col("n_chars") >= 200).alias("r3")))
    return fleiss_kappa_binary(rated, ["r1", "r2", "r3"])


# ---------------------------------------------------------------------------
# bb02 — Fano factor of hourly event counts per user decile.
# ---------------------------------------------------------------------------

_BB02_ORACLE = """
WITH c AS (
  SELECT user_id % 10 AS k,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b,
         CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT k, CAST(count(*) AS DOUBLE) AS nb, sum(c) AS s,
         sum(c * c) AS ss
  FROM c GROUP BY k
)
SELECT k, CAST(nb AS BIGINT) AS n_buckets, CAST(s AS BIGINT) AS n_events,
       round(s / nb, 6) AS mean_count,
       round(CASE WHEN nb > 1
                  THEN ((ss - nb * (s / nb) * (s / nb)) / (nb - 1))
                       / (s / nb) END, 6) AS fano
FROM g ORDER BY k
"""


@register("fano_factor_counts", _BB02_ORACLE)
def q_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import fano_factor

    ev = _read(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("k"),
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("b"))
    return fano_factor(ev, "k", "b").orderBy("k")
