"""Wave-99 driver queries: noisy-channel spelling correction
(operators/spellcorrect.py — Norvig's unigram noisy channel) over a
deterministically corrupted token stream from `documents`.

Corruption model (mirrored exactly in Spark and the DuckDB oracle):
token occurrences are `posexplode(split(lower(trim(text)), '\\s+'))`
(1-based positions); with h = doc_id*1000003 + pos, occurrences where
h % 7 == 0 and len >= 4 are corrupted by variant (h div 7) % 3:
0 drop the last char, 1 duplicate the last char, 2 replace the last
char with 'z' (a no-op for z-final tokens — they stay in-vocab and
drop out of the OOV set on both engines identically).  The vocabulary
(unigram LM) is built from the UNCORRUPTED stream; the corrupted
stream is the observed corpus.

Every corruption is Levenshtein distance exactly 1 from its original,
so the original is always in the candidate block — but the channel may
still prefer a higher-frequency distance-1 neighbor, which is what the
accuracy query measures (occurrence-weighted, exact integers).

Scale story (see operators/spellcorrect.py): dedup-first OOV set,
(first_char, length) blocked equi-join, thresholded JVM levenshtein
inside the block only, window argmax — never |OOV| x |vocab|.

Ref parity: the reference's rapprochement matches misspelled OSM
street names against FANTOIR inside per-commune candidate blocks with
edit-distance thresholds (bano/core.py); same block-then-edit-distance
shape on web tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.spellcorrect import (
    build_vocab, candidate_pairs, correct_oov, oov_tokens)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# Shared corruption algebra.  Spark side is built as column
# expressions; the oracle replays the identical string algebra in
# DuckDB CTEs (same hash, same variants, same 1-based positions).
# ---------------------------------------------------------------------------

def _token_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, orig, tok): original and corrupted occurrence."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = (docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower("text")), r"\s+"))
        .alias("p0", "orig"))
        .withColumn("pos", (F.col("p0") + 1).cast("bigint"))
        .drop("p0"))
    h = F.col("doc_id") * F.lit(1000003) + F.col("pos")
    n = F.length("orig")
    variant = F.expr("((doc_id * 1000003 + pos) div 7) % 3")
    corrupted = (
        F.when(variant == 0, F.expr("substring(orig, 1, length(orig) - 1)"))
        .when(variant == 1,
              F.expr("orig || substring(orig, length(orig), 1)"))
        .otherwise(
            F.expr("substring(orig, 1, length(orig) - 1) || 'z'")))
    tok = F.when((h % 7 == 0) & (n >= 4), corrupted).otherwise(
        F.col("orig"))
    return toks.select("doc_id", "pos", "orig", tok.alias("tok"))


_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"

_STREAM_CTE = f"""
toks AS (
  SELECT doc_id, unnest({_TOKS}) AS orig,
         CAST(generate_subscripts({_TOKS}, 1) AS BIGINT) AS pos
  FROM documents),
stream AS (
  SELECT doc_id, pos, orig,
         CASE WHEN (doc_id * 1000003 + pos) % 7 = 0
                   AND length(orig) >= 4
              THEN CASE ((doc_id * 1000003 + pos) // 7) % 3
                   WHEN 0 THEN substring(orig, 1, length(orig) - 1)
                   WHEN 1 THEN orig
                               || substring(orig, length(orig), 1)
                   ELSE substring(orig, 1, length(orig) - 1) || 'z'
                   END
              ELSE orig END AS tok
  FROM toks),
vocab AS (
  SELECT orig AS word, CAST(count(*) AS BIGINT) AS freq
  FROM stream GROUP BY orig),
oov AS (
  SELECT tok AS oov, CAST(count(*) AS BIGINT) AS n_occ
  FROM stream
  WHERE tok NOT IN (SELECT word FROM vocab)
  GROUP BY tok),
cand AS (
  SELECT o.oov, o.n_occ, v.word AS cand, v.freq,
         CAST(levenshtein(o.oov, v.word) AS INT) AS dist
  FROM oov o JOIN vocab v
    ON substring(v.word, 1, 1) = substring(o.oov, 1, 1)
   AND length(v.word) BETWEEN length(o.oov) - 1 AND length(o.oov) + 1
  WHERE levenshtein(o.oov, v.word) <= 1),
best AS (
  SELECT oov, cand AS corrected, freq AS cand_freq
  FROM (SELECT oov, cand, freq,
               row_number() OVER (PARTITION BY oov
                                  ORDER BY freq DESC, cand ASC) AS rk
        FROM cand)
  WHERE rk = 1)
"""


_SC01_ORACLE = f"""
WITH {_STREAM_CTE}
SELECT oov, n_occ, cand, freq, dist FROM cand
"""


@register("spell_candidates_blocked", _SC01_ORACLE)
def spell_candidates_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _token_stream(spark, sf_dir)
    vocab = build_vocab(stream.select(F.col("orig").alias("token")))
    oov = oov_tokens(stream.select(F.col("tok").alias("token")), vocab)
    return candidate_pairs(oov, vocab, max_dist=1)


_SC02_ORACLE = f"""
WITH {_STREAM_CTE}
SELECT o.oov, o.n_occ, b.corrected, b.cand_freq
FROM oov o LEFT JOIN best b ON b.oov = o.oov
"""


@register("spell_correct_noisy_channel", _SC02_ORACLE)
def spell_correct_noisy_channel(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    stream = _token_stream(spark, sf_dir)
    vocab = build_vocab(stream.select(F.col("orig").alias("token")))
    oov = oov_tokens(stream.select(F.col("tok").alias("token")), vocab)
    return correct_oov(oov, vocab, max_dist=1)


_SC03_ORACLE = f"""
WITH {_STREAM_CTE}
SELECT CAST(count(DISTINCT s.tok) AS BIGINT) AS n_oov_types,
       CAST(count(*) AS BIGINT) AS n_oov_occ,
       CAST(count(*) FILTER (WHERE b.corrected = s.orig)
            AS BIGINT) AS n_correct_occ
FROM stream s
JOIN oov o ON o.oov = s.tok
LEFT JOIN best b ON b.oov = s.tok
"""


@register("spell_correction_accuracy", _SC03_ORACLE)
def spell_correction_accuracy(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Occurrence-weighted channel accuracy: of the corrupted
    occurrences that became OOV, how many does the noisy channel send
    back to their true original?  Exact integers only."""
    stream = _token_stream(spark, sf_dir)
    vocab = build_vocab(stream.select(F.col("orig").alias("token")))
    oov = oov_tokens(stream.select(F.col("tok").alias("token")), vocab)
    corr = correct_oov(oov, vocab, max_dist=1)
    occ = stream.join(corr.withColumnRenamed("oov", "tok"), "tok")
    return occ.agg(
        F.countDistinct("tok").alias("n_oov_types"),
        F.count(F.lit(1)).alias("n_oov_occ"),
        F.count(F.when(F.col("corrected") == F.col("orig"), 1))
        .alias("n_correct_occ"))
