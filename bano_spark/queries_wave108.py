"""Wave-108 driver queries: gazetteer multi-pattern phrase matching
(operators/gazetteer.py) — Aho-Corasick semantics as rare-token-
anchored equi-joins over the tokenized documents corpus.

Fixture: the documents table tokenized on single spaces (the corpus
IS space-separated), matched against a fixed 9-phrase dictionary
chosen to exercise every edge of the operator:

  * nesting           — 'sort merge' inside 'sort merge join'
  * overlap sharing   — 'merge join' overlaps 'sort merge join'
  * single token      — 'dup' (also the corpus-rarest token)
  * rare anchor       — 'dup table' anchors on freq~26 'dup', not
                        freq~900 'table'
  * repeated token    — 'join join' (self-overlapping matches;
                        anchor tie-break on smallest offset)
  * zero-hit phrase   — 'quantum flux' (no corpus occurrence; the
                        left-join freq-0 fast path)
  * 3-token phrase    — 'the fast key'

Oracle: brute-force verification (every phrase offset equi-joined to
the stream, HAVING count(*) = plen) — anchor-free, so it cross-checks
that the anchor pre-filter loses nothing.  The anchor-stats oracle
re-derives the argmin(freq, off) pick with a window, confirming the
Spark-side selection rule byte-for-byte.

Ref parity: bano/models.py:22-165 + bano/core.py:281-323 (normalized
name hash-matching per commune) generalized to positional dictionary
matching in free text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.gazetteer import (candidates, match_phrases,
                                            phrase_tokens, pick_anchors)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_DICT = [
    (1, "hash join"),
    (2, "sort merge"),
    (3, "sort merge join"),
    (4, "merge join"),
    (5, "table scan"),
    (6, "dup"),
    (7, "the fast key"),
    (8, "quantum flux"),
    (9, "join join"),
]


def _phrases(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(_DICT, "phrase_id long, phrase string")


def _stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (docs
            .select("doc_id",
                    F.posexplode(F.split("text", " "))
                    .alias("p0", "tok"))
            .withColumn("pos", (F.col("p0") + 1).cast("bigint"))
            .drop("p0"))


def _parts(spark: SparkSession, sf_dir: str):
    stream = _stream(spark, sf_dir)
    ptoks = phrase_tokens(_phrases(spark))
    tf = stream.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    anchors = pick_anchors(ptoks, tf)
    return stream, ptoks, anchors


_VALUES = ", ".join(f"({pid}, '{p}')" for pid, p in _DICT)

_BASE_CTE = f"""
stream AS MATERIALIZED (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         CAST(generate_subscripts(string_split(text, ' '), 1)
              AS BIGINT) AS pos
  FROM documents),
phrases(phrase_id, phrase) AS (VALUES {_VALUES}),
ptoks AS MATERIALIZED (
  SELECT phrase_id, phrase,
         CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen,
         unnest(string_split(phrase, ' ')) AS tok,
         CAST(generate_subscripts(string_split(phrase, ' '), 1)
              AS BIGINT) AS off
  FROM phrases),
matches AS MATERIALIZED (
  SELECT s.doc_id, p.phrase_id,
         CAST(s.pos - p.off + 1 AS BIGINT) AS start,
         CAST(max(p.plen) AS BIGINT) AS plen
  FROM stream s JOIN ptoks p ON s.tok = p.tok
  WHERE s.pos - p.off + 1 >= 1
  GROUP BY s.doc_id, p.phrase_id, s.pos - p.off + 1
  HAVING count(*) = max(plen))
"""


_GZ01_ORACLE = f"""
WITH {_BASE_CTE}
SELECT m.doc_id, m.phrase_id, m.start, p.phrase
FROM matches m JOIN phrases p ON p.phrase_id = m.phrase_id
ORDER BY 1, 2, 3
"""


@register("gazetteer_phrase_matches", _GZ01_ORACLE)
def gazetteer_phrase_matches(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Every (doc, phrase, start) occurrence — the full Aho-Corasick
    output set, overlapping + nested matches included."""
    stream, ptoks, anchors = _parts(spark, sf_dir)
    m = match_phrases(stream, ptoks, anchors)
    return (m.join(F.broadcast(_phrases(spark)), "phrase_id")
            .select("doc_id", "phrase_id", "start", "phrase")
            .orderBy("doc_id", "phrase_id", "start"))


_GZ02_ORACLE = f"""
WITH {_BASE_CTE},
tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
       FROM stream GROUP BY tok),
ranked AS (
  SELECT p.phrase_id, p.plen, p.tok, p.off,
         coalesce(tf.freq, 0) AS freq,
         row_number() OVER (PARTITION BY p.phrase_id
                            ORDER BY coalesce(tf.freq, 0) ASC,
                                     p.off ASC) AS rk
  FROM ptoks p LEFT JOIN tf ON tf.tok = p.tok),
anch AS (SELECT phrase_id, plen, tok AS anchor_tok,
                off AS anchor_off, freq AS anchor_freq
         FROM ranked WHERE rk = 1),
cand AS (
  SELECT a.phrase_id, CAST(count(*) AS BIGINT) AS n_candidates
  FROM anch a JOIN stream s ON s.tok = a.anchor_tok
  WHERE s.pos - a.anchor_off + 1 >= 1
  GROUP BY a.phrase_id),
mstat AS (
  SELECT phrase_id, CAST(count(*) AS BIGINT) AS n_matches,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM matches GROUP BY phrase_id)
SELECT a.phrase_id, a.anchor_tok,
       CAST(a.anchor_off AS BIGINT) AS anchor_off,
       CAST(a.anchor_freq AS BIGINT) AS anchor_freq,
       CAST(coalesce(c.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
       CAST(coalesce(m.n_docs, 0) AS BIGINT) AS n_docs
FROM anch a
LEFT JOIN cand c ON c.phrase_id = a.phrase_id
LEFT JOIN mstat m ON m.phrase_id = a.phrase_id
ORDER BY 1
"""


@register("gazetteer_anchor_stats", _GZ02_ORACLE)
def gazetteer_anchor_stats(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Per phrase: the chosen anchor (corpus-rarest token), its
    candidate volume, and the surviving match volume — the anchor's
    selectivity is the operator's 100-TB cost model."""
    stream, ptoks, anchors = _parts(spark, sf_dir)
    cand = (candidates(stream, anchors)
            .groupBy("phrase_id")
            .agg(F.count(F.lit(1)).alias("n_candidates")))
    m = (match_phrases(stream, ptoks, anchors)
         .groupBy("phrase_id")
         .agg(F.count(F.lit(1)).alias("n_matches"),
              F.countDistinct("doc_id").alias("n_docs")))
    return (anchors
            .join(cand, "phrase_id", "left")
            .join(m, "phrase_id", "left")
            .select("phrase_id", "anchor_tok",
                    F.col("anchor_off").cast("bigint")
                    .alias("anchor_off"),
                    F.col("anchor_freq").cast("bigint")
                    .alias("anchor_freq"),
                    F.coalesce("n_candidates", F.lit(0))
                    .cast("bigint").alias("n_candidates"),
                    F.coalesce("n_matches", F.lit(0))
                    .cast("bigint").alias("n_matches"),
                    F.coalesce("n_docs", F.lit(0))
                    .cast("bigint").alias("n_docs"))
            .orderBy("phrase_id"))


_GZ03_ORACLE = f"""
WITH {_BASE_CTE},
cov AS (
  SELECT doc_id, CAST(count(DISTINCT cp) AS BIGINT) AS covered
  FROM (SELECT doc_id,
               unnest(generate_series(start, start + plen - 1)) AS cp
        FROM matches)
  GROUP BY doc_id),
dlen AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks
         FROM stream GROUP BY doc_id),
mstat AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
         CAST(count(DISTINCT phrase_id) AS BIGINT) AS n_phrases
  FROM matches GROUP BY doc_id)
SELECT m.doc_id, m.n_matches, m.n_phrases, c.covered, d.n_toks,
       CAST(c.covered AS DOUBLE) / d.n_toks AS coverage
FROM mstat m
JOIN cov c ON c.doc_id = m.doc_id
JOIN dlen d ON d.doc_id = m.doc_id
ORDER BY 1
"""


@register("gazetteer_doc_coverage", _GZ03_ORACLE)
def gazetteer_doc_coverage(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Per matched doc: match volume and the fraction of its tokens
    inside at least one matched span (span-union via explode +
    distinct — overlap-safe)."""
    stream, ptoks, anchors = _parts(spark, sf_dir)
    plens = ptoks.select("phrase_id", "plen").distinct()
    m = (match_phrases(stream, ptoks, anchors)
         .join(F.broadcast(plens), "phrase_id"))
    cov = (m.select("doc_id",
                    F.explode(F.sequence(
                        F.col("start"),
                        F.col("start") + F.col("plen") - 1))
                    .alias("cp"))
           .groupBy("doc_id")
           .agg(F.countDistinct("cp").alias("covered")))
    dlen = stream.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"))
    mstat = m.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.countDistinct("phrase_id").alias("n_phrases"))
    return (mstat
            .join(cov, "doc_id")
            .join(dlen, "doc_id")
            .select("doc_id",
                    F.col("n_matches").cast("bigint").alias("n_matches"),
                    F.col("n_phrases").cast("bigint").alias("n_phrases"),
                    F.col("covered").cast("bigint").alias("covered"),
                    F.col("n_toks").cast("bigint").alias("n_toks"),
                    (F.col("covered").cast("double") / F.col("n_toks"))
                    .alias("coverage"))
            .orderBy("doc_id"))
