"""Wave-82 driver queries: character-level exact-substring dedup —
the round-3 verdict's one approximated LLM-pipeline operator, now
implemented (operators/chardedup.py). The fixture plants SHIFTED
60-char copies (each derived doc embeds chars 37..96 of its source
inside fresh surrounding text): shorter than 13 words and re-aligned
mid-word, so word-13-gram dup_span_stats provably reports zero for
them (tests/test_chardedup.py asserts this), while (1)
char_ngram_dup_spans recovers the exact 60-char span via stride-1
char-16-gram coverage + gaps-and-islands, and (2) char_winnow_anchors
flags the same pairs from ~1/w of the gram volume with the Schleimer
w + k - 1 = 23-char guarantee — the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


# Fixture: every 7th doc (truncated to 400 chars, min length 120); for
# every 14th, a derived doc embedding chars 37..96 of the source at a
# shifted offset inside fresh text.

_FIX_SQL = """
base AS (
  SELECT doc_id, substr(text, 1, 400) AS text
  FROM documents WHERE doc_id % 7 = 0 AND length(text) >= 120),
drv AS (
  SELECT doc_id + 10000000 AS doc_id,
         'zq9 ' || substr(text, 37, 60) || ' 9qz' AS text
  FROM base WHERE doc_id % 14 = 0),
fix AS (SELECT * FROM base UNION ALL SELECT * FROM drv)
"""


def _fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = (docs.filter((F.col("doc_id") % 7 == 0)
                        & (F.length("text") >= 120))
            .select("doc_id", F.substring("text", 1, 400).alias("text")))
    drv = (base.filter(F.col("doc_id") % 14 == 0)
           .select((F.col("doc_id") + 10000000).alias("doc_id"),
                   F.concat(F.lit("zq9 "),
                            F.substring("text", 37, 60),
                            F.lit(" 9qz")).alias("text")))
    return base.unionAll(drv)


# ---------------------------------------------------------------------------
# co01 — stride-1 char-16-gram duplicated spans (exact, any alignment).
# ---------------------------------------------------------------------------

_CO01_ORACLE = f"""
WITH {_FIX_SQL},
g AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         md5(substr(text, CAST(u.i AS INT), 16)) AS g
  FROM fix, unnest(generate_series(1, length(text) - 15)) AS u(i)
  WHERE length(text) >= 16),
pg AS (SELECT g, count(DISTINCT doc_id) AS n_docs FROM g GROUP BY g),
j AS (SELECT doc_id, pos, (n_docs >= 2) AS dup FROM g JOIN pg USING (g)),
cov AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   IS NULL
              OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   + 1
              THEN 1 ELSE 0 END AS new_run
  FROM j WHERE dup),
runs AS (
  SELECT doc_id, pos,
         sum(new_run) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS run_id
  FROM cov),
spans AS (
  SELECT doc_id, run_id, max(pos) - min(pos) + 16 AS span
  FROM runs GROUP BY doc_id, run_id),
longest AS (
  SELECT doc_id, max(span) AS longest_dup_span FROM spans GROUP BY doc_id),
tot AS (
  SELECT doc_id, count(*) AS n_pos,
         sum(CASE WHEN dup THEN 1 ELSE 0 END) AS n_dup_pos
  FROM j GROUP BY doc_id)
SELECT t.doc_id,
       CAST(t.n_pos AS BIGINT) AS n_pos,
       CAST(t.n_dup_pos AS BIGINT) AS n_dup_pos,
       CAST(coalesce(l.longest_dup_span, 0) AS BIGINT) AS longest_dup_span
FROM tot t LEFT JOIN longest l ON t.doc_id = l.doc_id
ORDER BY t.doc_id
"""


@register("char_ngram_dup_spans", _CO01_ORACLE)
def q_char_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.chardedup import char_dup_spans

    return char_dup_spans(_fixture(spark, sf_dir), k=16).orderBy("doc_id")


# ---------------------------------------------------------------------------
# co02 — char-level winnowing anchors (w=8, k=16; 23-char guarantee).
# ---------------------------------------------------------------------------

_CO02_ORACLE = f"""
WITH {_FIX_SQL},
g AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         md5(substr(text, CAST(u.i AS INT), 16)) AS g
  FROM fix, unnest(generate_series(1, length(text) - 15)) AS u(i)
  WHERE length(text) >= 16),
k2 AS (
  SELECT doc_id, pos,
         g || lpad(CAST(pos AS VARCHAR), 8, '0') AS k2
  FROM g),
win AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS nxt,
         min(k2) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin
  FROM k2),
anch AS (
  SELECT DISTINCT doc_id, substr(wmin, 1, 32) AS anchor
  FROM win WHERE nxt = 8 OR pos = 1),
pa AS (SELECT anchor, count(DISTINCT doc_id) AS n_docs
       FROM anch GROUP BY anchor),
per_doc AS (
  SELECT a.doc_id, count(*) AS n_anchors,
         sum(CASE WHEN p.n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup_anchors
  FROM anch a JOIN pa p ON a.anchor = p.anchor
  GROUP BY a.doc_id),
ng AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id)
SELECT ng.doc_id,
       CAST(ng.n_grams AS BIGINT) AS n_grams,
       CAST(coalesce(d.n_anchors, 0) AS BIGINT) AS n_anchors,
       CAST(coalesce(d.n_dup_anchors, 0) AS BIGINT) AS n_dup_anchors
FROM ng LEFT JOIN per_doc d ON ng.doc_id = d.doc_id
ORDER BY ng.doc_id
"""


@register("char_winnow_dup_anchors", _CO02_ORACLE)
def q_char_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.chardedup import char_winnow_anchors

    return (char_winnow_anchors(_fixture(spark, sf_dir), k=16, w=8)
            .orderBy("doc_id"))
