"""Wave-113 driver queries: token-LCS document version diffing
(operators/docdiff.py) — Hunt–Szymanski match pairs + patience LIS.

Fixture: version B of every 3rd document is derived IN SQL from A by
(a) deleting tokens at positions % 11 == 5 and (b) substituting
tokens at positions % 7 == 3 with an unmatched '_v2' variant — so the
true diff has known deletion/substitution structure and LCS < n_a in
a controlled way.

Oracle: independent row-based construction + the DuckDB list_reduce
patience fold (same pile-tops algebra, list accumulator per the
struct-accumulator trap note in the verify recipe).

Ref parity: crawl-recency / version chaining over the same documents
table as cdc_dup_spans and latest_capture_per_page.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.docdiff import lcs_token_diff
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _ab(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.expr("doc_id % 3 = 0")))
    docs.createOrReplaceTempView("docs3")
    a = spark.sql("""
        SELECT doc_id, CAST(p0 + 1 AS BIGINT) AS pos, tok
        FROM (SELECT doc_id, posexplode(split(text, ' ')) AS (p0, tok)
              FROM docs3)
    """)
    a.createOrReplaceTempView("toks_a")
    b = spark.sql("""
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                    AS BIGINT) AS pos,
               CASE WHEN pos % 7 = 3 THEN concat(tok, '_v2')
                    ELSE tok END AS tok
        FROM toks_a WHERE pos % 11 <> 5
    """)
    return a, b


_AB_SQL = """
toks_a AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, ' '), 1)
              AS BIGINT) AS pos,
         unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id % 3 = 0),
toks_b AS (
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos)
              AS BIGINT) AS pos,
         CASE WHEN pos % 7 = 3 THEN tok || '_v2' ELSE tok END AS tok
  FROM toks_a WHERE pos % 11 <> 5),
na AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_a
       FROM toks_a GROUP BY doc_id),
nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_b
       FROM toks_b GROUP BY doc_id),
m AS (
  SELECT a.doc_id, a.pos AS ia, b.pos AS ib
  FROM toks_a a JOIN toks_b b
    ON b.doc_id = a.doc_id AND b.tok = a.tok),
folded AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
         CAST(len(list_reduce(
           list_prepend(CAST([] AS BIGINT[]),
                        list_transform(list(ib ORDER BY ia, -ib),
                                       e -> [e])),
           (acc, v) -> CASE
             WHEN len(list_filter(acc, t -> t < v[1])) = len(acc)
             THEN list_append(acc, v[1])
             ELSE acc[1:len(list_filter(acc, t -> t < v[1]))]
                  || [v[1]]
                  || acc[len(list_filter(acc, t -> t < v[1])) + 2:]
           END)) AS BIGINT) AS lcs_len
  FROM m GROUP BY doc_id),
diffed AS (
  SELECT na.doc_id, na.n_a, nb.n_b,
         coalesce(f.n_matches, 0) AS n_matches,
         coalesce(f.lcs_len, 0) AS lcs_len,
         na.n_a + nb.n_b - 2 * coalesce(f.lcs_len, 0) AS edit_distance,
         CAST(2.0 * coalesce(f.lcs_len, 0) AS DOUBLE)
           / CAST(na.n_a + nb.n_b AS DOUBLE) AS similarity
  FROM na JOIN nb ON nb.doc_id = na.doc_id
  LEFT JOIN folded f ON f.doc_id = na.doc_id)
"""


_DD01_ORACLE = f"""
WITH {_AB_SQL}
SELECT doc_id, n_a, n_b, n_matches, lcs_len,
       CAST(edit_distance AS BIGINT) AS edit_distance, similarity
FROM diffed
ORDER BY doc_id
"""


@register("doc_diff_lcs", _DD01_ORACLE)
def doc_diff_lcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per versioned document: exact token-LCS diff statistics."""
    a, b = _ab(spark, sf_dir)
    return lcs_token_diff(a, b).orderBy("doc_id")


_DD02_ORACLE = f"""
WITH {_AB_SQL}
SELECT (20 * lcs_len) // (n_a + n_b) AS sim_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(edit_distance) AS BIGINT) AS total_edits,
       CAST(sum(edit_distance) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS avg_edits
FROM diffed
GROUP BY 1
ORDER BY 1
"""


@register("doc_diff_class_histogram", _DD02_ORACLE)
def doc_diff_class_histogram(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Similarity-decile histogram (integer bucket (20*lcs) div
    (n_a+n_b) — exact, no float binning) with edit-volume rollup."""
    a, b = _ab(spark, sf_dir)
    d = lcs_token_diff(a, b)
    return (d.withColumn("sim_bucket",
                         F.expr("(20 * lcs_len) div (n_a + n_b)"))
            .groupBy("sim_bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("edit_distance").cast("bigint")
                 .alias("total_edits"),
                 (F.sum("edit_distance").cast("double")
                  / F.count(F.lit(1)).cast("double")).alias("avg_edits"))
            .orderBy("sim_bucket"))


_DD03_ORACLE = f"""
WITH {_AB_SQL}
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_matches) AS BIGINT) AS total_match_pairs,
       CAST(max(n_matches) AS BIGINT) AS max_match_pairs,
       CAST(sum(n_a) AS BIGINT) AS total_tokens_a,
       CAST(sum(n_matches) AS DOUBLE) / CAST(sum(n_a) AS DOUBLE)
         AS match_blowup,
       (count(*) = sum(CASE WHEN lcs_len <= least(n_a, n_b)
                            THEN 1 ELSE 0 END)) AS all_bounded
FROM diffed
"""


@register("doc_diff_match_cost", _DD03_ORACLE)
def doc_diff_match_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hunt–Szymanski cost model: match-pair volume r vs corpus size
    (the r log r work driver) + the lcs <= min(n_a, n_b) bound proof."""
    a, b = _ab(spark, sf_dir)
    d = lcs_token_diff(a, b)
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_matches").cast("bigint").alias("total_match_pairs"),
        F.max("n_matches").cast("bigint").alias("max_match_pairs"),
        F.sum("n_a").cast("bigint").alias("total_tokens_a"),
        (F.sum("n_matches").cast("double")
         / F.sum("n_a").cast("double")).alias("match_blowup"),
        (F.count(F.lit(1)) ==
         F.sum(F.when(F.col("lcs_len") <= F.least("n_a", "n_b"), 1)
               .otherwise(0))).alias("all_bounded"))
