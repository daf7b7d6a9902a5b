r"""Wave-154 driver query: corpus_dedup_e2e — the composed exact ->
MinHash-LSH -> char-winnow -> per-source-budget lineage
(operators/dedup_e2e.py; VERDICT r4 item 8). The stages are gated
separately elsewhere (dedup_exact, minhash_signature/lsh_pairs,
char_winnow_dup_anchors, corpus_curation_plan); this single query
proves the COMPOSITION: per-document drop attribution with fixed
stage precedence over the real documents table.

Oracle: the same algebra as chained CTEs — md5 keeper window, the
established banded-md5 sketch text (mirrors
operators/dedup.minhash_signature, same as the minhash_signature
query oracle), per-bucket/per-anchor MIN-survivor links (no
self-joins), the wave-82 winnowing window text, and the curation
prefix-cutoff budget window. Sketch/anchor CTEs are MATERIALIZED
(multi-referenced; DuckDB would otherwise re-inline the md5 chains).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.dedup_e2e import corpus_dedup_e2e
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_BUDGET = 1000

# fixture: documents plus planted exact duplicates (every 17th doc
# re-emitted verbatim under id + 10^6) so the exact stage provably
# fires; the budget of 1000 words binds inside each ~1300-word source
_FIX = """
SELECT doc_id, text, source, n_chars FROM documents
UNION ALL
SELECT doc_id + 1000000, text, source, n_chars
FROM documents WHERE doc_id % 17 = 0"""

_TOKS = r"string_split_regex(trim(lower(text)), '\s+')"
_SHINGLES = (f"CASE WHEN len({_TOKS}) >= 3 THEN "
             f"list_transform(generate_series(0, len({_TOKS}) - 3), "
             f"i -> array_to_string(list_slice({_TOKS}, i + 1, i + 3),"
             f" ' ')) "
             f"ELSE [array_to_string({_TOKS}, ' ')] END")

_SIG_MINS = ",\n         ".join(
    f"list_min(list_transform(m{i // 4}, "
    f"x -> substr(x, {8 * (i % 4) + 1}, 8))) AS h{i}"
    for i in range(8))
_SIG_BLOCKS = ",\n               ".join(
    f"list_transform(sh, s -> md5('b{b}|' || s)) AS m{b}"
    for b in range(2))

_Q1_ORACLE = f"""
WITH fix AS ({_FIX}),
d0 AS (
  SELECT doc_id, text, source, n_chars,
         CAST(len({_TOKS}) AS BIGINT) AS n_words
  FROM fix),
e1 AS (
  SELECT *, (doc_id = min(doc_id) OVER (PARTITION BY md5(text)))
           AS keep1
  FROM d0),
s1 AS (SELECT doc_id, text FROM e1 WHERE keep1),
sig AS MATERIALIZED (
  SELECT doc_id,
         {_SIG_MINS}
  FROM (SELECT doc_id,
               {_SIG_BLOCKS}
        FROM (SELECT doc_id, {_SHINGLES} AS sh FROM s1))),
bands AS MATERIALIZED (
  SELECT doc_id, 0 AS band, h0 || '|' || h1 AS key FROM sig
  UNION ALL SELECT doc_id, 1, h2 || '|' || h3 FROM sig
  UNION ALL SELECT doc_id, 2, h4 || '|' || h5 FROM sig
  UNION ALL SELECT doc_id, 3, h6 || '|' || h7 FROM sig),
bmin AS (SELECT band, key, min(doc_id) AS bm
         FROM bands GROUP BY 1, 2),
mh AS (SELECT b.doc_id, min(m.bm) AS mhmin
       FROM bands b JOIN bmin m USING (band, key) GROUP BY 1),
e2 AS (
  SELECT e1.*, (e1.keep1 AND mh.mhmin >= e1.doc_id) AS keep2
  FROM e1 LEFT JOIN mh ON e1.doc_id = mh.doc_id),
s2 AS (SELECT doc_id, text FROM e2 WHERE keep2),
g AS MATERIALIZED (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         md5(substr(text, CAST(u.i AS INT), 16)) AS gg
  FROM s2, unnest(generate_series(1, length(text) - 15)) AS u(i)
  WHERE length(text) >= 16),
k2 AS (
  SELECT doc_id, pos,
         gg || lpad(CAST(pos AS VARCHAR), 8, '0') AS k2
  FROM g),
win AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
           AS nxt,
         min(k2) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
           AS wmin
  FROM k2),
anch AS MATERIALIZED (
  SELECT DISTINCT doc_id, substr(wmin, 1, 32) AS anchor
  FROM win WHERE nxt = 8 OR pos = 1),
amin AS (SELECT anchor, min(doc_id) AS am,
                count(DISTINCT doc_id) AS adocs
         FROM anch GROUP BY 1),
pd AS (
  SELECT a.doc_id, count(*) AS na,
         sum(CASE WHEN m.adocs >= 2 THEN 1 ELSE 0 END) AS nd,
         min(m.am) AS wm
  FROM anch a JOIN amin m USING (anchor) GROUP BY 1),
e3 AS (
  SELECT e2.*, (e2.keep2 AND NOT coalesce(
            pd.nd * 2 >= pd.na AND pd.wm < e2.doc_id, FALSE)) AS keep3
  FROM e2 LEFT JOIN pd ON e2.doc_id = pd.doc_id),
e4 AS (
  SELECT *, sum(CASE WHEN keep3 THEN n_words ELSE 0 END)
              OVER (PARTITION BY source
                    ORDER BY n_chars DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS cum
  FROM e3)
SELECT doc_id, source, n_words,
       CASE WHEN NOT keep1 THEN 'exact_dup'
            WHEN NOT keep2 THEN 'minhash_dup'
            WHEN NOT keep3 THEN 'winnow_dup'
            WHEN NOT (keep3 AND cum <= {_BUDGET}) THEN 'budget'
            ELSE 'kept' END AS stage
FROM e4 ORDER BY doc_id
"""


@register("corpus_dedup_e2e", _Q1_ORACLE)
def q_corpus_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lineage through the full dedup/budget
    composition — first failing stage attributed."""
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("documents")
    return corpus_dedup_e2e(spark.sql(_FIX), budget_words=_BUDGET)
