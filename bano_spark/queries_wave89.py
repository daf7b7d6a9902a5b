"""Wave-89 driver queries: multinomial Naive Bayes text
classification (operators/nbayes.py) with integer micro-nat
quantization — train on doc_id % 3 != 0, score the held-out third,
report the confusion matrix and per-class precision/recall/F1.
Quantizing every log-probability to round(ln(p) * 1e6) makes the
per-document score an INTEGER SUM (order-free, topology-independent)
with <= 5e-7 nats/token quantization noise shared with the oracle.

Oracle: the same training/scoring algebra in DuckDB — identical
rationals into ln(), identical rounding, identical (score DESC,
class ASC) argmax.

Ref parity: the reference picks each address's winning source by
fixed priorities (bano/core.py); NB is the learned per-token version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"

_NB_CORE = f"""
train AS (SELECT * FROM documents WHERE doc_id % 3 != 0),
test AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
ttok AS (
  SELECT lang AS label, u.tok
  FROM train, UNNEST({_TOKS}) AS u(tok) WHERE u.tok != ''),
counts AS (SELECT label, tok, CAST(count(*) AS BIGINT) AS c
           FROM ttok GROUP BY 1, 2),
totals AS (SELECT label, CAST(sum(c) AS BIGINT) AS t
           FROM counts GROUP BY 1),
vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM counts),
nd AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS nl
       FROM train GROUP BY 1),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM train),
model AS (
  SELECT label, tok,
         CAST(round(ln(CAST(c + 1 AS DOUBLE) / CAST(t + v AS DOUBLE))
                    * 1000000) AS BIGINT) AS w
  FROM counts JOIN totals USING (label) CROSS JOIN vocab),
classes AS (
  SELECT label,
         CAST(round(ln(CAST(1 AS DOUBLE) / CAST(t + v AS DOUBLE))
                    * 1000000) AS BIGINT) AS d,
         CAST(round(ln(CAST(nl AS DOUBLE) / CAST(n AS DOUBLE))
                    * 1000000) AS BIGINT) AS prior
  FROM totals JOIN nd USING (label) CROSS JOIN vocab CROSS JOIN nt),
stok AS (
  SELECT doc_id AS doc, lang AS label, u.tok
  FROM test, UNNEST({_TOKS}) AS u(tok) WHERE u.tok != ''),
cand AS (
  SELECT s.doc, s.label, c.label AS cls,
         c.prior + CAST(sum(coalesce(m.w, c.d)) AS BIGINT) AS score
  FROM stok s CROSS JOIN classes c
  LEFT JOIN model m ON m.label = c.label AND m.tok = s.tok
  GROUP BY s.doc, s.label, c.label, c.prior),
pred AS (
  SELECT doc, label, cls AS pred FROM (
    SELECT doc, label, cls, score,
           row_number() OVER (PARTITION BY doc
                              ORDER BY score DESC, cls) AS rn
    FROM cand) WHERE rn = 1)
"""

_NB01_ORACLE = f"""
WITH {_NB_CORE}
SELECT label AS true_lang, pred AS pred_lang,
       CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2 ORDER BY true_lang, pred_lang
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("documents")
    return docs


@register("naive_bayes_confusion", _NB01_ORACLE)
def q_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.nbayes import naive_bayes_confusion

    return naive_bayes_confusion(_docs(spark, sf_dir))


_NB02_ORACLE = f"""
WITH {_NB_CORE},
per_true AS (
  SELECT label AS cls, CAST(count(*) AS BIGINT) AS n_true,
         CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
           AS tp
  FROM pred GROUP BY 1),
per_pred AS (
  SELECT pred AS cls, CAST(count(*) AS BIGINT) AS n_pred
  FROM pred GROUP BY 1),
j AS (
  SELECT t.cls, t.n_true, coalesce(p.n_pred, 0) AS n_pred, t.tp
  FROM per_true t LEFT JOIN per_pred p ON p.cls = t.cls),
m AS (
  SELECT cls, n_true, n_pred, tp,
         CASE WHEN n_pred > 0
              THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0 END AS prec,
         CAST(tp AS DOUBLE) / n_true AS rec
  FROM j)
SELECT cls AS lang, n_true, CAST(n_pred AS BIGINT) AS n_pred, tp,
       round(prec, 6) + 0.0 AS precision,
       round(rec, 6) + 0.0 AS recall,
       round(CASE WHEN tp > 0
                  THEN 2.0 * prec * rec / (prec + rec)
                  ELSE 0.0 END, 6) + 0.0 AS f1
FROM m ORDER BY lang
"""


@register("naive_bayes_class_metrics", _NB02_ORACLE)
def q_nb_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.nbayes import naive_bayes_class_metrics

    return naive_bayes_class_metrics(_docs(spark, sf_dir))
