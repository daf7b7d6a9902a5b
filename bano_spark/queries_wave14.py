"""Wave-14 driver queries: the language/quality layer of the
training-data pipeline (character-trigram language ID, mojibake
encoding-damage scoring, RAKE keyword extraction, stupid-backoff
trigram LM scoring) plus two spatial-analytics completions (global
Geary's C as the contrast companion to Moran's I, and the exact
discrete Frechet distance as the min-max-semiring counterpart to the
wave-11 DTW).

Reference anchors: language ID generalizes the reference's
per-language normalization dictionaries (bano/dictionnaires/*.txt);
Geary/Frechet extend the hex-cell and trajectory families already
anchored to the reference's commune tiling and street-geometry
rapprochement (bano/models.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.operators.langid import (LANG_TRIGRAM_PROFILES,
                                         profiles_values_sql)
from bano_spark.operators.webtext import mojibake_count_sql
from bano_spark.queries_wave5 import _v06_cells
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"


# ---------------------------------------------------------------------------
# y01 — character-trigram language ID. The multilingual corpus is
# synthesized deterministically (five fixed natural-language
# sentences, rotated per doc_id so every document differs); the
# classifier is the Cavnar-Trenkle profile method over a literal
# marker-trigram table shared verbatim by both engines. The test
# suite separately asserts pred == truth on every row (the profiles
# genuinely separate the five languages).
# ---------------------------------------------------------------------------

_LID_SENTS = {
    "en": ("the quick brown fox jumps over the lazy dog while the "
           "children are reading in the garden with their friends"),
    "fr": ("le petit chat dort dans la maison et les enfants jouent "
           "avec une belle histoire de la ville pres de la mer"),
    "de": ("der schnelle braune fuchs springt uber den faulen hund "
           "und die kinder lesen ein schones buch in der schule"),
    "es": ("el perro rapido salta sobre la valla y los ninos leen un "
           "libro en la escuela con sus amigos cerca del mar"),
    "it": ("il gatto dorme nella casa e i bambini leggono un libro "
           "nella scuola con gli amici vicino al mare della citta"),
}


def _lid_corpus_cte() -> str:
    langs = list(_LID_SENTS)
    lang_case = ("CASE doc_id % 5 "
                 + " ".join(f"WHEN {i} THEN '{lang}'"
                            for i, lang in enumerate(langs)) + " END")
    text_case = ("CASE doc_id % 5 " + " ".join(
        f"WHEN {i} THEN substr('{_LID_SENTS[lang]}', "
        f"1 + CAST(doc_id % 20 AS INT), 200) || ' ' || "
        f"substr('{_LID_SENTS[lang]}', 1, CAST(doc_id % 20 AS INT))"
        for i, lang in enumerate(langs)) + " END")
    return (f"lid_corpus AS (SELECT doc_id, {lang_case} AS true_lang, "
            f"{text_case} AS text FROM documents)")


_Y01_ORACLE = f"""
WITH {_lid_corpus_cte()},
prof(lang, tri) AS (VALUES {profiles_values_sql()}),
tris AS (
  SELECT doc_id, true_lang,
         unnest(list_transform(generate_series(1, length(text) - 2),
                               i -> substr(text, CAST(i AS INT), 3))) AS tri
  FROM lid_corpus
),
sc AS (
  SELECT doc_id, true_lang, lang, CAST(count(*) AS BIGINT) AS score
  FROM tris JOIN prof USING (tri) GROUP BY 1, 2, 3
),
rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, lang) AS r
       FROM sc)
SELECT doc_id, true_lang, lang AS pred_lang, score AS best_score
FROM rk WHERE r = 1 ORDER BY doc_id
"""


@register("langid_trigram", _Y01_ORACLE)
def y_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.langid import langid_trigram, profiles_df

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    corpus = spark.sql(
        "WITH " + _lid_corpus_cte() + " SELECT * FROM lid_corpus")
    pred = langid_trigram(corpus, profiles_df(spark))
    return (corpus.select("doc_id", "true_lang").join(pred, "doc_id")
            .select("doc_id", "true_lang", "pred_lang", "best_score")
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# y02 — mojibake scoring over a corpus with deterministically injected
# UTF-8-as-Latin-1 damage (every 7th doc's 'e' -> 'Ã©', every 11th
# residue-3 doc's 'a' -> 'â€™'). Counting is shared length/replace
# algebra (operators/webtext.mojibake_count_sql — one source of truth
# for both engines); the flag thresholds at 5 artifacts per 1000
# chars.
# ---------------------------------------------------------------------------

_MOJ_CORPUS = """
moj_corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN replace(text, 'e', 'Ã©')
              WHEN doc_id % 11 = 3 THEN replace(text, 'a', 'â€™')
              ELSE text END AS text
  FROM documents)"""

_Y02_ORACLE = f"""
WITH {_MOJ_CORPUS},
sc AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         {mojibake_count_sql('text')} AS n_bad
  FROM moj_corpus
)
SELECT doc_id, n_chars, n_bad,
       round(CAST(1000 AS DOUBLE) * n_bad / n_chars, 6) AS bad_per_kchar,
       (round(CAST(1000 AS DOUBLE) * n_bad / n_chars, 6)
        > CAST(5 AS DOUBLE)) AS mojibake_flag
FROM sc ORDER BY doc_id
"""


@register("mojibake_score", _Y02_ORACLE)
def y_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import mojibake_stats

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    corpus = spark.sql("WITH " + _MOJ_CORPUS + " SELECT * FROM moj_corpus")
    return mojibake_stats(corpus).orderBy("doc_id")


# ---------------------------------------------------------------------------
# y03 — RAKE keywords per document over the raw documents table (the
# English stopword list + the filler 'a' delimit candidate phrases).
# Scores are rounded to 6 in BOTH engines before the per-doc top-3
# rank, so ranking reads the same numbers.
# ---------------------------------------------------------------------------

_RAKE_STOPS = ["the", "of", "and", "to", "in", "is", "it", "that",
               "for", "was", "with", "a"]
_RAKE_IN = ", ".join(f"'{s}'" for s in _RAKE_STOPS)

_Y03_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS w,
         generate_subscripts({_TOKS}, 1) AS pos
  FROM documents
),
marked AS (SELECT *, (w IN ({_RAKE_IN}) OR w = '') AS is_stop FROM toks),
pidd AS (
  SELECT *, sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY pos) AS pid
  FROM marked
),
words AS (SELECT doc_id, pid, pos, w FROM pidd WHERE NOT is_stop),
plen AS (SELECT doc_id, pid, count(*) AS plen
         FROM words GROUP BY doc_id, pid),
occ AS (SELECT words.*, plen.plen
        FROM words JOIN plen USING (doc_id, pid)),
wstats AS (SELECT w, CAST(sum(plen) AS DOUBLE) / count(*) AS wscore
           FROM occ GROUP BY w),
scored AS (
  SELECT doc_id, pid, round(sum(wscore), 6) AS score,
         string_agg(w, ' ' ORDER BY pos) AS phrase
  FROM occ JOIN wstats USING (w) GROUP BY doc_id, pid
),
dedup AS (SELECT doc_id, phrase, max(score) AS score
          FROM scored GROUP BY doc_id, phrase),
rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, phrase) AS rnk
       FROM dedup)
SELECT doc_id, phrase, score, rnk
FROM rk WHERE rnk <= 3 ORDER BY doc_id, rnk
"""


@register("rake_keywords", _Y03_ORACLE)
def y_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import rake_keywords

    docs = _read(spark, sf_dir, "documents")
    return rake_keywords(docs, _RAKE_STOPS, k=3).orderBy("doc_id", "rnk")


# ---------------------------------------------------------------------------
# y04 — stupid-backoff trigram LM: train the count tables on the even
# documents, score the odd ones (per-doc avg -ln S). The backoff
# chain and the Laplace floor are restated verbatim in the oracle.
# ---------------------------------------------------------------------------

_Y04_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, doc_id % 2 = 0 AS is_tr, {_TOKS} AS t FROM documents
),
tri_tr AS (
  SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2,
         t[CAST(i AS INT) + 2] AS w3
  FROM (SELECT t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM tok WHERE is_tr AND len(t) >= 3)
),
c3 AS (SELECT w1, w2, w3, count(*) AS c123 FROM tri_tr GROUP BY 1, 2, 3),
c2ctx AS (SELECT w1, w2, count(*) AS c12 FROM tri_tr GROUP BY 1, 2),
bi_tr AS (
  SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM tok WHERE is_tr AND len(t) >= 2)
),
cb2 AS (SELECT w1 AS b1, w2 AS b2, count(*) AS c23 FROM bi_tr GROUP BY 1, 2),
cb1 AS (SELECT w1 AS u1, count(*) AS c2 FROM bi_tr GROUP BY 1),
uni AS (SELECT unnest(t) AS w FROM tok WHERE is_tr),
cu AS (SELECT w AS u3, count(*) AS c3u FROM uni GROUP BY 1),
nv AS (SELECT CAST(count(*) AS DOUBLE) AS n,
              CAST(count(DISTINCT w) AS DOUBLE) AS v FROM uni),
tri_te AS (
  SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2,
         t[CAST(i AS INT) + 2] AS w3
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM tok WHERE NOT is_tr AND len(t) >= 3)
),
j AS (
  SELECT tri_te.doc_id, c3.c123, c2ctx.c12, cb2.c23, cb1.c2, cu.c3u
  FROM tri_te
  LEFT JOIN c3 USING (w1, w2, w3)
  LEFT JOIN c2ctx USING (w1, w2)
  LEFT JOIN cb2 ON cb2.b1 = tri_te.w2 AND cb2.b2 = tri_te.w3
  LEFT JOIN cb1 ON cb1.u1 = tri_te.w2
  LEFT JOIN cu ON cu.u3 = tri_te.w3
),
s AS (
  SELECT doc_id,
         CASE WHEN c123 IS NOT NULL THEN CAST(c123 AS DOUBLE) / c12
              WHEN c23 IS NOT NULL
                THEN CAST(0.4 AS DOUBLE) * c23 / c2
              ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
                   * (coalesce(c3u, 0) + 1) / (nv.n + nv.v)
         END AS sv
  FROM j, nv
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri,
       round(avg(-ln(sv)), 6) AS avg_neg_logp
FROM s GROUP BY doc_id ORDER BY doc_id
"""


@register("trigram_backoff_lm", _Y04_ORACLE)
def y_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import stupid_backoff_score

    docs = _read(spark, sf_dir, "documents")
    return (stupid_backoff_score(docs, F.col("doc_id") % 2 == 0)
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# y05 — global Geary's C over the SAME 700 m hex-binned counts as
# moran_i_hex (wave-5 v06): the local-contrast statistic next to the
# global-covariance one. Oracle: the textbook neighbor self-join.
# ---------------------------------------------------------------------------

_Y05_ORACLE = f"""
WITH {_v06_cells('duckdb')},
st AS (SELECT count(*) AS n, sum(val) / count(*) AS m FROM cells),
prs AS (
  SELECT a.val AS xa, b.val AS xb
  FROM cells a JOIN cells b
    ON ((b.hq = a.hq + 1 AND b.hr = a.hr)
     OR (b.hq = a.hq - 1 AND b.hr = a.hr)
     OR (b.hq = a.hq AND b.hr = a.hr + 1)
     OR (b.hq = a.hq AND b.hr = a.hr - 1)
     OR (b.hq = a.hq + 1 AND b.hr = a.hr - 1)
     OR (b.hq = a.hq - 1 AND b.hr = a.hr + 1))
)
SELECT CAST((SELECT n FROM st) AS INT) AS n_cells,
       CAST(count(*) AS BIGINT) AS w_pairs,
       round(((SELECT n FROM st) - 1) * sum((xa - xb) * (xa - xb))
             / (CAST(2 AS DOUBLE) * count(*)
                * (SELECT sum((val - (SELECT m FROM st))
                              * (val - (SELECT m FROM st))) FROM cells)),
             6) AS geary_c
FROM prs
"""


@register("geary_c_hex", _Y05_ORACLE)
def y_geary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import geary_c_hex

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    cells = spark.sql("WITH " + _v06_cells("spark") + " SELECT * FROM cells")
    return geary_c_hex(cells, val_col="val")


# ---------------------------------------------------------------------------
# y06 — exact discrete Frechet distance between the SAME track pairs
# as dtw_track_pairs (wave-11), r = 8. The engine evaluates the whole
# r x r DP as ONE nested min-max fold (no driver loop); the oracle
# walks the matrix cell by cell in a DuckDB RECURSIVE CTE — two
# different evaluation shapes of the same recurrence, and because the
# result is a pure min/max selection over shared sqrt values, they
# agree to the exact double.
# ---------------------------------------------------------------------------

_FR_R = 8


def _y06_oracle() -> str:
    from bano_spark.operators.trajectory import frechet_recursive_sql

    t = synth.traj_select_sql("duckdb")
    head = f"""WITH RECURSIVE t AS ({t}),
tr AS (SELECT user_id, seq, x, y FROM t WHERE seq <= {_FR_R}),
fl AS (SELECT user_id FROM tr GROUP BY user_id
       HAVING count(*) = {_FR_R}),
tf AS (SELECT tr.* FROM tr JOIN fl USING (user_id)),
prs AS (SELECT a.user_id AS id_a, a.user_id + 1 AS id_b
        FROM fl a JOIN fl b ON b.user_id = a.user_id + 1
        WHERE a.user_id % 2 = 0),
cost AS (
  SELECT prs.id_a, prs.id_b, a.seq AS i, b.seq AS j,
         sqrt((a.x - b.x) * (a.x - b.x)
              + (a.y - b.y) * (a.y - b.y)) AS c
  FROM prs JOIN tf a ON a.user_id = prs.id_a
           JOIN tf b ON b.user_id = prs.id_b
),"""
    body = frechet_recursive_sql("cost", _FR_R)
    return (head + body.lstrip()
            + """
SELECT id_a, id_b, round(frechet, 6) AS frechet
FROM fr_out ORDER BY id_a""")


@register("frechet_track_pairs", _y06_oracle())
def y_frechet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.trajectory import frechet_pairs

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    traj = spark.sql(synth.traj_select_sql("spark"))
    users = traj.select("user_id").distinct()
    pairs = (users.filter(F.col("user_id") % 2 == 0)
             .select(F.col("user_id").alias("id_a"),
                     (F.col("user_id") + 1).alias("id_b"))
             .join(users.select(F.col("user_id").alias("id_b")), "id_b")
             .select("id_a", "id_b"))
    out = frechet_pairs(traj, pairs, _FR_R)
    return (out.select("id_a", "id_b",
                       F.round("frechet", 6).alias("frechet"))
            .orderBy("id_a"))
