"""Wave-54 driver queries: WGS84 Vincenty inverse geodesic vs the
spherical haversine (the ellipsoid-accuracy audit), rank-biased
overlap of the BM25 and QL rankers, and pairwise tf-idf cosine
similarity between sources.

Float parity: the Vincenty stages are F.expr strings evaluated
VERBATIM by both engines (geodesy.vincenty_stages — chained column
stages, linear text); the oracle applies the same stage expressions
as chained subselects. Coordinates ride the wave-53 200 m grid so no
leg sits in a cancellation regime, and distances round to cm."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.operators.geodesy import vincenty_stages
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# bn01 — Vincenty vs haversine, per user first -> last grid point.
# ---------------------------------------------------------------------------

_HAV_EXPR = ("2.0 * 6371000.0 * asin(sqrt("
             "sin((phi2 - phi1) / 2) * sin((phi2 - phi1) / 2)"
             " + cos(phi1) * cos(phi2)"
             " * sin((lam2 - lam1) / 2) * sin((lam2 - lam1) / 2)))")


def _vincenty_oracle() -> str:
    core = "SELECT user_id, phi1, lam1, phi2, lam2 FROM base"
    for name, expr in vincenty_stages("phi1", "lam1", "phi2", "lam2"):
        core = f"SELECT *, {expr} AS {name} FROM ({core})"
    return f"""
WITH tr AS ({synth.traj_select_sql('duckdb')}),
pt AS (SELECT user_id, ts, event_id,
              radians(floor(y / 200) * 0.002 + 20.0) AS phi,
              radians(floor(x / 200) * 0.002 - 5.0) AS lam
       FROM tr),
fst AS (SELECT user_id, phi, lam FROM (
  SELECT user_id, phi, lam,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM pt) WHERE rn = 1),
lst AS (SELECT user_id, phi, lam FROM (
  SELECT user_id, phi, lam,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM pt) WHERE rn = 1),
base AS (SELECT fst.user_id, fst.phi AS phi1, fst.lam AS lam1,
                lst.phi AS phi2, lst.lam AS lam2
         FROM fst JOIN lst ON lst.user_id = fst.user_id),
vc AS ({core})
SELECT user_id, round(_vdist, 2) AS vincenty_m,
       round({_HAV_EXPR}, 2) AS haversine_m,
       round(_vdist - {_HAV_EXPR}, 2) AS delta_m
FROM vc ORDER BY user_id
"""


@register("vincenty_vs_haversine", _vincenty_oracle())
def q_vincenty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.geodesy import vincenty_vs_haversine

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    traj = spark.sql(synth.traj_select_sql("spark"))
    pts = traj.select(
        "user_id", "ts", "event_id",
        (F.floor(F.col("x") / 200) * 0.002 - 5.0).alias("lon"),
        (F.floor(F.col("y") / 200) * 0.002 + 20.0).alias("lat"))
    return vincenty_vs_haversine(pts, order_cols=["ts", "event_id"],
                                 round_to=2)


# ---------------------------------------------------------------------------
# bn02 — rank-biased overlap of the BM25 and QL top-20 lists.
# ---------------------------------------------------------------------------

_RANKED_CTES = r"""dl AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS DOUBLE) AS dl
  FROM documents
),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
ct AS (SELECT sum(dl) AS ctot FROM dl),
tok AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM tok WHERE term IN ('hash', 'spark', 'table') GROUP BY 1, 2),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
bm AS (
  SELECT t.doc_id,
         round(sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * t.tf * 2.2
                   / (t.tf + 1.2 * (1.0 - 0.75
                                    + 0.75 * dl.dl / s.avgdl))),
               6) AS score
  FROM tf t
  JOIN dfs d ON d.term = t.term
  JOIN dl ON dl.doc_id = t.doc_id
  CROSS JOIN stats s
  GROUP BY t.doc_id
  ORDER BY score DESC, t.doc_id
  LIMIT 20
),
ra AS (SELECT doc_id,
              row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a
       FROM bm),
cf AS (SELECT term, CAST(sum(tf) AS DOUBLE) AS cf FROM tf GROUP BY term),
mm AS (SELECT t.doc_id,
              sum(ln(1.0 + t.tf / (2000.0 * c.cf / ct.ctot))) AS m
       FROM tf t JOIN cf c ON c.term = t.term CROSS JOIN ct
       GROUP BY t.doc_id),
qm AS (
  SELECT mm.doc_id,
         round(mm.m + 3.0 * ln(2000.0 / (dl.dl + 2000.0)), 6) AS score
  FROM mm JOIN dl ON dl.doc_id = mm.doc_id
  ORDER BY score DESC, mm.doc_id
  LIMIT 20
),
rb AS (SELECT doc_id,
              row_number() OVER (ORDER BY score DESC, doc_id) AS rank_b
       FROM qm)"""

_BN02_ORACLE = f"""
WITH {_RANKED_CTES},
pr AS (SELECT greatest(ra.rank_a, rb.rank_b) AS m
       FROM ra JOIN rb ON ra.doc_id = rb.doc_id),
dep AS (SELECT unnest(generate_series(1, 20)) AS d),
xd AS (SELECT dep.d, CAST(count(pr.m) AS DOUBLE) AS x
       FROM dep LEFT JOIN pr ON pr.m <= dep.d GROUP BY dep.d),
ag AS (SELECT sum((x / d) * power(0.9, d)) AS s,
              max(CASE WHEN d = 20 THEN x END) AS xk
       FROM xd)
SELECT CAST(20 AS BIGINT) AS k, CAST(xk AS BIGINT) AS overlap_k,
       round((xk / 20) * power(0.9, 20)
             + (1.0 - 0.9) / 0.9 * s, 6) AS rbo_ext
FROM ag
"""


@register("rbo_rankers", _BN02_ORACLE)
def q_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.search import (bm25_topk, ql_dirichlet_topk,
                                             rank_biased_overlap)

    docs = _read(spark, sf_dir, "documents")
    a = bm25_topk(docs, ["hash", "spark", "table"], k=20)
    b = ql_dirichlet_topk(docs, ["hash", "spark", "table"], k=20,
                          mu=2000.0)
    return rank_biased_overlap(a, b, k=20, p=0.9)


# ---------------------------------------------------------------------------
# bn03 — pairwise tf-idf cosine between sources.
# ---------------------------------------------------------------------------

_BN03_ORACLE = r"""
WITH d AS (SELECT source AS s,
                  string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents),
bi AS (SELECT s, t[i] || ' ' || t[i + 1] AS f
       FROM (SELECT s, t, unnest(generate_series(1, len(t) - 1)) AS i
             FROM d WHERE len(t) >= 2)),
tok AS (SELECT s, f AS t, count(*) AS tf FROM bi GROUP BY 1, 2),
dfs AS (SELECT t, count(*) AS df FROM tok GROUP BY t),
nsv AS (SELECT CAST(count(DISTINCT s) AS DOUBLE) AS ns FROM tok),
w AS (SELECT tok.s, tok.t, tok.tf * ln(nsv.ns / dfs.df) AS w
      FROM tok JOIN dfs ON dfs.t = tok.t CROSS JOIN nsv),
norms AS (SELECT s, sqrt(sum(w * w)) AS n FROM w GROUP BY s),
dots AS (SELECT wa.s AS sa, wb.s AS sb, count(*) AS c,
                sum(wa.w * wb.w) AS dot
         FROM w wa JOIN w wb ON wa.t = wb.t AND wa.s < wb.s
         GROUP BY 1, 2)
SELECT sa AS src_a, sb AS src_b, CAST(c AS BIGINT) AS n_common_terms,
       round(dot / nullif(na.n * nb.n, 0.0), 6) AS cosine
FROM dots
JOIN norms na ON na.s = dots.sa
JOIN norms nb ON nb.s = dots.sb
ORDER BY src_a, src_b
"""


@register("source_tfidf_cosine", _BN03_ORACLE)
def q_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import source_tfidf_cosine

    return source_tfidf_cosine(_read(spark, sf_dir, "documents"),
                               bigrams=True)
