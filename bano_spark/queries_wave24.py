"""Wave-24 driver queries: closest-facility network allocation
(multi-source labelled Bellman-Ford — the network-Voronoi partition),
sliding-window distinct counts from merged HLL sketches (the
mergeability payoff over time buckets), Burrows' Delta stylometric
distances between sources, first/last-touch conversion attribution,
and pseudo-relevance-feedback query expansion (RM1-lite over BM25
feedback docs).

Reference anchors: closest-facility extends sssp_weighted /
nearest_site_join to allocation ALONG the network; HLL sliding
extends the sketch family across windows; Delta and PRF extend the
textstats and retrieval families; attribution joins event_funnel /
retention in the event-flow warehouse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.sketches import hll_oracle_cte
from bano_spark.queries_wave4 import _W134_EDGES
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# aj01 — closest facility over the wave-4 weighted lattice, seeds
# {0, 7, 19} labelled by themselves. Oracle: the unrolled labelled
# Bellman-Ford (per-node arg-min by (dist, lbl) each round — the
# same lexicographic rule as the engine's struct-min).
# ---------------------------------------------------------------------------

_CF_SEEDS = [0, 7, 19]


def _aj01_oracle(rounds: int = 12) -> str:
    seed_vals = ", ".join(f"({s}, {s})" for s in _CF_SEEDS)
    parts = [f"WITH {_W134_EDGES},", f"""
sym AS MATERIALIZED (
  SELECT a, b, min(w) AS w FROM (
    SELECT u AS a, v AS b, w FROM e WHERE u != v
    UNION ALL SELECT v, u, w FROM e WHERE u != v)
  GROUP BY a, b),
d0 AS (SELECT CAST(node AS BIGINT) AS node, CAST(0.0 AS DOUBLE) AS dist,
              CAST(lbl AS BIGINT) AS lbl
       FROM (VALUES {seed_vals}) s(node, lbl))"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
d{i} AS MATERIALIZED (
  SELECT node, dist, lbl FROM (
    SELECT node, dist, lbl,
           row_number() OVER (PARTITION BY node
                              ORDER BY dist, lbl) AS r
    FROM (SELECT node, dist, lbl FROM d{i - 1}
          UNION ALL
          SELECT s.b, d.dist + s.w, d.lbl
          FROM sym s JOIN d{i - 1} d ON d.node = s.a))
  WHERE r = 1)""")
    parts.append(f"""
SELECT node, round(dist, 6) AS dist, lbl AS facility
FROM d{rounds} ORDER BY node""")
    return "".join(parts)


@register("closest_facility", _aj01_oracle())
def aj_closest_facility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import multi_source_sssp

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    edges = spark.sql("WITH " + _W134_EDGES + " SELECT * FROM e")
    seeds = spark.createDataFrame([(s, s) for s in _CF_SEEDS],
                                  "node long, lbl long")
    out = multi_source_sssp(edges, seeds, src="u", dst="v", weight="w")
    return (out.select("node", F.round("dist", 6).alias("dist"),
                       F.col("lbl").alias("facility"))
            .orderBy("node"))


# ---------------------------------------------------------------------------
# aj02 — sliding 3-day distinct users from merged daily HLL sketches
# (p=6): the union of sketches IS the sketch of the union, so a
# rolling-uniques series needs register maxes, never a raw rescan.
# Oracle: the shared hll_oracle_cte over the target-bucket range
# join the merge algebra is equivalent to.
# ---------------------------------------------------------------------------

_HS_P = 6
_HS_W = 3

_AJ02_ORACLE = f"""
WITH days AS (
  SELECT DISTINCT CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS d
  FROM events
),
span AS (
  SELECT t.d AS grp, e.user_id,
         CAST(floor(epoch(e.ts) / 86400.0) AS BIGINT) AS b
  FROM days t JOIN events e
    ON CAST(floor(epoch(e.ts) / 86400.0) AS BIGINT)
       BETWEEN t.d - {_HS_W - 1} AND t.d
),
nb AS (SELECT grp, CAST(count(DISTINCT b) AS BIGINT) AS n_buckets
       FROM span GROUP BY grp),
{hll_oracle_cte("SELECT grp, user_id FROM span", "grp", "user_id",
                _HS_P).lstrip()}
SELECT hll_out.grp AS day, nb.n_buckets,
       round(hll_out.hll_estimate, 6) AS estimate
FROM hll_out JOIN nb ON nb.grp = hll_out.grp
ORDER BY day
"""


@register("hll_sliding_uniques", _AJ02_ORACLE)
def aj_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.sketches import hll_sketch, hll_sliding_merge

    ev = _read(spark, sf_dir, "events")
    t = F.col("ts").cast("timestamp_ntz")
    epoch = (F.datediff(F.to_date(t), F.lit("1970-01-01")).cast("long")
             * 86400 + F.hour(t) * 3600 + F.minute(t) * 60 + F.second(t))
    day = F.floor(epoch / 86400.0)
    sk = hll_sketch(ev.withColumn("_day", day), "_day", "user_id",
                    p=_HS_P)
    out = hll_sliding_merge(sk, "_day", _HS_P, _HS_W, round_to=6)
    return (out.select(F.col("_day").alias("day"), "n_buckets",
                       "estimate")
            .orderBy("day"))


# ---------------------------------------------------------------------------
# aj03 — Burrows' Delta between document sources over the top-20
# corpus words: z-scored relative frequencies, mean absolute
# difference per source pair. The oracle replays the dense
# slice x vocab grid (absent words are 0-frequency, not absent).
# ---------------------------------------------------------------------------

_SD_TOPN = 20

_AJ03_ORACLE = rf"""
WITH tok AS (
  SELECT source AS g,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
),
tok2 AS (SELECT g, w FROM tok WHERE w <> ''),
totals AS (SELECT g, CAST(count(*) AS BIGINT) AS tot FROM tok2 GROUP BY g),
gw AS (SELECT g, w, CAST(count(*) AS BIGINT) AS c FROM tok2 GROUP BY g, w),
vocab AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY sum(c) DESC, w) AS r
    FROM gw GROUP BY w) v
  WHERE r <= {_SD_TOPN}
),
grid AS (
  SELECT t.g, v.w, coalesce(gw.c, 0) / CAST(t.tot AS DOUBLE) AS f
  FROM totals t CROSS JOIN vocab v
  LEFT JOIN gw ON gw.g = t.g AND gw.w = v.w
),
ng AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM totals),
mom AS (SELECT w, sum(f) AS sf, sum(f * f) AS sff FROM grid GROUP BY w),
z AS (
  SELECT grid.g, grid.w,
         (grid.f - mom.sf / ng.n)
           / sqrt(mom.sff / ng.n - (mom.sf / ng.n) * (mom.sf / ng.n))
           AS z
  FROM grid JOIN mom USING (w) CROSS JOIN ng
  WHERE mom.sff / ng.n - (mom.sf / ng.n) * (mom.sf / ng.n) > 0
)
SELECT a.g AS g1, b.g AS g2, CAST(count(*) AS BIGINT) AS n_words,
       round(avg(abs(a.z - b.z)), 6) AS delta
FROM z a JOIN z b ON b.w = a.w AND a.g < b.g
GROUP BY a.g, b.g ORDER BY g1, g2
"""


@register("stylometric_delta", _AJ03_ORACLE)
def aj_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import stylometric_delta

    docs = _read(spark, sf_dir, "documents")
    return (stylometric_delta(docs, "source", top_n=_SD_TOPN)
            .orderBy("g1", "g2"))


# ---------------------------------------------------------------------------
# aj04 — first/last-touch attribution for 'purchase' conversions
# with a 2-hour lookback: the touch is the lexicographically
# (epoch, event_id) first/last OTHER event of the user inside the
# window. Oracle: arg_min/arg_max over the same RANGE frame with the
# composite integer key (epoch * 2^20 + event_id — exact for any
# event_id < 1,048,576, which holds at every test sf).
# ---------------------------------------------------------------------------

_AT_LOOKBACK = 7200

_AJ04_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, event_id,
         CAST(epoch(CAST(ts AS DATE)) + hour(ts) * 3600
              + minute(ts) * 60
              + CAST(date_part('second', ts) AS BIGINT) AS BIGINT) AS ep
  FROM events
),
tagged AS (
  SELECT user_id, event_type, event_id, ep,
         arg_min(event_type, ep * 1048576 + event_id)
           OVER (PARTITION BY user_id ORDER BY ep
                 RANGE BETWEEN {_AT_LOOKBACK} PRECEDING
                 AND 1 PRECEDING) AS first_ty,
         arg_max(event_type, ep * 1048576 + event_id)
           OVER (PARTITION BY user_id ORDER BY ep
                 RANGE BETWEEN {_AT_LOOKBACK} PRECEDING
                 AND 1 PRECEDING) AS last_ty
  FROM e
),
conv AS (SELECT * FROM tagged
         WHERE event_type = 'purchase' AND first_ty IS NOT NULL)
SELECT model, touch_type, CAST(count(*) AS BIGINT) AS n_conversions
FROM (
  SELECT 'first_touch' AS model, first_ty AS touch_type FROM conv
  UNION ALL
  SELECT 'last_touch', last_ty FROM conv
)
GROUP BY model, touch_type ORDER BY model, touch_type
"""


@register("attribution_touchpoints", _AJ04_ORACLE)
def aj_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.eventflow import attribution_touches

    ev = _read(spark, sf_dir, "events")
    return (attribution_touches(ev, "purchase", _AT_LOOKBACK)
            .orderBy("model", "touch_type"))


# ---------------------------------------------------------------------------
# aj05 — PRF query expansion for the bm25_topk query terms: top-10
# BM25 feedback docs -> expansion terms by fb_tf x ln((N+1)/(df+1)),
# query terms excluded, 8 best. Oracle: the bm25 CTE inlined +
# the expansion rollup.
# ---------------------------------------------------------------------------

_PRF_TERMS = ["hash", "spark", "table"]
_PRF_FB = 10
_PRF_N = 8

_AJ05_ORACLE = rf"""
WITH dl AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS DOUBLE) AS dl
  FROM documents
),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
tok AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
  FROM documents
),
qtf AS (SELECT doc_id, term, count(*) AS tf
        FROM tok WHERE term IN ('hash', 'spark', 'table') GROUP BY 1, 2),
qdfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM qtf GROUP BY term),
fb AS (
  SELECT t.doc_id,
         round(sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * t.tf * 2.2
                   / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))),
               6) AS score
  FROM qtf t
  JOIN qdfs d ON d.term = t.term
  JOIN dl ON dl.doc_id = t.doc_id
  CROSS JOIN stats s
  GROUP BY t.doc_id
  ORDER BY score DESC, t.doc_id
  LIMIT {_PRF_FB}
),
tok2 AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
tok3 AS (SELECT doc_id, term FROM tok2 WHERE term <> ''),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM (SELECT DISTINCT doc_id, term FROM tok3) GROUP BY term),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
fbtf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS fb_tf
  FROM tok3 JOIN fb USING (doc_id)
  WHERE term NOT IN ('hash', 'spark', 'table')
  GROUP BY term
)
SELECT term, fb_tf, dfs.df,
       round(fb_tf * ln((nd.n + 1.0) / (dfs.df + 1.0)), 6) AS score
FROM fbtf JOIN dfs USING (term) CROSS JOIN nd
ORDER BY score DESC, term
LIMIT {_PRF_N}
"""


@register("prf_query_expansion", _AJ05_ORACLE)
def aj_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.search import prf_expand

    docs = _read(spark, sf_dir, "documents")
    return prf_expand(docs, _PRF_TERMS, fb_docs=_PRF_FB,
                      expand_n=_PRF_N)
