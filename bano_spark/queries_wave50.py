"""Wave-50 driver queries: sampled graph centrality (Eppstein-Wang
harmonic estimator + ANF-style effective diameter on per-seed BFS
levels), diagonal-Mahalanobis embedding outlier scores, and
Jensen-Shannon divergence between source unigram distributions (the
symmetric always-finite sibling of source_kl_divergence).

Float-parity note: the Mahalanobis fixture quantizes embedding floats
to multiples of 2^-10 (floor(x*1024)/1024) in BOTH dialects, so the
per-dimension moment sums are exact binary rationals and every
downstream double op is bit-identical across engines — the same
quantization discipline as the JL-distortion audit's index-order
folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


def _edges_sql(dialect: str) -> str:
    """The wave-4 co-citation graph fixture (doc_id % 20 hosts)."""
    d = " div " if dialect == "spark" else " // "
    return (f"SELECT doc_id % 20 AS s, (doc_id{d}20) % 20 AS d "
            f"FROM documents")


_SEEDS = (0, 7, 13)


def _bfs_cte(max_hops: int) -> str:
    """Unrolled per-seed BFS levels (min-dist per (seed, node))."""
    seeds_values = ", ".join(f"({s})" for s in _SEEDS)
    parts = [f"""
WITH raw AS ({_edges_sql('duckdb')}),
sym AS MATERIALIZED (
  SELECT s AS a, d AS b FROM raw WHERE s <> d
  UNION SELECT d, s FROM raw WHERE s <> d
),
r0 AS MATERIALIZED (SELECT CAST(x AS BIGINT) AS seed, CAST(x AS BIGINT) AS node,
              0 AS dist
       FROM (VALUES {seeds_values}) t(x))"""]
    for k in range(1, max_hops + 1):
        parts.append(f""",
r{k} AS MATERIALIZED (
  SELECT seed, node, min(dist) AS dist FROM (
    SELECT seed, node, dist FROM r{k-1}
    UNION ALL
    SELECT r.seed, sym.b AS node, r.dist + 1 AS dist
    FROM r{k-1} r JOIN sym ON sym.a = r.node
  ) u GROUP BY seed, node)""")
    return "".join(parts)


# ---------------------------------------------------------------------------
# bj01 — sampled harmonic centrality from 3 seeds, 5 hops.
# ---------------------------------------------------------------------------

_BJ01_ORACLE = _bfs_cte(5) + """,
n AS (SELECT count(DISTINCT x) AS n FROM
      (SELECT s AS x FROM raw UNION ALL SELECT d FROM raw))
SELECT node, CAST(count(*) AS BIGINT) AS n_seeds_reaching,
       round((n.n / 3.0) * sum(1.0 / dist) / (n.n - 1), 6)
         AS harmonic_centrality
FROM r5, n WHERE dist > 0 GROUP BY node, n.n ORDER BY node
"""


@register("sampled_harmonic_centrality", _BJ01_ORACLE)
def q_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import sampled_harmonic_centrality

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    raw = spark.sql(_edges_sql("spark"))
    seeds = spark.createDataFrame([(s,) for s in _SEEDS], "node bigint")
    return sampled_harmonic_centrality(
        raw, seeds, src="s", dst="d", max_hops=5).orderBy("node")


# ---------------------------------------------------------------------------
# bj02 — sampled effective diameter (90th percentile of reachable
# (seed, node) distances), 10 hops.
# ---------------------------------------------------------------------------

_BJ02_ORACLE = _bfs_cte(10) + """,
h AS (SELECT dist, count(*) AS c FROM r10 WHERE dist > 0 GROUP BY dist),
t AS (SELECT sum(c) AS t FROM h),
cm AS (SELECT h1.dist, sum(h2.c) AS cum
       FROM h h1 JOIN h h2 ON h2.dist <= h1.dist GROUP BY h1.dist)
SELECT CAST(t.t AS BIGINT) AS n_pairs,
       CAST(min(cm.dist) AS BIGINT) AS effective_diameter
FROM cm, t WHERE cm.cum >= 0.9 * t.t GROUP BY t.t
"""


@register("effective_diameter_sampled", _BJ02_ORACLE)
def q_effdiam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import effective_diameter_sampled

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    raw = spark.sql(_edges_sql("spark"))
    seeds = spark.createDataFrame([(s,) for s in _SEEDS], "node bigint")
    return effective_diameter_sampled(
        raw, seeds, src="s", dst="d", max_hops=10, quantile=0.9)


# ---------------------------------------------------------------------------
# bj03 — diagonal-Mahalanobis outlier scores over the (quantized)
# embeddings.
# ---------------------------------------------------------------------------

_BJ03_ORACLE = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             v -> floor(CAST(v AS DOUBLE) * 1024) / 1024.0) AS emb
  FROM embeddings
),
e AS (
  SELECT vec_id, u.i AS d, emb[u.i] AS x
  FROM q, UNNEST(generate_series(1, len(emb))) AS u(i)
),
st AS (SELECT d, count(*) * 1.0 AS n, sum(x) AS s, sum(x * x) AS ss
       FROM e GROUP BY d),
sv AS (SELECT d, s / n AS mu, ss / n - (s / n) * (s / n) AS var
       FROM st)
SELECT e.vec_id, CAST(count(*) AS BIGINT) AS dims,
       round(sum(CASE WHEN sv.var > 0
                 THEN (e.x - sv.mu) * (e.x - sv.mu) / sv.var
                 ELSE 0.0 END), 6) AS maha_score
FROM e JOIN sv ON sv.d = e.d GROUP BY e.vec_id ORDER BY e.vec_id
"""


@register("mahalanobis_diag_scores", _BJ03_ORACLE)
def q_maha(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.linalg import mahalanobis_diag_scores

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(v.cast("double") * 1024) / 1024.0)
        .alias("embedding"))
    return mahalanobis_diag_scores(emb).orderBy("vec_id")


# ---------------------------------------------------------------------------
# bj04 — Jensen-Shannon divergence between src0 and src1 unigrams.
# ---------------------------------------------------------------------------

_BJ04_ORACLE = """
WITH ta AS (
  SELECT u.tok, count(*) AS ca
  FROM (SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE source = 'src0'), UNNEST(t) AS u(tok)
  GROUP BY 1
),
tb AS (
  SELECT u.tok, count(*) AS cb
  FROM (SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE source = 'src1'), UNNEST(t) AS u(tok)
  GROUP BY 1
),
na AS (SELECT sum(ca) AS na FROM ta),
nb AS (SELECT sum(cb) AS nb FROM tb),
j AS (
  SELECT coalesce(ta.ca, 0) AS ca, coalesce(tb.cb, 0) AS cb
  FROM ta FULL OUTER JOIN tb ON ta.tok = tb.tok
)
SELECT CAST(na.na AS BIGINT) AS n_tokens_a,
       CAST(nb.nb AS BIGINT) AS n_tokens_b,
       CAST(count(*) AS BIGINT) AS vocab_union,
       round(sum(
         CASE WHEN ca > 0 THEN 0.5 * (ca / (na.na * 1.0))
              * log2((ca / (na.na * 1.0))
                     / (((ca / (na.na * 1.0))
                         + (cb / (nb.nb * 1.0))) / 2))
              ELSE 0.0 END
         + CASE WHEN cb > 0 THEN 0.5 * (cb / (nb.nb * 1.0))
              * log2((cb / (nb.nb * 1.0))
                     / (((ca / (na.na * 1.0))
                         + (cb / (nb.nb * 1.0))) / 2))
              ELSE 0.0 END), 6) AS js_divergence
FROM j, na, nb GROUP BY na.na, nb.nb
"""


@register("js_divergence_sources", _BJ04_ORACLE)
def q_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import js_divergence_sources

    return js_divergence_sources(_read(spark, sf_dir, "documents"),
                                 "src0", "src1")
