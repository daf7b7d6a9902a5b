"""Wave-52 driver queries: sampled Brandes betweenness (forward sigma
/ backward dependency accumulation, unrolled-CTE oracle), Adamic-Adar
link prediction, Dirichlet-smoothed query-likelihood retrieval, and
reciprocal-rank fusion of the BM25 + QL rankers.

Graph fixture: a quadratic-hash map of doc_id onto 50 residues
(doc_id % 7 = 0 subset) — 22 nodes, diameter 5, and shortest-path
counts sigma in {1, 2}, so every Brandes dependency term is a DYADIC
rational (1, 1/2): cross-engine double sums are exact regardless of
aggregation order, the same float-parity discipline as wave 50's
2^-10 embedding quantization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# a sparse organic graph: quadratic residue hashing keeps it free of
# the affine-map matchings that make the K20 fixture all-dist-1
_EDGES_SQL = ("SELECT (doc_id*doc_id*13 + doc_id*7) % 50 AS s, "
              "(doc_id*doc_id*29 + doc_id*3 + 1) % 50 AS d "
              "FROM documents WHERE doc_id % 7 = 0")

_SEEDS = (0, 13, 33)


# ---------------------------------------------------------------------------
# bl01 — sampled betweenness, 3 seeds, 5 hops.
# ---------------------------------------------------------------------------

def _bt_forward(max_hops: int) -> str:
    seeds_values = ", ".join(f"({s})" for s in _SEEDS)
    parts = [f"""
WITH raw AS ({_EDGES_SQL}),
sym AS MATERIALIZED (
  SELECT s AS a, d AS b FROM raw WHERE s <> d
  UNION SELECT d, s FROM raw WHERE s <> d
),
v0 AS MATERIALIZED (
  SELECT CAST(x AS BIGINT) AS seed, CAST(x AS BIGINT) AS node,
         0 AS dist, CAST(1 AS BIGINT) AS sig
  FROM (VALUES {seeds_values}) t(x)),
f0 AS (SELECT * FROM v0)"""]
    for j in range(1, max_hops + 1):
        parts.append(f""",
f{j} AS MATERIALIZED (
  SELECT f.seed, sym.b AS node, {j} AS dist, sum(f.sig) AS sig
  FROM f{j-1} f JOIN sym ON sym.a = f.node
  WHERE NOT EXISTS (SELECT 1 FROM v{j-1} v
                    WHERE v.seed = f.seed AND v.node = sym.b)
  GROUP BY f.seed, sym.b),
v{j} AS MATERIALIZED (SELECT * FROM v{j-1} UNION ALL SELECT * FROM f{j})""")
    return "".join(parts)


def _bt_backward(max_hops: int) -> str:
    parts = [f""",
lv AS (SELECT * FROM v{max_hops}),
d{max_hops - 1} AS MATERIALIZED (
  SELECT u.seed, u.node,
         sum((u.sig / w.sig) * (1.0 + 0.0)) AS delta
  FROM lv u JOIN sym ON sym.a = u.node
  JOIN lv w ON w.seed = u.seed AND w.node = sym.b
           AND w.dist = u.dist + 1
  WHERE u.dist = {max_hops - 1}
  GROUP BY u.seed, u.node)"""]
    for lvl in range(max_hops - 2, 0, -1):
        parts.append(f""",
d{lvl} AS MATERIALIZED (
  SELECT u.seed, u.node,
         sum((u.sig / w.sig) * (1.0 + coalesce(dn.delta, 0.0))) AS delta
  FROM lv u JOIN sym ON sym.a = u.node
  JOIN lv w ON w.seed = u.seed AND w.node = sym.b
           AND w.dist = u.dist + 1
  LEFT JOIN d{lvl + 1} dn ON dn.seed = w.seed AND dn.node = w.node
  WHERE u.dist = {lvl}
  GROUP BY u.seed, u.node)""")
    accs = " UNION ALL ".join(f"SELECT * FROM d{j}"
                              for j in range(1, max_hops))
    parts.append(f""",
acc AS ({accs}),
nn AS (SELECT CAST(count(DISTINCT x) AS DOUBLE) AS n
       FROM (SELECT s AS x FROM raw UNION ALL SELECT d FROM raw)),
kk AS (SELECT CAST({len(_SEEDS)} AS DOUBLE) AS k)""")
    return "".join(parts)


_BL01_ORACLE = (_bt_forward(5) + _bt_backward(5) + """
SELECT node, round(nn.n / kk.k * sum(delta) / 2, 6) AS betweenness
FROM acc, nn, kk GROUP BY node, nn.n, kk.k ORDER BY node
""")


@register("sampled_betweenness", _BL01_ORACLE)
def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import sampled_betweenness

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    raw = spark.sql(_EDGES_SQL)
    seeds = spark.createDataFrame([(s,) for s in _SEEDS], "node bigint")
    return sampled_betweenness(raw, seeds, src="s", dst="d",
                               max_hops=5).orderBy("node")


# ---------------------------------------------------------------------------
# bl02 — Adamic-Adar link prediction on the same graph.
# ---------------------------------------------------------------------------

_BL02_ORACLE = f"""
WITH raw AS ({_EDGES_SQL}),
sym AS MATERIALIZED (
  SELECT s AS a, d AS b FROM raw WHERE s <> d
  UNION SELECT d, s FROM raw WHERE s <> d
),
deg AS (SELECT a AS z, count(*) AS dz FROM sym GROUP BY a),
p AS (
  SELECT x.a AS u, y.a AS v, count(*) AS common,
         sum(1.0 / ln(deg.dz)) AS aa
  FROM sym x JOIN sym y ON x.b = y.b AND x.a < y.a
  JOIN deg ON deg.z = x.b
  GROUP BY x.a, y.a)
SELECT p.u, p.v, CAST(p.common AS BIGINT) AS common_neighbors,
       round(p.aa, 6) AS adamic_adar,
       (e.a IS NOT NULL) AS is_edge
FROM p LEFT JOIN sym e ON e.a = p.u AND e.b = p.v
ORDER BY p.u, p.v
"""


@register("adamic_adar_linkpred", _BL02_ORACLE)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import adamic_adar_pairs

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    raw = spark.sql(_EDGES_SQL)
    return adamic_adar_pairs(raw, src="s", dst="d")


# ---------------------------------------------------------------------------
# bl03 — Dirichlet query likelihood, same 3-term query as bm25_topk.
# ---------------------------------------------------------------------------

_QL_TERMS = ("hash", "spark", "table")

_BL03_ORACLE = r"""
WITH dl AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS DOUBLE) AS dl
  FROM documents
),
ct AS (SELECT sum(dl) AS ctot FROM dl),
tok AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM tok WHERE term IN ('hash', 'spark', 'table') GROUP BY 1, 2),
cf AS (SELECT term, CAST(sum(tf) AS DOUBLE) AS cf FROM tf GROUP BY term),
m AS (SELECT t.doc_id,
             sum(ln(1.0 + t.tf / (2000.0 * c.cf / ct.ctot))) AS m
      FROM tf t JOIN cf c ON c.term = t.term CROSS JOIN ct
      GROUP BY t.doc_id)
SELECT m.doc_id,
       round(m.m + 3.0 * ln(2000.0 / (dl.dl + 2000.0)), 6) AS score
FROM m JOIN dl ON dl.doc_id = m.doc_id
ORDER BY score DESC, m.doc_id
LIMIT 20
"""


@register("ql_dirichlet_topk", _BL03_ORACLE)
def q_ql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.search import ql_dirichlet_topk

    docs = _read(spark, sf_dir, "documents")
    return ql_dirichlet_topk(docs, list(_QL_TERMS), k=20, mu=2000.0)


# ---------------------------------------------------------------------------
# bl04 — RRF hybrid of the BM25 and QL rankers (same query).
# ---------------------------------------------------------------------------

_BL04_ORACLE = r"""
WITH dl AS (
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
       FROM qm)
SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
       CAST(ra.rank_a AS BIGINT) AS rank_a,
       CAST(rb.rank_b AS BIGINT) AS rank_b,
       round(coalesce(1.0 / (60.0 + ra.rank_a), 0.0)
             + coalesce(1.0 / (60.0 + rb.rank_b), 0.0), 6) AS rrf_score
FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT 20
"""


@register("rrf_fusion", _BL04_ORACLE)
def q_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.search import (bm25_topk, ql_dirichlet_topk,
                                             rrf_fuse)

    docs = _read(spark, sf_dir, "documents")
    a = bm25_topk(docs, list(_QL_TERMS), k=20)
    b = ql_dirichlet_topk(docs, list(_QL_TERMS), k=20, mu=2000.0)
    return rrf_fuse(a, b, c=60.0, k=20)
