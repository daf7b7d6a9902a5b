"""Wave-56 driver query: two-component 1-D Gaussian mixture fitted by
EM over the quarter-quantized event values — the density-model twin of
kmeans_assign, checked by an unrolled 3-iteration SQL oracle.

Float parity (the kmeans quantized-iteration discipline): x is dyadic
(floor(value*4)/4) and responsibilities floor to multiples of 2^-14,
so every weighted moment is an exact double sum regardless of
aggregation order (worst-case sum magnitude ~5e8 at sf0.1 against the
2^35 exactness bound); libm exp enters only before the flooring, where
a 1-ulp cross-engine difference flips a floor with ~1e-10/row odds."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


def _gmm_oracle(iters: int) -> str:
    parts = ["""
WITH b AS (SELECT floor(value * 4) / 4 AS x
           FROM events WHERE value IS NOT NULL),
i0 AS (SELECT count(*) AS n, min(x) AS mn, max(x) AS mx,
              sum(x) AS S, sum(x * x) AS Q FROM b),
p0 AS (SELECT 0.5 AS w1, mn AS mu1,
              greatest(Q / n - (S / n) * (S / n), 0.000001) AS v1,
              0.5 AS w2, mx AS mu2,
              greatest(Q / n - (S / n) * (S / n), 0.000001) AS v2,
              n FROM i0)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
e{i} AS (SELECT x,
  floor((CASE WHEN p1 + p2 = 0.0 THEN 0.5
         ELSE p1 / (p1 + p2) END) * 16384.0) / 16384.0 AS r
  FROM (SELECT b.x,
          p.w1 * exp(-(b.x - p.mu1) * (b.x - p.mu1)
                     / (2.0 * p.v1)) / sqrt(p.v1) AS p1,
          p.w2 * exp(-(b.x - p.mu2) * (b.x - p.mu2)
                     / (2.0 * p.v2)) / sqrt(p.v2) AS p2
        FROM b, p{i - 1} p)),
a{i} AS (SELECT sum(r) AS n1, sum(r * x) AS sx1,
                sum(r * x * x) AS sxx1,
                sum(1.0 - r) AS n2, sum((1.0 - r) * x) AS sx2,
                sum((1.0 - r) * x * x) AS sxx2 FROM e{i}),
p{i} AS (SELECT a.n1 / p.n AS w1,
                CASE WHEN a.n1 = 0.0 THEN p.mu1
                     ELSE a.sx1 / a.n1 END AS mu1,
                greatest(CASE WHEN a.n1 = 0.0 THEN p.v1
                         ELSE a.sxx1 / a.n1
                              - (a.sx1 / a.n1) * (a.sx1 / a.n1) END,
                         0.000001) AS v1,
                a.n2 / p.n AS w2,
                CASE WHEN a.n2 = 0.0 THEN p.mu2
                     ELSE a.sx2 / a.n2 END AS mu2,
                greatest(CASE WHEN a.n2 = 0.0 THEN p.v2
                         ELSE a.sxx2 / a.n2
                              - (a.sx2 / a.n2) * (a.sx2 / a.n2) END,
                         0.000001) AS v2,
                p.n FROM a{i} a, p{i - 1} p)""")
    parts.append(f"""
SELECT CAST(1 AS BIGINT) AS component, round(w1, 6) AS weight,
       round(mu1, 6) AS mu, round(sqrt(v1), 6) AS sigma FROM p{iters}
UNION ALL
SELECT CAST(2 AS BIGINT), round(w2, 6), round(mu2, 6),
       round(sqrt(v2), 6) FROM p{iters}
ORDER BY component""")
    return "".join(parts)


@register("gmm_em_event_values", _gmm_oracle(3))
def q_gmm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.clustering import gmm_em_1d

    ev = (_read(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select((F.floor(F.col("value") * 4) / 4).alias("x")))
    return gmm_em_1d(ev, "x", iters=3)
