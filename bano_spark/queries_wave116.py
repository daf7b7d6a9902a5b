"""Wave-116 driver queries: extreme-value tail analytics
(operators/evt.py) over integer-dollar order totals per
o_orderpriority.

  * Hill tail index over the top-50 order statistics (ordered-fold
    log-ratio sum, round-6),
  * GPD peaks-over-threshold method-of-moments fit (exact integer
    excess sums; xi/sigma bit-exact unrounded),
  * return levels at T = 100 / 10000 observations (pow -> round-6),
    plus the exceedance-probability inputs.

Ref parity: POT thresholding is the keyed-order-statistic shape of
postal_smallest_polygon; complements gumbel_block_maxima (wave 66)
with the threshold view of the same tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.evt import gpd_mom, hill_topk
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_VALS_SQL = """
vals AS (
  SELECT o_orderkey AS k, o_orderpriority AS grp,
         CAST(floor(o_totalprice) AS BIGINT) AS v
  FROM orders)
"""


def _vals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (spark.read.parquet(f"{sf_dir}/orders.parquet")
            .select(F.col("o_orderkey").alias("k"),
                    F.col("o_orderpriority").alias("grp"),
                    F.floor("o_totalprice").cast("bigint").alias("v")))


_K = 50

_EV01_ORACLE = f"""
WITH {_VALS_SQL},
ranked AS (
  SELECT grp, v,
         row_number() OVER (PARTITION BY grp ORDER BY v DESC, k ASC)
           AS rnk
  FROM vals),
tops AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_top,
         list(CAST(v AS DOUBLE) ORDER BY CAST(v AS DOUBLE)) AS xs
  FROM ranked WHERE rnk <= {_K} + 1 GROUP BY grp),
folded AS (
  SELECT grp, n_top, xs,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(xs[2:{_K} + 1], x -> ln(x / xs[1]))),
           (acc, x) -> acc + x) AS s
  FROM tops WHERE n_top = {_K} + 1)
SELECT grp, CAST({_K} AS BIGINT) AS k,
       CAST(xs[1] AS BIGINT) AS x_anchor,
       round(s / {float(_K)!r}, 6) AS hill_inv,
       round(1.0 / (s / {float(_K)!r}), 6) AS alpha
FROM folded
ORDER BY grp
"""


@register("hill_tail_index", _EV01_ORACLE)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index per priority group over top-50 order stats."""
    return hill_topk(_vals(spark, sf_dir), "grp", "v", "k", k=_K) \
        .orderBy("grp")


_GPD_SQL = f"""
WITH {_VALS_SQL},
ranked AS (
  SELECT grp, v,
         row_number() OVER (PARTITION BY grp ORDER BY v DESC, k ASC)
           AS rnk,
         count(*) OVER (PARTITION BY grp) AS n
  FROM vals),
thr AS (
  SELECT grp, CAST(v AS BIGINT) AS u, CAST(n AS BIGINT) AS n
  FROM ranked WHERE rnk = n // 10 + 1),
exc AS (
  SELECT t.grp, t.u, t.n, CAST(va.v - t.u AS BIGINT) AS y
  FROM vals va JOIN thr t ON t.grp = va.grp
  WHERE va.v > t.u),
agg AS (
  SELECT grp, u, n,
         CAST(count(*) AS BIGINT) AS n_exc,
         CAST(sum(y) AS BIGINT) AS s1,
         CAST(sum(y * y) AS BIGINT) AS s2
  FROM exc GROUP BY grp, u, n
  HAVING count(*) >= 2),
fitted AS (
  SELECT grp, u, n, n_exc, s1, s2,
         0.5 * (1.0 - ((CAST(s1 AS DOUBLE) / CAST(n_exc AS DOUBLE))
                       * (CAST(s1 AS DOUBLE) / CAST(n_exc AS DOUBLE)))
                / (CAST(n_exc * s2 - s1 * s1 AS DOUBLE)
                   / CAST(n_exc * (n_exc - 1) AS DOUBLE))) AS xi,
         0.5 * (CAST(s1 AS DOUBLE) / CAST(n_exc AS DOUBLE))
             * (1.0 + ((CAST(s1 AS DOUBLE) / CAST(n_exc AS DOUBLE))
                       * (CAST(s1 AS DOUBLE) / CAST(n_exc AS DOUBLE)))
                / (CAST(n_exc * s2 - s1 * s1 AS DOUBLE)
                   / CAST(n_exc * (n_exc - 1) AS DOUBLE))) AS sigma
  FROM agg)
"""


_EV02_ORACLE = f"""
{_GPD_SQL}
SELECT grp, u, n, n_exc, s1, s2, xi, sigma
FROM fitted
ORDER BY grp
"""


@register("gpd_pot_fit", _EV02_ORACLE)
def gpd_pot_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPD method-of-moments over strict excesses of the decile
    threshold — exact integer sums, bit-exact xi/sigma."""
    return (gpd_mom(_vals(spark, sf_dir), "grp", "v", "k")
            .select("grp", "u", "n", "n_exc", "s1", "s2", "xi", "sigma")
            .orderBy("grp"))


_EV03_ORACLE = f"""
{_GPD_SQL}
SELECT grp, u, n_exc,
       CAST(n_exc AS DOUBLE) / CAST(n AS DOUBLE) AS p_exceed,
       round(CAST(u AS DOUBLE) + (sigma / xi)
             * (pow(100.0 * (CAST(n_exc AS DOUBLE) / CAST(n AS DOUBLE)),
                    xi) - 1.0), 6) AS rl_100,
       round(CAST(u AS DOUBLE) + (sigma / xi)
             * (pow(10000.0 * (CAST(n_exc AS DOUBLE) / CAST(n AS DOUBLE)),
                    xi) - 1.0), 6) AS rl_10000
FROM fitted
ORDER BY grp
"""


@register("gpd_return_levels", _EV03_ORACLE)
def gpd_return_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-observation return levels from the GPD fit:
    u + (sigma/xi)((T p_u)^xi - 1), T in {{100, 10000}}."""
    d = gpd_mom(_vals(spark, sf_dir), "grp", "v", "k")
    p_u = F.col("n_exc").cast("double") / F.col("n").cast("double")
    def rl(t: float):
        return F.round(
            F.col("u").cast("double")
            + (F.col("sigma") / F.col("xi"))
            * (F.pow(F.lit(t) * p_u, F.col("xi")) - F.lit(1.0)), 6)
    return (d.select("grp", "u", "n_exc",
                     p_u.alias("p_exceed"),
                     rl(100.0).alias("rl_100"),
                     rl(10000.0).alias("rl_10000"))
            .orderBy("grp"))
