"""Wave-80 driver queries: (1) ridge regression per group from ONE
aggregation pass — the Gram-matrix sufficient statistics (X'X, X'y)
are exact BIGINT sums over a quantized fixture, and the 3x3 ridge
normal equations are solved in closed form (Cramer adjugate) as a
shared expression template, so both engines evaluate the identical
IEEE tree: bit parity without iteration. The distributed-ML primitive
behind "fit a linear model on 100 TB without a driver-side solver".
(2) RLE / dictionary encoding advisor — per source, ordered run counts
(lag window), RLE compression ratio, dictionary cardinality, and the
bit-packing width of the numeric column: the statistics a columnar
writer (parquet encoding chooser) computes before picking encodings.

Ref parity: the reference has no model fitting; importance scoring
(bano/sql/export_csv_dept.sql importance formula) is its closest
numeric kin. The advisor mirrors what its PostgreSQL storage did
implicitly (TOAST/heap) but as explicit measured statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# cm01 — ridge regression from Gram sufficient stats (closed form).
# ---------------------------------------------------------------------------
# Fixture: per l_returnflag, model price100 ~ b0 + b1*qty + b2*disc100
# with ridge lambda on the non-intercept diagonal. qty, disc100,
# price100 are exact integers (quantity is integral, discount has 2
# decimals, price has 2 decimals), so every sufficient statistic is an
# exact BIGINT sum; magnitudes stay < 2^45 at sf0.1.

_LAMBDA = 1000


def _det3(a11, a12, a13, a21, a22, a23, a31, a32, a33) -> str:
    """3x3 determinant as a fixed parenthesized expression — the SAME
    text goes to Spark and DuckDB so the IEEE evaluation tree is
    identical."""
    return (f"(({a11}) * (({a22}) * ({a33}) - ({a23}) * ({a32}))"
            f" - ({a12}) * (({a21}) * ({a33}) - ({a23}) * ({a31}))"
            f" + ({a13}) * (({a21}) * ({a32}) - ({a22}) * ({a31})))")


def _ridge_sql(table: str) -> str:
    # A = [[n, s1, s2], [s1, s11+L, s12], [s2, s12, s22+L]]
    # rhs = [sy, s1y, s2y]; b_i = det(A with col i := rhs) / det(A)
    lam = float(_LAMBDA)
    a = dict(a11="n", a12="s1", a13="s2",
             a21="s1", a22=f"(s11 + {lam})", a23="s12",
             a31="s2", a32="s12", a33=f"(s22 + {lam})")
    det = _det3(**a)
    d0 = _det3(**{**a, "a11": "sy", "a21": "s1y", "a31": "s2y"})
    d1 = _det3(**{**a, "a12": "sy", "a22": "s1y", "a32": "s2y"})
    d2 = _det3(**{**a, "a13": "sy", "a23": "s1y", "a33": "s2y"})
    return f"""
WITH q AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS x1,
         CAST(round(l_discount * 100) AS BIGINT) AS x2,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM {table}),
g AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x1) AS DOUBLE) AS s1,
         CAST(sum(x2) AS DOUBLE) AS s2,
         CAST(sum(x1 * x1) AS DOUBLE) AS s11,
         CAST(sum(x1 * x2) AS DOUBLE) AS s12,
         CAST(sum(x2 * x2) AS DOUBLE) AS s22,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x1 * y) AS DOUBLE) AS s1y,
         CAST(sum(x2 * y) AS DOUBLE) AS s2y
  FROM q GROUP BY l_returnflag)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       round(({d0}) / ({det}), 6) AS b0,
       round(({d1}) / ({det}), 6) AS b1,
       round(({d2}) / ({det}), 6) AS b2
FROM g
ORDER BY l_returnflag
"""


@register("ridge_regression_gram", _ridge_sql("lineitem"))
def q_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hash aggregate (map-side partial) computes all nine
    sufficient statistics; the solve is O(groups) closed-form
    arithmetic. At 100 TB this is a single shuffle of 9 longs per
    group — the canonical 'normal equations beat iterative SGD for
    tiny feature counts' design."""
    li = _read(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    return spark.sql(_ridge_sql("lineitem"))


# ---------------------------------------------------------------------------
# cm02 — RLE / dictionary encoding advisor.
# ---------------------------------------------------------------------------
# Per source, in doc_id order: number of lang runs (lag window), RLE
# ratio rows/runs, dict cardinality of lang, and the bit-packing width
# of n_chars (length of its binary representation at max).

_CM02_ORACLE = """
WITH d AS (
  SELECT source, doc_id, lang, n_chars,
         lag(lang) OVER (PARTITION BY source ORDER BY doc_id) AS prev
  FROM documents),
runs AS (
  SELECT source,
         count(*) AS n_rows,
         sum(CASE WHEN prev IS NULL OR lang <> prev THEN 1 ELSE 0 END)
           AS n_runs,
         count(DISTINCT lang) AS n_dict,
         max(n_chars) AS mx
  FROM d GROUP BY source)
SELECT source,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_runs AS BIGINT) AS n_runs_lang,
       round(CAST(n_rows AS DOUBLE) / n_runs, 6) AS rle_ratio,
       CAST(n_dict AS BIGINT) AS dict_card_lang,
       CAST(length(bin(mx)) AS BIGINT) AS bits_nchars
FROM runs
ORDER BY source
"""


@register("rle_encoding_advisor", _CM02_ORACLE)
def q_rle_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed lag window + keyed aggregate: one exchange on source. The
    run count over the write order is exactly what a parquet writer's
    RLE chooser sees per row group; at 100 TB the advisor runs per
    file-partition and merges by summing runs (disclosed: merged run
    counts over-count by at most n_partitions boundary joins)."""
    docs = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    d = docs.withColumn("prev", F.lag("lang").over(w))
    runs = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("prev").isNull()
                     | (F.col("lang") != F.col("prev")), 1)
              .otherwise(0)).alias("n_runs"),
        F.countDistinct("lang").alias("n_dict"),
        F.max("n_chars").alias("mx"))
    return runs.select(
        "source",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_runs").cast("bigint").alias("n_runs_lang"),
        F.round(F.col("n_rows").cast("double") / F.col("n_runs"), 6)
        .alias("rle_ratio"),
        F.col("n_dict").cast("bigint").alias("dict_card_lang"),
        F.length(F.bin("mx")).cast("bigint").alias("bits_nchars")
    ).orderBy("source")
