"""Wave-96 driver queries: IBLT set reconciliation
(operators/reconcile.py; Eppstein et al., SIGCOMM 2011) between two
snapshots of the orders key set — B drops every 577th key and adds a
shifted key for every 613th.  The difference digest is one hash
aggregate into m = 2048 cells; synchronous peeling recovers the full
symmetric difference, verified against the directly-computed truth
(n_decoded == d_true, zero residue cells) — O(|diff|) communication
instead of O(|table|), which is exactly the reference's nightly
"which addresses changed" problem (imposm diff / expire_tiles).

Oracles: the same encode + 10 synchronous peel rounds as MATERIALIZED
DuckDB CTE stages (inlining an iterated CTE re-evaluates the base
scan exponentially — the wave-57 gotcha).  All integer sums — exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.reconcile import (CHECK_MOD, CHECK_MUL, IB_A,
                                            IB_B, IB_P)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


M = 2048
ROUNDS = 10

_KEYS = """
SELECT o_orderkey AS key, CAST(1 AS BIGINT) AS side FROM orders
UNION ALL
SELECT o_orderkey, CAST(-1 AS BIGINT) FROM orders
WHERE o_orderkey % 577 != 0
UNION ALL
SELECT o_orderkey + 1000000000, CAST(-1 AS BIGINT) FROM orders
WHERE o_orderkey % 613 = 0
"""

_AL = "(list_value(" + ", ".join(str(a) for a in IB_A) + "))"
_BL = "(list_value(" + ", ".join(str(b) for b in IB_B) + "))"


def _contrib(src: str) -> str:
    return f"""
    SELECT js.j,
           ((d.key * {_AL}[CAST(js.j AS INT) + 1]
             + {_BL}[CAST(js.j AS INT) + 1]) % {IB_P}) % {M} AS cell,
           CAST(sum(d.side) AS BIGINT) AS dcnt,
           CAST(sum(d.side * d.key) AS BIGINT) AS dks,
           CAST(sum(d.side * ((d.key * {CHECK_MUL} + 7919)
                              % {CHECK_MOD})) AS BIGINT) AS dhs
    FROM {src} d CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) js
    GROUP BY 1, 2
    """


def _iblt_core() -> str:
    parts = [f"""
keys AS ({_KEYS}),
base AS MATERIALIZED (
  SELECT js.j,
         ((k.key * {_AL}[CAST(js.j AS INT) + 1]
           + {_BL}[CAST(js.j AS INT) + 1]) % {IB_P}) % {M} AS cell,
         CAST(sum(k.side) AS BIGINT) AS cnt,
         CAST(sum(k.side * k.key) AS BIGINT) AS ks,
         CAST(sum(k.side * ((k.key * {CHECK_MUL} + 7919)
                            % {CHECK_MOD})) AS BIGINT) AS hs
  FROM keys k CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) js
  GROUP BY 1, 2),
d0 AS MATERIALIZED (
  SELECT CAST(NULL AS BIGINT) AS key, CAST(NULL AS BIGINT) AS side
  WHERE false)"""]
    for r in range(1, ROUNDS + 1):
        parts.append(f"""
c{r} AS MATERIALIZED (
  SELECT b.j, b.cell, b.cnt - coalesce(a.dcnt, 0) AS cnt,
         b.ks - coalesce(a.dks, 0) AS ks,
         b.hs - coalesce(a.dhs, 0) AS hs
  FROM base b LEFT JOIN ({_contrib(f'd{r - 1}')}) a
    ON a.j = b.j AND a.cell = b.cell),
p{r} AS MATERIALIZED (
  SELECT DISTINCT cnt * ks AS key, cnt AS side FROM c{r}
  WHERE cnt IN (1, -1)
    AND hs = cnt * ((cnt * ks * {CHECK_MUL} + 7919) % {CHECK_MOD})),
d{r} AS MATERIALIZED (
  SELECT DISTINCT * FROM (SELECT * FROM d{r - 1}
                          UNION ALL SELECT * FROM p{r}))""")
    return ",".join(parts)


_IB01_ORACLE = f"""
WITH {_iblt_core()}
SELECT key, side FROM d{ROUNDS} ORDER BY key
"""


def _decoded(spark: SparkSession, sf_dir: str):
    from bano_spark.operators.reconcile import iblt_cells, iblt_decode

    spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .createOrReplaceTempView("orders")
    keys = spark.sql(_KEYS)
    cells = iblt_cells(keys, "key", "side", M)
    return keys, cells, iblt_decode(cells, M, rounds=ROUNDS)


@register("iblt_diff_keys", _IB01_ORACLE)
def q_iblt_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, dec = _decoded(spark, sf_dir)
    return dec.orderBy("key")


_IB02_ORACLE = f"""
WITH {_iblt_core()},
truth AS (
  SELECT CAST(count(*) AS BIGINT) AS d_true FROM (
    SELECT o_orderkey FROM orders WHERE o_orderkey % 577 = 0
    UNION ALL
    SELECT o_orderkey + 1000000000 FROM orders
    WHERE o_orderkey % 613 = 0)),
dec AS (SELECT CAST(count(*) AS BIGINT) AS n_decoded FROM d{ROUNDS})
SELECT CAST({M} AS BIGINT) AS m_cells, truth.d_true, dec.n_decoded,
       dec.n_decoded = truth.d_true AS complete
FROM truth CROSS JOIN dec
"""


@register("iblt_decode_stats", _IB02_ORACLE)
def q_iblt_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, dec = _decoded(spark, sf_dir)
    spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .createOrReplaceTempView("orders")
    truth = spark.sql("""
        SELECT CAST(count(*) AS BIGINT) AS d_true FROM (
          SELECT o_orderkey FROM orders WHERE o_orderkey % 577 = 0
          UNION ALL
          SELECT o_orderkey + 1000000000 FROM orders
          WHERE o_orderkey % 613 = 0)""")
    n_dec = dec.agg(F.count("*").cast("bigint").alias("n_decoded"))
    return (truth.crossJoin(F.broadcast(n_dec))
            .select(F.lit(M).cast("bigint").alias("m_cells"), "d_true",
                    "n_decoded",
                    (F.col("n_decoded") == F.col("d_true"))
                    .alias("complete")))
