"""Wave-94 driver queries: the classic TPC-H analytics quartet over
the synthetic warehouse — Q1 pricing summary, Q3 shipping priority,
Q5 local-supplier volume, Q6 forecast revenue change — implemented
Spark-first (broadcast dimension joins, hash aggregates, TakeOrdered
top-k) with EXACT money math: every price/discount/tax is quantized
to integer cents / percent ONCE at the scan (the columns are exact
hundredths), so all revenue sums are integer and each output is ONE
division of exact integers — bit-identical WITHOUT rounding (round()
itself diverges across engines at magnitudes where six decimals are
not double-representable; measured on Q1 at sf0.1).

These prove the engine covers the bread-and-butter SQL-analytics
surface alongside the spatial/web operators: a reference user's
reporting queries run unchanged.

Oracles: the same SQL in DuckDB with the identical quantization.

Ref parity: the reference's stats.sql is exactly this family —
per-department/source revenue-style rollups and top-N reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _load(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        spark.read.parquet(f"{sf_dir}/{t}.parquet") \
            .createOrReplaceTempView(t)


# exact integer money: cents / discount percent / tax percent
_LI = """
SELECT l_orderkey, l_suppkey, l_quantity,
       CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
       CAST(round(l_discount * 100) AS BIGINT) AS disc_p,
       CAST(round(l_tax * 100) AS BIGINT) AS tax_p,
       l_returnflag, l_linestatus, l_shipdate
FROM lineitem
"""

_Q1 = f"""
WITH li AS ({_LI})
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
         AS sum_qty,
       CAST(sum(price_c) AS DOUBLE) / 100 + 0.0
         AS sum_base_price,
       CAST(sum(price_c * (100 - disc_p)) AS DOUBLE) / 10000
         + 0.0 AS sum_disc_price,
       CAST(sum(price_c * (100 - disc_p) * (100 + tax_p))
            AS DOUBLE) / 1000000 + 0.0 AS sum_charge,
       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)
         / count(*) + 0.0 AS avg_qty,
       CAST(sum(price_c) AS DOUBLE) / (100 * count(*)) + 0.0
         AS avg_price,
       CAST(sum(disc_p) AS DOUBLE) / (100 * count(*)) + 0.0
         AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM li
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("tpch_q1_pricing_summary", _Q1)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    _load(spark, sf_dir, "lineitem")
    return spark.sql(_Q1)


_Q3 = f"""
WITH li AS ({_LI})
SELECT li.l_orderkey,
       CAST(sum(price_c * (100 - disc_p)) AS DOUBLE) / 10000
         + 0.0 AS revenue,
       CAST(o.o_orderdate AS STRING) AS o_orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN li ON li.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND li.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY li.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY sum(price_c * (100 - disc_p)) DESC, o.o_orderdate,
         li.l_orderkey
LIMIT 10
"""


@register("tpch_q3_shipping_priority", _Q3)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    _load(spark, sf_dir, "lineitem", "orders", "customer")
    return spark.sql(_Q3)


_Q5 = f"""
WITH li AS ({_LI})
SELECT n.n_name,
       CAST(sum(price_c * (100 - disc_p)) AS DOUBLE) / 10000
         + 0.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN li ON li.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = li.l_suppkey
                AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'EUROPE'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY sum(price_c * (100 - disc_p)) DESC, n.n_name
"""


@register("tpch_q5_local_supplier_volume", _Q5)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    _load(spark, sf_dir, "lineitem", "orders", "customer", "supplier",
          "nation", "region")
    return spark.sql(_Q5)


_Q6 = f"""
WITH li AS ({_LI})
SELECT CAST(sum(price_c * disc_p) AS DOUBLE) / 10000 + 0.0
         AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM li
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND disc_p BETWEEN 5 AND 7
  AND l_quantity < 24
"""


@register("tpch_q6_revenue_change", _Q6)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    _load(spark, sf_dir, "lineitem")
    return spark.sql(_Q6)
