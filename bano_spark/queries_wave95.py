"""Wave-95 driver queries: (1) local-differential-privacy telemetry —
k-ary generalized randomized response (Warner 1965 / RAPPOR family)
over event types with p = 1/4, debiased back to unbiased frequency
estimates by ONE division of exact integers
(operators/privacy.randomized_response_freq); the output carries true
vs estimated counts so the gate verifies both mechanism and
estimator. (2) A data-quality expectation suite
(operators/dq.quality_suite) over a deliberately dirtied staging view
of orders: not-null, uniqueness, range, accepted-values and
referential-integrity checks emitting the one-row-per-check audit
table a warehouse job publishes after every load — with KNOWN
deterministic violation counts.

Oracles: the same perturb/debias algebra and the same check SQL.

Ref parity: the reference gates loads on exactly these invariants
(bano/sql NOT NULL / REFERENCES; core.py sanity filters) and
publishes only aggregated counts for privacy (stats.sql) — GRR is the
mechanism that would let it collect telemetry without raw values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


CATS = ["click", "error", "purchase", "signup", "view"]

_RR_ORACLE = f"""
WITH e AS (
  SELECT event_type,
         (event_id * 2654435761 + 191) % 2147483648 AS u1,
         (event_id * 2654435761 + 193) % 2147483648 AS u2
  FROM events),
per AS (
  SELECT event_type AS true_cat,
         CASE WHEN u1 % 4 < 1
              THEN (list_value({", ".join(repr(c) for c in CATS)}))
                   [CAST((u2 // 1024) % 5 AS INT) + 1]
              ELSE event_type END AS rep_cat
  FROM e),
t AS (SELECT true_cat AS category, CAST(count(*) AS BIGINT)
        AS true_count FROM per GROUP BY 1),
r AS (SELECT rep_cat AS category, CAST(count(*) AS BIGINT)
        AS reported_count FROM per GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per)
SELECT coalesce(t.category, r.category) AS category,
       coalesce(t.true_count, 0) AS true_count,
       coalesce(r.reported_count, 0) AS reported_count,
       CAST(coalesce(r.reported_count, 0) * 20 - n.n * 1 AS DOUBLE)
         / 15.0 + 0.0 AS est,
       CAST(coalesce(r.reported_count, 0) * 20 - n.n * 1 AS DOUBLE)
         / 15.0 - coalesce(t.true_count, 0) + 0.0 AS err
FROM t FULL JOIN r ON r.category = t.category CROSS JOIN n
ORDER BY category
"""


@register("randomized_response_freq", _RR_ORACLE)
def q_rr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.privacy import randomized_response_freq

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return randomized_response_freq(ev, "event_type", "event_id", CATS,
                                    num=1, den=4, salt=191)


# dirty staging view: ~1% null custkeys, duplicate surrogate keys,
# ~1% dangling customer references.
_DIRTY = """
SELECT o_orderkey,
       o_orderkey % 14000 AS surrogate_key,
       CASE WHEN o_orderkey % 97 = 0 THEN NULL
            ELSE o_custkey END AS cust,
       CASE WHEN o_orderkey % 101 = 0 THEN o_custkey + 9000000
            ELSE o_custkey END AS cust_ref,
       o_orderpriority
FROM orders
"""

_DQ_ORACLE = f"""
WITH d AS ({_DIRTY}),
c1 AS (
  SELECT 'not_null:cust' AS check_name,
         CAST(count(*) AS BIGINT) AS n_checked,
         CAST(sum(CASE WHEN cust IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_failed
  FROM d),
c2 AS (
  SELECT 'unique:surrogate_key',
         CAST(sum(c) AS BIGINT),
         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
  FROM (SELECT count(*) AS c FROM d GROUP BY surrogate_key)),
c3 AS (
  SELECT 'in_range:l_discount[0.0,0.1]',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN l_discount IS NULL OR l_discount < 0
                       OR l_discount > 0.1 THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM lineitem),
c4 AS (
  SELECT 'accepted:o_orderpriority',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN o_orderpriority IS NULL
                       OR o_orderpriority NOT IN
                          ('1-URGENT', '2-HIGH', '3-MEDIUM', '5-LOW')
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM d),
c5 AS (
  SELECT 'subset:cust_ref->customer',
         (SELECT CAST(count(*) AS BIGINT) FROM d),
         (SELECT CAST(count(*) AS BIGINT) FROM d
          WHERE NOT EXISTS (SELECT 1 FROM customer
                            WHERE c_custkey = d.cust_ref))),
u AS (
  SELECT * FROM c1 UNION ALL SELECT * FROM c2
  UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4
  UNION ALL SELECT * FROM c5)
SELECT check_name AS "check", n_checked, n_failed,
       round(CAST(n_checked - n_failed AS DOUBLE) / n_checked, 6)
         + 0.0 AS pass_rate,
       n_failed = 0 AS ok
FROM u ORDER BY check_name
"""


@register("data_quality_audit", _DQ_ORACLE)
def q_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.dq import (expect_accepted, expect_in_range,
                                         expect_not_null, expect_subset,
                                         expect_unique, quality_suite)

    for t in ("orders", "lineitem", "customer"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet") \
            .createOrReplaceTempView(t)
    d = spark.sql(_DIRTY)
    li = spark.table("lineitem")
    cust = spark.table("customer")
    return quality_suite([
        expect_not_null(d, "cust"),
        expect_unique(d, "surrogate_key"),
        expect_in_range(li, "l_discount", 0.0, 0.1),
        expect_accepted(d, "o_orderpriority",
                        ["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"]),
        expect_subset(d, "cust_ref", cust, "c_custkey", "customer"),
    ])
