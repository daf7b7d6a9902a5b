"""Wave-128 driver queries: cache-policy replay + consistent-hash
ring rebalance (operators/cachesim.py, operators/hashring.py) — the
ops/capacity-planning layer next to lru_stack_distance and
rendezvous_sharding.

Cache fixture: 8 user-cohort traces over a skewed key space (75% of
accesses to 6 hot keys, 25% to 24 cold) with capacity 4 — LRU holds a
decent ratio, clairvoyant OPT strictly dominates (the gap is the
"policy headroom" a cache-sizing exercise reads off).

Ring fixture: 16k+ hashed keys on a 5-server/8-vnode ring vs the same
ring with a 6th server — consistent hashing's contract (every moved
key lands on the NEW server; survivors exchange nothing) is asserted
by the moved_in column being 0 for servers 0-4.

Oracles: DuckDB list_reduce replays of the identical slot-vector fold
(flat layout [h, k1, p1, .., k4, p4]) and the identical token-literal
scan, so both engines walk the same IEEE/compare chains bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.cachesim import cache_replay
from bano_spark.operators.hashring import ring_rebalance, ring_tokens
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_FIX = """
SELECT user_id % 8 AS grp, event_id AS t,
       CASE WHEN u % 4 < 3 THEN u % 6 ELSE 6 + (u % 24) END AS k
FROM (SELECT user_id, event_id,
             (event_id * 2654435761 + 13) % 2147483648 AS u
      FROM events)"""


def _fold_sql(policy: str) -> str:
    """DuckDB mirror of cachesim._fold for capacity 4, flat layout
    [h, k1, p1, k2, p2, k3, p3, k4, p4]."""
    vprio = "v[3]" if policy == "opt" else "(0.0 - v[1])"
    hit = " OR ".join(f"s[{2 * i}] = v[2]" for i in range(1, 5))
    mx = "greatest(" + ", ".join(f"s[{2 * i + 1}]"
                                 for i in range(1, 5)) + ")"
    idx = ("CASE " + " ".join(f"WHEN s[{2 * i + 1}] = {mx} THEN {i}.0"
                              for i in range(1, 5)) + " END")
    slots = []
    for i in range(1, 5):
        ki, pi = f"s[{2 * i}]", f"s[{2 * i + 1}]"
        slots.append(f"CASE WHEN x[1] = 1.0 THEN {ki} "
                     f"WHEN x[2] = {i}.0 THEN v[2] ELSE {ki} END")
        slots.append(f"CASE WHEN x[1] = 1.0 THEN "
                     f"(CASE WHEN {ki} = v[2] THEN {vprio} ELSE {pi} END) "
                     f"WHEN x[2] = {i}.0 THEN {vprio} ELSE {pi} END")
    return f"""
list_reduce(
  list_prepend([CAST(0 AS DOUBLE), -1.0, 1e+19, -1.0, 1e+19,
                -1.0, 1e+19, -1.0, 1e+19], tr),
  (s, v) -> list_transform(
    [[CASE WHEN {hit} THEN 1.0 ELSE 0.0 END, {idx}]],
    x -> [s[1] + CASE WHEN x[1] = 1.0 THEN 1.0 ELSE 0.0 END,
          {', '.join(slots)}])[1])"""


_TRACE_CTE = f"""
fix AS ({_FIX}),
d AS (
  SELECT grp, CAST(t AS DOUBLE) AS t, CAST(k AS DOUBLE) AS k,
         COALESCE(CAST(lead(t) OVER (PARTITION BY grp, k ORDER BY t)
                       AS DOUBLE), 1e+18) AS nu
  FROM fix),
sq AS (
  SELECT grp, list([t, k, nu] ORDER BY t) AS tr,
         CAST(count(DISTINCT k) AS BIGINT) AS n_keys
  FROM d GROUP BY grp)"""

_Q1_ORACLE = f"""
WITH {_TRACE_CTE},
st AS (
  SELECT grp, n_keys, CAST(len(tr) AS BIGINT) AS n_accesses,
         {_fold_sql('opt')} AS f
  FROM sq)
SELECT grp, n_accesses, n_keys, CAST(f[1] AS BIGINT) AS hits,
       round(f[1] / CAST(n_accesses AS DOUBLE), 6) AS hit_ratio
FROM st ORDER BY grp
"""


@register("belady_opt_hit_ratio", _Q1_ORACLE)
def belady_opt_hit_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clairvoyant-optimal hit ratio per trace: one (grp, key) lead
    window + one per-group O(C) slot fold."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return cache_replay(spark.sql(_FIX), "grp", "t", "k",
                        capacity=4, policy="opt").orderBy("grp")


_Q2_ORACLE = f"""
WITH {_TRACE_CTE},
st AS (
  SELECT grp, CAST(len(tr) AS BIGINT) AS n_accesses,
         {_fold_sql('opt')} AS fo,
         {_fold_sql('lru')} AS fl
  FROM sq)
SELECT grp, n_accesses,
       CAST(fo[1] AS BIGINT) AS opt_hits,
       CAST(fl[1] AS BIGINT) AS lru_hits,
       CAST(fo[1] - fl[1] AS BIGINT) AS gap_hits,
       fo[1] >= fl[1] AS opt_dominates
FROM st ORDER BY grp
"""


@register("cache_policy_gap", _Q2_ORACLE)
def cache_policy_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPT-vs-LRU headroom per trace at the same capacity; OPT's
    optimality (gap >= 0) is asserted as a column."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    tr = spark.sql(_FIX)
    opt = cache_replay(tr, "grp", "t", "k", capacity=4, policy="opt") \
        .select("grp", "n_accesses", F.col("hits").alias("opt_hits"))
    lru = cache_replay(tr, "grp", "t", "k", capacity=4, policy="lru") \
        .select("grp", F.col("hits").alias("lru_hits"))
    return (opt.join(lru, "grp")
            .select("grp", "n_accesses", "opt_hits", "lru_hits",
                    (F.col("opt_hits") - F.col("lru_hits"))
                    .alias("gap_hits"),
                    (F.col("opt_hits") >= F.col("lru_hits"))
                    .alias("opt_dominates"))
            .orderBy("grp"))


_RING_FIX = """
SELECT (event_id * 2654435761 + 29) % 2147483648 AS h FROM events"""

_N_BEFORE, _N_AFTER, _VNODES = 5, 6, 8


def _tok_lit(n: int) -> str:
    toks = ring_tokens(n, _VNODES)
    return ("[" + ", ".join(f"[CAST({p} AS BIGINT), CAST({s} AS BIGINT)]"
                            for p, s in toks) + "]")


_Q3_ORACLE = f"""
WITH fix AS ({_RING_FIX}),
asg AS (
  SELECT COALESCE(list_filter({_tok_lit(_N_BEFORE)},
                              e -> e[1] >= h)[1][2],
                  {ring_tokens(_N_BEFORE, _VNODES)[0][1]}) AS sa,
         COALESCE(list_filter({_tok_lit(_N_AFTER)},
                              e -> e[1] >= h)[1][2],
                  {ring_tokens(_N_AFTER, _VNODES)[0][1]}) AS sb
  FROM fix),
m AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS c
      FROM asg GROUP BY 1, 2),
srv AS (SELECT CAST(range AS INT) AS server FROM range(0, {_N_AFTER}))
SELECT s.server,
       COALESCE((SELECT CAST(sum(c) AS BIGINT) FROM m
                 WHERE sa = s.server), 0) AS n_before,
       COALESCE((SELECT CAST(sum(c) AS BIGINT) FROM m
                 WHERE sb = s.server), 0) AS n_after,
       COALESCE((SELECT CAST(sum(c) AS BIGINT) FROM m
                 WHERE sb = s.server AND sa <> sb), 0) AS moved_in,
       COALESCE((SELECT CAST(sum(c) AS BIGINT) FROM m
                 WHERE sa = s.server AND sa <> sb), 0) AS moved_out
FROM srv s ORDER BY s.server
"""


@register("ring_rebalance_audit", _Q3_ORACLE)
def ring_rebalance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-literal ring scan (map-only, no join) into the O(N^2)
    transition matrix; every moved key lands on server 5."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return ring_rebalance(spark.sql(_RING_FIX), "h",
                          n_before=_N_BEFORE, n_after=_N_AFTER,
                          vnodes=_VNODES).orderBy("server")
