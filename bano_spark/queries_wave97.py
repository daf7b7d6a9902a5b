"""Wave-97 driver queries: ranker-comparison evaluation.
(1) Team-draft interleaving (Radlinski et al. 2008,
operators/offeval.team_draft_interleave): two deterministic rankers
permute 8 docs per query, a hash coin decides drafting order per
round, clicks (doc-level relevance draws; only DRAFTED docs can
contribute) attribute to the contributing team — per-query verdicts
plus the win rollup. (2) IPS/SNIPS counterfactual policy value
(operators/offeval.ips_policy_value) on the wave-93 uniform bandit
log: the target policy always plays the best arm; with uniform 1/4
propensities both estimators are single divisions of exact integers.

Oracles: the same draft simulation as a DuckDB list_reduce over
rounds (state = ['taken-csv', ca, cb] varchar cells; membership via
delimiter-wrapped substring search) and the same filtered aggregate.

Ref parity: the reference compares source-priority orders by diffing
per-commune match counts between runs (stats.sql deltas); these are
the unbiased online/offline versions of that comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


DEPTH = 3

# 8 docs per query (one query per user); two rankers = two hash
# permutations; doc-level clicks (rel >= threshold).
_TD_FIX = """
SELECT q, d,
       row_number() OVER (PARTITION BY q ORDER BY ha, d) AS ra,
       row_number() OVER (PARTITION BY q ORDER BY hb, d) AS rb,
       CAST(CASE WHEN hc % 5 < 2 THEN 1 ELSE 0 END AS BIGINT) AS c
FROM (
  SELECT u.q, ds.d,
         (u.q * 2654435761 + ds.d * 40503 + 197) % 2147483648 AS ha,
         (u.q * 2654435761 + ds.d * 40503 + 199) % 2147483648 AS hb,
         (u.q * 2654435761 + ds.d * 40503 + 211) % 2147483648 AS hc
  FROM (SELECT DISTINCT user_id AS q FROM events) u
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS d) ds)
"""

_TD_FIX_SPARK = """
SELECT q, d,
       row_number() OVER (PARTITION BY q ORDER BY ha, d) AS ra,
       row_number() OVER (PARTITION BY q ORDER BY hb, d) AS rb,
       CAST(CASE WHEN hc % 5 < 2 THEN 1 ELSE 0 END AS BIGINT) AS c
FROM (
  SELECT u.q, ds.d,
         (u.q * 2654435761 + ds.d * 40503 + 197) % 2147483648 AS ha,
         (u.q * 2654435761 + ds.d * 40503 + 199) % 2147483648 AS hb,
         (u.q * 2654435761 + ds.d * 40503 + 211) % 2147483648 AS hc
  FROM (SELECT DISTINCT user_id AS q FROM events) u
  CROSS JOIN (SELECT explode(sequence(0, 7)) AS d) ds)
"""


def _td_oracle() -> str:
    # docs element: 'ra:rb:d:c'; pick = min rank among docs whose d is
    # not in the taken csv. acc (round fold) = [taken_csv, ca, cb].
    def pick(taken: str, rk_idx: int) -> str:
        # returns 'rank|d|c' of the best untaken doc under rank field
        return f"""
          list_reduce(
            list_prepend('9223372036854775807|-1|0', docs),
            (p, x) -> CASE WHEN
                position(',' || string_split(x, ':')[3] || ',' IN
                         ',' || {taken} || ',') = 0
                AND CAST(string_split(x, ':')[{rk_idx}] AS BIGINT)
                    < CAST(string_split(p, '|')[1] AS BIGINT)
              THEN string_split(x, ':')[{rk_idx}] || '|'
                   || string_split(x, ':')[3] || '|'
                   || string_split(x, ':')[4]
              ELSE concat(p, '') END)
        """

    coin = ("CAST(CAST(concat('0x', substr(md5(q_str || '|' || r[1]), "
            "1, 8)) AS UBIGINT) % 2 AS INT)")
    # let-chain: f1 = first pick, s1 = second pick given f1's doc
    def round_branch(first_rk: int, second_rk: int, ca_from_first: bool):
        f1 = pick("acc[1]", first_rk)
        s1 = pick("acc[1] || ',' || string_split(f1v, '|')[2]",
                  second_rk)
        ca = ("CAST(string_split(f1v, '|')[3] AS BIGINT)"
              if ca_from_first else
              "CAST(string_split(s1v, '|')[3] AS BIGINT)")
        cb = ("CAST(string_split(s1v, '|')[3] AS BIGINT)"
              if ca_from_first else
              "CAST(string_split(f1v, '|')[3] AS BIGINT)")
        return f"""
          list_transform([{f1}], f1v ->
            list_transform([{s1}], s1v ->
              [acc[1] || ',' || string_split(f1v, '|')[2]
                      || ',' || string_split(s1v, '|')[2],
               CAST(CAST(acc[2] AS BIGINT) + {ca} AS VARCHAR),
               CAST(CAST(acc[3] AS BIGINT) + {cb} AS VARCHAR)])[1])[1]
        """

    step = f"""
      (acc, r) -> CASE WHEN {coin} = 0
        THEN {round_branch(1, 2, True)}
        ELSE {round_branch(2, 1, False)} END
    """
    return f"""
WITH x AS ({_TD_FIX}),
s AS (
  SELECT q, CAST(q AS VARCHAR) AS q_str,
         list(CAST(ra AS VARCHAR) || ':' || CAST(rb AS VARCHAR)
              || ':' || CAST(d AS VARCHAR) || ':' || CAST(c AS VARCHAR)
              ORDER BY d) AS docs
  FROM x GROUP BY q),
f AS (
  SELECT q,
         list_reduce(
           list_prepend(['-1', '0', '0'],
             list_transform(range(1, {DEPTH + 1}),
                            t -> [CAST(t AS VARCHAR)])),
           {step}) AS st
  FROM s)
SELECT q AS query, CAST(st[2] AS BIGINT) AS clicks_a,
       CAST(st[3] AS BIGINT) AS clicks_b,
       CAST(CASE WHEN CAST(st[2] AS BIGINT) > CAST(st[3] AS BIGINT)
                 THEN 1
                 WHEN CAST(st[3] AS BIGINT) > CAST(st[2] AS BIGINT)
                 THEN -1 ELSE 0 END AS BIGINT) AS verdict
FROM f ORDER BY q
"""


@register("team_draft_interleaving", _td_oracle())
def q_team_draft(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.offeval import team_draft_interleave

    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    x = spark.sql(_TD_FIX_SPARK)
    return (team_draft_interleave(x, "q", "d", "ra", "rb", "c",
                                  depth=DEPTH)
            .withColumnRenamed("q", "query"))


# IPS/SNIPS on the wave-93 uniform bandit log; target policy: always
# play arm 3 (the highest-CTR arm).
_IPS_FIX = """
SELECT CAST((u1 // 1024) % 4 AS BIGINT) AS arm,
       CAST(CASE WHEN (u2 // 1024) % 100 < 20 + 15 * ((u1 // 1024) % 4)
                 THEN 1 ELSE 0 END AS BIGINT) AS rw,
       CAST(3 AS BIGINT) AS target
FROM (SELECT (event_id * 2654435761 + 179) % 2147483648 AS u1,
             (event_id * 2654435761 + 181) % 2147483648 AS u2
      FROM events)
"""

_IPS_ORACLE = f"""
WITH x AS ({_IPS_FIX}),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN arm = target THEN 1 ELSE 0 END) AS BIGINT)
           AS n_matched,
         CAST(sum(CASE WHEN arm = target THEN rw ELSE 0 END)
              AS BIGINT) AS matched_reward
  FROM x)
SELECT n, n_matched, matched_reward,
       CAST(matched_reward AS DOUBLE) / greatest(n_matched, 1) + 0.0
         AS direct,
       CAST(matched_reward AS DOUBLE) * 4 / n + 0.0 AS ips,
       CAST(matched_reward AS DOUBLE) / greatest(n_matched, 1) + 0.0
         AS snips
FROM agg
"""


@register("ips_policy_value", _IPS_ORACLE)
def q_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.offeval import ips_policy_value

    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    x = spark.sql(_IPS_FIX.replace("//", "div"))
    return ips_policy_value(x, "arm", "rw", "target", k=4)
