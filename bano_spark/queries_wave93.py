"""Wave-93 driver queries: (1) online Elo ratings per league
(operators/ratings.elo_ratings) over a deterministic match stream
whose outcomes are biased by latent skills — in-fold 6-decimal
re-quantization keeps thousands of sequential float updates
reproducible to the displayed precision; (2) UCB1 offline bandit
evaluation by the replay method (Li et al. 2011) per experiment
shard — arms with CTRs 20/35/50/65% logged uniformly, so the policy
must concentrate pulls on the best arm while the estimate stays
unbiased.

Oracles: DuckDB list_reduce replays of the same folds — Elo rides a
20-rating DOUBLE list with the identical exp/ln expected-score text;
UCB1 a 10-slot list [n0..n3, s0..s3, matched, reward] with the same
untried-first / strict-argmax choice rule.

Ref parity: the reference's per-source priorities are static
(bano/models.py poids); Elo learns "which source wins head-to-head"
online, and replay evaluation is how a new priority policy would be
tested offline on logged conciliation decisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


N_PLAYERS = 20

# outcomes biased by latent skill = player % 7: threshold in [20, 80]
_ELO_FIX = """
SELECT league, seq, a, b,
       CAST(CASE WHEN w % 100 < 50 + 5 * (a % 7 - b % 7)
                 THEN 1 ELSE 0 END AS BIGINT) AS sa
FROM (
  SELECT u % 4 AS league, event_id AS seq,
         CAST(u1 % 20 AS BIGINT) AS a,
         CAST((u1 % 20 + 1 + u2 % 19) % 20 AS BIGINT) AS b,
         u2 AS w
  FROM (SELECT event_id,
               (event_id * 2654435761 + 163) % 2147483648 AS u,
               (event_id * 2654435761 + 167) % 2147483648 AS u1,
               (event_id * 2654435761 + 173) % 2147483648 AS u2
        FROM events))
"""


def _elo_oracle() -> str:
    ea = ("CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp("
          "(acc[CAST(m[2] AS INT) + 1] - acc[CAST(m[1] AS INT) + 1])"
          " * ln(CAST(10.0 AS DOUBLE)) / 400))")
    return f"""
WITH x AS ({_ELO_FIX}),
s AS (
  SELECT league,
         list([CAST(a AS DOUBLE), CAST(b AS DOUBLE),
               CAST(sa AS DOUBLE)] ORDER BY seq) AS ms
  FROM x GROUP BY league),
f AS (
  SELECT league,
         list_reduce(
           list_prepend(
             list_transform(range(1, {N_PLAYERS + 1}),
                            i -> CAST(1000 AS DOUBLE)),
             ms),
           (acc, m) -> list_transform([{ea}],
             ea -> list_transform(range(1, {N_PLAYERS + 1}),
               i -> CASE
                 WHEN i = CAST(m[1] AS INT) + 1
                   THEN round(acc[CAST(i AS INT)]
                              + 16 * (m[3] - ea), 6)
                 WHEN i = CAST(m[2] AS INT) + 1
                   THEN round(acc[CAST(i AS INT)]
                              + 16 * ((1 - m[3]) - (1 - ea)), 6)
                 ELSE acc[CAST(i AS INT)] END))[1]) AS rs
  FROM s),
np AS (
  SELECT league, p, CAST(count(*) AS BIGINT) AS n_matches
  FROM (SELECT league, a AS p FROM x
        UNION ALL SELECT league, b FROM x)
  GROUP BY league, p),
expl AS (
  SELECT f.league, CAST(u.i - 1 AS BIGINT) AS player,
         rs[CAST(u.i AS INT)] + 0.0 AS rating
  FROM f, unnest(generate_series(1, {N_PLAYERS})) AS u(i))
SELECT e.league, e.player, e.rating,
       coalesce(np.n_matches, 0) AS n_matches
FROM expl e LEFT JOIN np ON np.league = e.league AND np.p = e.player
ORDER BY e.league, e.player
"""


@register("elo_league_ratings", _elo_oracle())
def q_elo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.ratings import elo_ratings

    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    m = spark.sql(_ELO_FIX)
    return elo_ratings(m, "league", "seq", "a", "b", "sa",
                       n_players=N_PLAYERS)


N_ARMS = 4

# arms come from HIGH hash bits: u % 4 of a multiplicative hash is
# periodic in event_id % 4 and correlates with the % 6 sharding (a
# shard would then never log some arms — measured: 0 replay matches).
_UCB_FIX = """
SELECT CAST(event_id % 6 AS BIGINT) AS shard, event_id AS seq,
       CAST((u1 // 1024) % 4 AS BIGINT) AS arm,
       CAST(CASE WHEN (u2 // 1024) % 100 < 20 + 15 * ((u1 // 1024) % 4)
                 THEN 1 ELSE 0 END AS BIGINT) AS rw
FROM (SELECT event_id,
             (event_id * 2654435761 + 179) % 2147483648 AS u1,
             (event_id * 2654435761 + 181) % 2147483648 AS u2
      FROM events)
"""

_UCB_FIX_SPARK = _UCB_FIX.replace("//", "div")


def _ucb_oracle() -> str:
    n = "(acc[1] + acc[2] + acc[3] + acc[4])"

    def ucb(iv: str) -> str:
        return (f"acc[CAST({iv} AS INT) + 5] / acc[CAST({iv} AS INT) + 1]"
                f" + sqrt(2 * ln({n}) / acc[CAST({iv} AS INT) + 1])")

    choice = f"""
      CASE WHEN len(list_filter([1, 2, 3, 4], j -> acc[j] = 0)) > 0
        THEN CAST(list_min(list_filter([1, 2, 3, 4],
                                       j -> acc[j] = 0)) - 1 AS DOUBLE)
        ELSE list_reduce(
          list_prepend([CAST(-1.0e18 AS DOUBLE), -1.0],
                       [[0.0], [1.0], [2.0], [3.0]]),
          (b, iv) -> CASE WHEN {ucb('iv[1]')} > b[1]
                     THEN [{ucb('iv[1]')}, iv[1]]
                     ELSE [b[1], b[2]] END)[2]
      END
    """
    upd_n = ", ".join(
        f"acc[{i + 1}] + CASE WHEN ch = {i}.0 THEN 1 ELSE 0 END"
        for i in range(4))
    upd_s = ", ".join(
        f"acc[{i + 5}] + CASE WHEN ch = {i}.0 THEN e[2] ELSE 0 END"
        for i in range(4))
    keep = ", ".join(f"acc[{i}]" for i in range(1, 11))
    return f"""
WITH x AS ({_UCB_FIX}),
s AS (
  SELECT shard,
         list([CAST(arm AS DOUBLE), CAST(rw AS DOUBLE)]
              ORDER BY seq) AS ev,
         CAST(count(*) AS BIGINT) AS n_events
  FROM x GROUP BY shard),
f AS (
  SELECT shard, n_events,
         list_reduce(
           list_prepend([0.0, 0.0, 0.0, 0.0, 0.0,
                         0.0, 0.0, 0.0, 0.0, 0.0], ev),
           (acc, e) -> list_transform([{choice}],
             ch -> CASE WHEN ch = e[1]
               THEN [{upd_n}, {upd_s}, acc[9] + 1, acc[10] + e[2]]
               ELSE [{keep}] END)[1]) AS st
  FROM s)
SELECT shard, n_events,
       CAST(st[9] AS BIGINT) AS n_matched,
       CAST(st[10] AS BIGINT) AS total_reward,
       CAST(st[1] AS BIGINT) AS pulls_0,
       CAST(st[2] AS BIGINT) AS pulls_1,
       CAST(st[3] AS BIGINT) AS pulls_2,
       CAST(st[4] AS BIGINT) AS pulls_3,
       round(st[10] / greatest(st[9], 1.0), 6) + 0.0 AS mean_reward
FROM f ORDER BY shard
"""


@register("ucb1_bandit_replay", _ucb_oracle())
def q_ucb1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.ratings import ucb1_replay

    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    x = spark.sql(_UCB_FIX_SPARK)
    return ucb1_replay(x, "shard", "seq", "arm", "rw", n_arms=N_ARMS)
