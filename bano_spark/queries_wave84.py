"""Wave-84 driver queries: (1) exact Viterbi HMM decoding
(operators/decoding.py) over each user's event-type sequence — a
3-state behavioral HMM (casual / shopper / frustrated) with INTEGER
log-scores, so the MAP path is bit-identical across engines and
topologies; plus the decoded (state, observation) co-occurrence table
(the empirical emission matrix of the decode).  (2) The distributed
perceptron via iterative parameter mixing (McDonald, Hall & Mann,
NAACL 2010): a sequential integer perceptron fold inside each of 8
shards, weight vectors mixed by summation (sign-equivalent to
averaging), and the mixed classifier evaluated exactly on the full
training set.

Oracles: DuckDB ``list_reduce`` replays of the same folds — the
Viterbi cells ride a LIST(VARCHAR) accumulator ('score|path' per
state; fresh lists in every branch per the vectorization gotcha), the
perceptron a LIST(BIGINT) accumulator [w0..w3, n_updates].

Ref parity: the reference scores competing address sources with fixed
integer weights and resolves each commune's best consistent labeling
sequentially (bano/core.py rapprochement, bano/models.py poids) —
Viterbi is that "best consistent sequence labeling" made exact, and
the IPM perceptron is its scoring weights made trainable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# Shared HMM spec (integer log-scores, higher = better). Observation
# alphabet: event_type alphabetical -> index.
#   0 click  1 error  2 purchase  3 signup  4 view
# Hidden states: 0 casual  1 shopper  2 frustrated.
# ---------------------------------------------------------------------------

INIT = [0, -5, -8]
TRANS = [[-1, -4, -6],
         [-4, -1, -5],
         [-5, -5, -1]]
EMIT = [[-1, -7, -8, -4, -1],
        [-2, -6, -1, -5, -3],
        [-4, -1, -9, -6, -4]]
K = 3
NEG = -(1 << 40)

_OBS_CASE = ("CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1 "
             "WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END")

# Injective event time (wave-83 idiom): second epoch * 1e6 + event_id.
_VD_FIX_DUCK = f"""
SELECT user_id, event_id,
       CAST(floor(epoch(ts)) AS BIGINT) * 1000000
         + event_id % 1000000 AS t,
       {_OBS_CASE} AS o
FROM events
"""


def _viterbi_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts = F.col("ts").cast("timestamp_ntz")
    epoch = (F.datediff(F.to_date(ts), F.lit("1970-01-01")).cast("long")
             * 86400 + F.hour(ts) * 3600 + F.minute(ts) * 60
             + F.second(ts))
    return ev.select(
        "user_id", "event_id",
        (epoch * 1000000 + F.col("event_id") % 1000000).alias("t"),
        F.expr(_OBS_CASE).alias("o"))


def _dl(vals) -> str:
    return "[" + ", ".join(f"CAST({int(v)} AS BIGINT)" for v in vals) + "]"


def _dl2(mat) -> str:
    return "[" + ", ".join(_dl(r) for r in mat) + "]"


def _viterbi_oracle() -> str:
    """DuckDB replay: fold the per-user obs list with a K-cell
    'score|path' varchar accumulator. Every branch constructs a fresh
    value (list_reduce vectorization gotcha). 1-based list indexing."""
    init_l, trans_l, emit_l = _dl(INIT), _dl2(TRANS), _dl2(EMIT)
    # inner argmax over source states i for destination j (strict >
    # keeps the lowest i), then add emit[j][o].
    inner = f"""
      list_transform([
        list_reduce(
          list_prepend('{NEG}|X',
                       list_transform(range(0, {K}),
                                      i -> CAST(i AS VARCHAR))),
          (b, iv) -> CASE WHEN
              CAST(string_split(acc[CAST(iv AS INT) + 1], '|')[1]
                   AS BIGINT)
                + ({trans_l})[CAST(iv AS INT) + 1][CAST(j AS INT) + 1]
              > CAST(string_split(b, '|')[1] AS BIGINT)
            THEN concat(
              CAST(CAST(string_split(acc[CAST(iv AS INT) + 1], '|')[1]
                        AS BIGINT)
                   + ({trans_l})[CAST(iv AS INT) + 1][CAST(j AS INT) + 1]
                   AS VARCHAR),
              '|',
              string_split(acc[CAST(iv AS INT) + 1], '|')[2],
              '>', CAST(j AS VARCHAR))
            ELSE concat(b, '') END)],
        s -> concat(
          CAST(CAST(string_split(s, '|')[1] AS BIGINT)
               + ({emit_l})[CAST(j AS INT) + 1][CAST(x[1] AS INT) + 1]
               AS VARCHAR),
          '|', string_split(s, '|')[2]))[1]
    """
    step = f"""
      (acc, x) -> CASE WHEN string_split(acc[1], '|')[2] = ''
        THEN list_transform(range(0, {K}),
               j -> concat(
                 CAST(({init_l})[CAST(j AS INT) + 1]
                      + ({emit_l})[CAST(j AS INT) + 1]
                          [CAST(x[1] AS INT) + 1] AS VARCHAR),
                 '|', CAST(j AS VARCHAR)))
        ELSE list_transform(range(0, {K}), j -> {inner}) END
    """
    return f"""
WITH x AS ({_VD_FIX_DUCK}),
s AS (
  SELECT user_id,
         list([CAST(o AS VARCHAR)] ORDER BY t) AS obs
  FROM x GROUP BY user_id),
v AS (
  SELECT user_id, CAST(len(obs) AS BIGINT) AS n_obs,
         list_reduce(
           list_prepend(
             list_transform(range(0, {K}), j -> '0|'),
             obs),
           {step}) AS cells
  FROM s),
best AS (
  SELECT user_id, n_obs,
         list_reduce(
           list_prepend('{NEG}|X', cells),
           (b, c) -> CASE WHEN CAST(string_split(c, '|')[1] AS BIGINT)
                            > CAST(string_split(b, '|')[1] AS BIGINT)
                     THEN concat(c, '') ELSE concat(b, '') END) AS w
  FROM v)
SELECT user_id, n_obs,
       CAST(string_split(w, '|')[1] AS BIGINT) AS best_score,
       string_split(w, '|')[2] AS path
FROM best ORDER BY user_id
"""


@register("viterbi_event_states", _viterbi_oracle())
def q_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.decoding import viterbi_decode

    x = _viterbi_input(spark, sf_dir)
    return viterbi_decode(x, "user_id", "t", "o", INIT, TRANS, EMIT)


# ---------------------------------------------------------------------------
# vd02 — decoded (state, obs) co-occurrence: the empirical emission
# table of the MAP decode.
# ---------------------------------------------------------------------------

def _viterbi_counts_oracle() -> str:
    base = _viterbi_oracle()
    # reuse the decode as a subquery, then index-join path to obs list.
    return f"""
WITH dec AS ({base.replace('ORDER BY user_id', '')}),
s AS (
  SELECT user_id, list(o ORDER BY t) AS obs
  FROM ({_VD_FIX_DUCK}) GROUP BY user_id),
z AS (
  SELECT dec.user_id,
         string_split(dec.path, '>') AS states, s.obs,
         CAST(u.i AS INT) AS i
  FROM dec JOIN s ON dec.user_id = s.user_id,
       unnest(generate_series(1, dec.n_obs)) AS u(i))
SELECT CAST(states[i] AS BIGINT) AS state,
       CAST(obs[i] AS BIGINT) AS obs,
       CAST(count(*) AS BIGINT) AS n
FROM z GROUP BY 1, 2 ORDER BY state, obs
"""


@register("viterbi_emission_counts", _viterbi_counts_oracle())
def q_viterbi_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.decoding import (decoded_state_obs_counts,
                                               viterbi_decode)

    x = _viterbi_input(spark, sf_dir)
    dec = viterbi_decode(x, "user_id", "t", "o", INIT, TRANS, EMIT)
    return decoded_state_obs_counts(dec, x, "user_id", "t", "o")


# ---------------------------------------------------------------------------
# pm01/pm02 — distributed perceptron (iterative parameter mixing).
# Integer features x = (1, k1%7, k2%7, k3%7); concept
# y = sign(3*x1 - 2*x2 + x3 - 6) with a deterministic label flip on
# k4 % 19 = 0 (non-separable, like real data). 8 shards by rid % 8.
# Dialect-shared fixture (pure integer arithmetic).
# ---------------------------------------------------------------------------

_PM_FIX = """
SELECT rid, rid % 8 AS shard,
       CAST(1 AS BIGINT) AS x0, x1, x2, x3,
       CAST(CASE WHEN k4 % 19 = 0
                 THEN -raw ELSE raw END AS BIGINT) AS y
FROM (
  SELECT rid, x1, x2, x3, k4,
         CASE WHEN 3 * x1 - 2 * x2 + x3 - 6 > 0
              THEN 1 ELSE -1 END AS raw
  FROM (
    SELECT event_id AS rid,
           CAST((event_id * 2654435761 + 83) % 2147483648 % 7
                AS BIGINT) AS x1,
           CAST((event_id * 2654435761 + 89) % 2147483648 % 7
                AS BIGINT) AS x2,
           CAST((event_id * 2654435761 + 97) % 2147483648 % 7
                AS BIGINT) AS x3,
           (event_id * 2654435761 + 101) % 2147483648 AS k4
    FROM events))
"""

_PM01_ORACLE = f"""
WITH x AS ({_PM_FIX}),
s AS (
  SELECT shard, list([rid, x0, x1, x2, x3, y] ORDER BY rid) AS ex
  FROM x GROUP BY shard),
f AS (
  SELECT shard, CAST(len(ex) AS BIGINT) AS n_examples,
         list_reduce(
           list_prepend([CAST(0 AS BIGINT), 0, 0, 0, 0],
                        ex),
           (acc, r) -> CASE WHEN
               r[6] * (acc[1] * r[2] + acc[2] * r[3]
                       + acc[3] * r[4] + acc[4] * r[5]) <= 0
             THEN [acc[1] + r[6] * r[2], acc[2] + r[6] * r[3],
                   acc[3] + r[6] * r[4], acc[4] + r[6] * r[5],
                   acc[5] + 1]
             ELSE [acc[1], acc[2], acc[3], acc[4], acc[5]] END) AS w
  FROM s)
SELECT CAST(shard AS BIGINT) AS shard, n_examples,
       w[5] AS n_updates,
       w[1] AS w_0, w[2] AS w_1, w[3] AS w_2, w[4] AS w_3
FROM f ORDER BY shard
"""


def _pm_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return spark.sql(_PM_FIX)


@register("perceptron_ipm_shards", _PM01_ORACLE)
def q_perceptron_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.decoding import perceptron_ipm

    x = _pm_input(spark, sf_dir)
    return perceptron_ipm(x, "shard", "rid",
                          ["x0", "x1", "x2", "x3"], "y")


_PM02_ORACLE = f"""
WITH x AS ({_PM_FIX}),
s AS (
  SELECT shard, list([rid, x0, x1, x2, x3, y] ORDER BY rid) AS ex
  FROM x GROUP BY shard),
f AS (
  SELECT shard,
         list_reduce(
           list_prepend([CAST(0 AS BIGINT), 0, 0, 0, 0],
                        ex),
           (acc, r) -> CASE WHEN
               r[6] * (acc[1] * r[2] + acc[2] * r[3]
                       + acc[3] * r[4] + acc[4] * r[5]) <= 0
             THEN [acc[1] + r[6] * r[2], acc[2] + r[6] * r[3],
                   acc[3] + r[6] * r[4], acc[4] + r[6] * r[5],
                   acc[5] + 1]
             ELSE [acc[1], acc[2], acc[3], acc[4], acc[5]] END) AS w
  FROM s),
mix AS (
  SELECT sum(w[1]) AS mw0, sum(w[2]) AS mw1,
         sum(w[3]) AS mw2, sum(w[4]) AS mw3
  FROM f),
scored AS (
  SELECT x.y,
         CASE WHEN mix.mw0 * x.x0 + mix.mw1 * x.x1
                   + mix.mw2 * x.x2 + mix.mw3 * x.x3 > 0
              THEN 1 ELSE -1 END AS pred
  FROM x CROSS JOIN mix)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS tp,
       CAST(sum(CASE WHEN pred = 1 AND y = -1 THEN 1 ELSE 0 END)
            AS BIGINT) AS fp,
       CAST(sum(CASE WHEN pred = -1 AND y = -1 THEN 1 ELSE 0 END)
            AS BIGINT) AS tn,
       CAST(sum(CASE WHEN pred = -1 AND y = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS fn,
       round(CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS accuracy
FROM scored
"""


@register("perceptron_ipm_accuracy", _PM02_ORACLE)
def q_perceptron_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.decoding import (perceptron_ipm,
                                               perceptron_ipm_eval)

    x = _pm_input(spark, sf_dir)
    w = perceptron_ipm(x, "shard", "rid",
                       ["x0", "x1", "x2", "x3"], "y")
    return perceptron_ipm_eval(x, w, ["x0", "x1", "x2", "x3"], "y")
