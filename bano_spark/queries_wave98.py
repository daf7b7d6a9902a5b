"""Wave-98 driver queries: Markov-chain removal-effect attribution
(operators/markov_attr.py; Anderl et al. 2014) over per-(user, day)
journeys — events up to the first purchase form the path
START -> channels -> CONV/NULL, a hash of nothing: journeys are fully
data-derived.  Exposes (1) the journey transition matrix and (2) the
removal-effect attribution: redirect each channel's inbound edges to
NULL, re-solve the absorbing chain to horizon 12, report
RE(c) = 1 - p_removed/p_full and normalized shares.

Float discipline: the whole chain solve is one fold over the
(src, dst, cnt)-sorted transition array — identical addition order on
both engines, bit-identical doubles, no rounding.

Ref parity: completes the attribution bracket around the reference's
static source priorities (bano/models.py poids): wave-88 Shapley
credits channel sets, this credits sequential structure.

State indices: 0 START, 1 click, 2 error, 3 signup, 4 view,
5 CONV, 6 NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


CH_IDX = [1, 2, 3, 4]
CH_NAMES = ["click", "error", "signup", "view"]
N_STATES, START_I, CONV_I, NULL_I = 7, 0, 5, 6
H = 12

_ST_CASE = ("CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 "
            "WHEN 'signup' THEN 3 WHEN 'view' THEN 4 ELSE -1 END")


def _trans_fix(dialect: str) -> str:
    if dialect == "spark":
        day = "to_date(CAST(ts AS timestamp_ntz))"
        # UTC session: NTZ wall time == the instant DuckDB's epoch()
        # reads, so the (second, event_id) order keys agree.
        ep = ("unix_seconds(CAST(CAST(ts AS timestamp_ntz) AS "
              "TIMESTAMP)) * 1000000 + event_id % 1000000")
    else:
        day = "CAST(ts AS DATE)"
        ep = ("CAST(floor(epoch(ts)) AS BIGINT) * 1000000 "
              "+ event_id % 1000000")
    return f"""
WITH ev AS (
  SELECT user_id, {day} AS day, {ep} AS t,
         {_ST_CASE} AS st, event_type
  FROM events),
fp AS (
  SELECT user_id, day,
         min(CASE WHEN event_type = 'purchase' THEN t END) AS pt
  FROM ev GROUP BY user_id, day),
kept AS (
  SELECT e.user_id, e.day, e.t, e.st, fp.pt
  FROM ev e JOIN fp ON fp.user_id = e.user_id AND fp.day = e.day
  WHERE e.event_type != 'purchase'
    AND (fp.pt IS NULL OR e.t < fp.pt)),
seqd AS (
  SELECT user_id, day, t, st, pt,
         row_number() OVER (PARTITION BY user_id, day
                            ORDER BY t) AS rn,
         count(*) OVER (PARTITION BY user_id, day) AS k,
         lead(st) OVER (PARTITION BY user_id, day ORDER BY t) AS nxt
  FROM kept),
edges AS (
  SELECT CAST(0 AS BIGINT) AS src, CAST(st AS BIGINT) AS dst
  FROM seqd WHERE rn = 1
  UNION ALL
  SELECT CAST(st AS BIGINT), CAST(nxt AS BIGINT)
  FROM seqd WHERE nxt IS NOT NULL
  UNION ALL
  SELECT CAST(st AS BIGINT),
         CAST(CASE WHEN pt IS NOT NULL THEN 5 ELSE 6 END AS BIGINT)
  FROM seqd WHERE rn = k
  UNION ALL
  SELECT CAST(0 AS BIGINT), CAST(5 AS BIGINT)
  FROM fp f
  WHERE f.pt IS NOT NULL AND NOT EXISTS (
    SELECT 1 FROM kept k2
    WHERE k2.user_id = f.user_id AND k2.day = f.day))
SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
FROM edges GROUP BY src, dst
"""


_TM_ORACLE = _trans_fix("duckdb") + " ORDER BY src, dst"


@register("journey_transition_matrix", _TM_ORACLE)
def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return spark.sql(_trans_fix("spark") + " ORDER BY src, dst")


def _duck_solve(src_cte: str) -> str:
    """p_start after H steps from a transitions CTE named src_cte."""
    inner = f"""
      list_reduce(
        list_prepend([0.0, 0.0], ta),
        (b, e) -> CASE WHEN e[1] = CAST(s AS DOUBLE)
          THEN [b[1] + e[3] * p[CAST(e[2] AS INT) + 1], b[2] + e[3]]
          ELSE [b[1] + 0.0, b[2]] END)
    """
    step = f"""
      (p, t) -> list_transform(range(0, {N_STATES}), s ->
        CASE WHEN s = {CONV_I} THEN CAST(1.0 AS DOUBLE)
             WHEN s = {NULL_I} THEN CAST(0.0 AS DOUBLE)
             ELSE list_transform([{inner}],
                    b2 -> CASE WHEN b2[2] > 0 THEN b2[1] / b2[2]
                               ELSE CAST(0.0 AS DOUBLE) END)[1]
        END)
    """
    return f"""
  SELECT list_reduce(
           list_prepend(
             list_transform(range(0, {N_STATES}),
               i -> CASE WHEN i = {CONV_I} THEN CAST(1.0 AS DOUBLE)
                         ELSE CAST(0.0 AS DOUBLE) END),
             list_transform(range(1, {H + 1}),
                            t -> [CAST(t AS DOUBLE)])),
           {step})[{START_I + 1}] AS p
  FROM (SELECT list([CAST(src AS DOUBLE), CAST(dst AS DOUBLE),
                     CAST(cnt AS DOUBLE)]
                    ORDER BY src, dst) AS ta FROM {src_cte})
"""


def _mr_oracle() -> str:
    base = _trans_fix("duckdb")
    parts = [f"trans AS ({base})"]
    parts.append(f"pf AS MATERIALIZED ({_duck_solve('trans')})")
    for i, (ci, cn) in enumerate(zip(CH_IDX, CH_NAMES)):
        parts.append(f"""
red{i} AS MATERIALIZED (
  SELECT src, CASE WHEN dst = {ci} THEN {NULL_I} ELSE dst END AS dst,
         CAST(sum(cnt) AS BIGINT) AS cnt
  FROM trans WHERE src != {ci} GROUP BY 1, 2),
pr{i} AS MATERIALIZED ({_duck_solve(f'red{i}')})""")
    res = ", ".join(
        f"('{cn}', (SELECT p FROM pr{i}))"
        for i, cn in enumerate(CH_NAMES))
    re_tot = " + ".join(
        f"(1.0 - (SELECT p FROM pr{i}) / (SELECT p FROM pf))"
        for i in range(4))
    return f"""
WITH {", ".join(parts)},
ch AS (SELECT * FROM (VALUES {res}) v(channel, p_removed))
SELECT channel,
       (SELECT p FROM pf) + 0.0 AS p_full,
       p_removed + 0.0 AS p_removed,
       (1.0 - p_removed / (SELECT p FROM pf)) + 0.0
         AS removal_effect,
       (1.0 - p_removed / (SELECT p FROM pf)) / ({re_tot}) + 0.0
         AS share
FROM ch ORDER BY channel
"""


@register("markov_removal_attribution", _mr_oracle())
def q_markov_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.markov_attr import \
        markov_removal_attribution

    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    trans = spark.sql(_trans_fix("spark"))
    return markov_removal_attribution(
        trans, CH_IDX, CH_NAMES, n_states=N_STATES, start=START_I,
        conv=CONV_I, null=NULL_I, horizon=H)
