"""Wave-123 driver queries: HMM sum-product inference
(operators/hmm.py) — forward log-likelihood, final-state posterior,
and forward-backward posterior occupancy, over the SAME per-user
event-type sequences (and injective time key) as wave 84's Viterbi.

Oracles: DuckDB list_reduce replays with FLAT DOUBLE-LIST accumulators
(layouts [ll, a1..a3] / [ll, hist...] / [px, hist...]; fresh lists in
every branch, per the struct-accumulator and ELSE-acc gotchas). The
posterior path has no transcendentals — alpha/beta/gamma are IEEE
chains over dyadic model probabilities, shipped UNROUNDED; only ll
(a sum of libm ln scale factors) is rounded to 6.

Ref parity: the probabilistic sequence-labeling layer next to
viterbi_event_states — sum-product marginals where Viterbi gives the
MAP path (Rabiner 1989 scaling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.hmm import (EMIT_P, INIT_P, TRANS_P,
                                      hmm_forward, hmm_posteriors)
from bano_spark.queries_wave84 import _VD_FIX_DUCK, _viterbi_input
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _dld(vals) -> str:
    return "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + "]"


def _dld2(mat) -> str:
    return "[" + ", ".join(_dld(r) for r in mat) + "]"


_INI, _TRA, _EMI = _dld(INIT_P), _dld2(TRANS_P), _dld2(EMIT_P)
_OBSIX = "CAST(v[1] AS INT) + 1"
_THIRD = f"CAST({(1.0 / 3.0)!r} AS DOUBLE)"

_SEQ_CTE = f"""
sq AS (
  SELECT user_id AS k, list(o ORDER BY t) AS ol
  FROM ({_VD_FIX_DUCK}) GROUP BY user_id)"""


def _ap_init() -> str:
    return "[" + ", ".join(
        f"({_INI})[{j}] * ({_EMI})[{j}][{_OBSIX}]"
        for j in range(1, 4)) + "]"


def _ap_rec(a_of) -> str:
    """a_of(i) -> SQL for previous normalized alpha_i (1-based)."""
    terms = []
    for j in range(1, 4):
        dot = " + ".join(f"{a_of(i)} * ({_TRA})[{i}][{j}]"
                         for i in range(1, 4))
        terms.append(f"({dot}) * ({_EMI})[{j}][{_OBSIX}]")
    return "[" + ", ".join(terms) + "]"


_FWD_SLIM = f"""
list_reduce(
  list_prepend([CAST(0.0 AS DOUBLE)],
               list_transform(ol, o -> [CAST(o AS DOUBLE)])),
  (s, v) -> list_transform(
    [CASE WHEN len(s) = 1 THEN {_ap_init()}
          ELSE {_ap_rec(lambda i: f's[{i + 1}]')} END],
    ap -> list_transform([ap[1] + ap[2] + ap[3]],
      c -> [s[1] + ln(c), ap[1] / c, ap[2] / c, ap[3] / c])[1])[1])"""

_FWD_HIST = f"""
list_reduce(
  list_prepend([CAST(0.0 AS DOUBLE)],
               list_transform(ol, o -> [CAST(o AS DOUBLE)])),
  (s, v) -> list_transform(
    [CASE WHEN len(s) = 1 THEN {_ap_init()}
          ELSE {_ap_rec(lambda i: f's[len(s) - {3 - i}]')} END],
    ap -> list_transform([ap[1] + ap[2] + ap[3]],
      c -> list_concat(list_concat([s[1] + ln(c)],
                                    list_slice(s, 2, len(s))),
                       [ap[1] / c, ap[2] / c, ap[3] / c]))[1])[1])"""


def _bp_rec() -> str:
    terms = []
    for i in range(1, 4):
        dot = " + ".join(
            f"({_TRA})[{i}][{j}] * ({_EMI})[{j}][CAST(s[1] AS INT) + 1]"
            f" * s[len(s) - {3 - j}]" for j in range(1, 4))
        terms.append(f"({dot})")
    return "[" + ", ".join(terms) + "]"


_BWD_HIST = f"""
list_reduce(
  list_prepend([CAST(-1.0 AS DOUBLE)],
               list_transform(list_reverse(ol),
                              o -> [CAST(o AS DOUBLE)])),
  (s, v) -> CASE WHEN len(s) = 1
    THEN [CAST(v[1] AS DOUBLE), {_THIRD}, {_THIRD}, {_THIRD}]
    ELSE list_transform(
      [{_bp_rec()}],
      bp -> list_transform([bp[1] + bp[2] + bp[3]],
        c -> list_concat(list_concat([CAST(v[1] AS DOUBLE)],
                                      list_slice(s, 2, len(s))),
                         [bp[1] / c, bp[2] / c, bp[3] / c]))[1])[1]
    END)"""


_Q1_ORACLE = f"""
WITH {_SEQ_CTE},
f AS (SELECT k, len(ol) AS n_obs, {_FWD_SLIM} AS st FROM sq)
SELECT k, CAST(n_obs AS BIGINT) AS n_obs, ROUND(st[1], 6) AS ll,
       ROUND(-st[1] / n_obs, 6) AS avg_nll
FROM f ORDER BY k
"""


@register("hmm_forward_loglik", _Q1_ORACLE)
def hmm_forward_loglik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user marginal log-likelihood of the observed event-type
    sequence under the 3-state behavioral HMM (scaled forward pass)."""
    d = hmm_forward(_viterbi_input(spark, sf_dir), "user_id", "t", "o")
    return (d.select("k", "n_obs", F.round("ll", 6).alias("ll"),
                     F.round(-F.col("ll") / F.col("n_obs"), 6)
                     .alias("avg_nll"))
            .orderBy("k"))


_Q2_ORACLE = f"""
WITH {_SEQ_CTE},
f AS (SELECT k, len(ol) AS n_obs, {_FWD_SLIM} AS st FROM sq)
SELECT k, CAST(n_obs AS BIGINT) AS n_obs,
       st[2] AS a0, st[3] AS a1, st[4] AS a2,
       CAST(CASE WHEN st[2] >= st[3] AND st[2] >= st[4] THEN 0
                 WHEN st[3] >= st[4] THEN 1 ELSE 2 END AS BIGINT)
         AS map_state
FROM f ORDER BY k
"""


@register("hmm_final_posterior", _Q2_ORACLE)
def hmm_final_posterior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final-state posterior P(state_T | obs) per user, UNROUNDED (the
    posterior path is transcendental-free), plus its argmax."""
    d = hmm_forward(_viterbi_input(spark, sf_dir), "user_id", "t", "o")
    ms = (F.when((F.col("a0") >= F.col("a1"))
                 & (F.col("a0") >= F.col("a2")), 0)
          .when(F.col("a1") >= F.col("a2"), 1).otherwise(2))
    return (d.select("k", "n_obs", "a0", "a1", "a2",
                     ms.cast("bigint").alias("map_state"))
            .orderBy("k"))


def _occ_sql(j: int) -> str:
    """Occupancy sum for 0-based state j over flat hists f and b."""
    fh = f"f[2 + 3 * t + {j}]"
    bh = f"b[2 + 3 * (tl - 1 - t) + {j}]"
    den = " + ".join(f"f[2 + 3 * t + {i}] * b[2 + 3 * (tl - 1 - t) + {i}]"
                     for i in range(3))
    return f"""
list_reduce(
  list_prepend(CAST(0.0 AS DOUBLE),
    list_transform(range(0, tl),
      t -> list_transform([{den}], dn -> {fh} * {bh} / dn)[1])),
  (s, v) -> s + v)"""


_Q3_ORACLE = f"""
WITH {_SEQ_CTE},
fb AS (SELECT k, len(ol) AS tl, {_FWD_HIST} AS f, {_BWD_HIST} AS b
       FROM sq)
SELECT k, CAST(tl AS BIGINT) AS n_obs,
       {_occ_sql(0)} AS occ0,
       {_occ_sql(1)} AS occ1,
       {_occ_sql(2)} AS occ2
FROM fb ORDER BY k
"""


@register("hmm_posterior_occupancy", _Q3_ORACLE)
def hmm_posterior_occupancy(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Forward-backward expected state occupancy per user — shipped
    UNROUNDED: gamma is an IEEE chain over dyadic model entries, so
    both engines produce identical bits."""
    return (hmm_posteriors(_viterbi_input(spark, sf_dir), "user_id", "t", "o")
            .orderBy("k"))
