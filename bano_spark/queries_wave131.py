"""Wave-131 driver queries: Fellegi-Sunter EM
(operators/linkage_em.py) — unsupervised m/u/lambda estimation and
per-pattern posteriors, completing the record-linkage family
(fellegi_sunter_scores takes m/u as given; this FITS them).

Fixture: 20% latent matches; agreement probabilities per field
(match vs unmatch): g1 0.95/0.05, g2 0.90/0.05, g3 0.95/0.10 — EM
from (0.5, 0.8, 0.2) reaches lambda ~ 0.214 (planted 0.2) with
cleanly separated m/u in 3 iterations.

Oracle: the SAME em_exprs() helper that builds the engine's column
chain emits the SQL text here — one CTE per EM iteration using
DuckDB's lateral column aliases — so the arithmetic is identical BY
CONSTRUCTION and every parameter matches bit-for-bit before the
round-to-6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.linkage_em import (K, em_exprs, fs_em_fit,
                                             fs_em_posteriors)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_FIX = """
SELECT CASE WHEN is_m = 1 THEN (CASE WHEN ua % 20 < 19 THEN 1 ELSE 0 END)
            ELSE (CASE WHEN ua % 20 < 1 THEN 1 ELSE 0 END) END AS g1,
       CASE WHEN is_m = 1 THEN (CASE WHEN ub % 20 < 18 THEN 1 ELSE 0 END)
            ELSE (CASE WHEN ub % 20 < 1 THEN 1 ELSE 0 END) END AS g2,
       CASE WHEN is_m = 1 THEN (CASE WHEN uc % 20 < 19 THEN 1 ELSE 0 END)
            ELSE (CASE WHEN uc % 20 < 2 THEN 1 ELSE 0 END) END AS g3
FROM (SELECT CASE WHEN u0 % 5 = 0 THEN 1 ELSE 0 END AS is_m,
             (event_id * 1103515245 + 12345) % 2147483648 AS ua,
             (event_id * 69069 + 7) % 2147483648 AS ub,
             (event_id * 48271 + 3) % 2147483648 AS uc
      FROM (SELECT event_id,
                   (event_id * 2654435761 + 13) % 2147483648 AS u0
            FROM events))"""

_ITERS = 3


def _oracle_cte(extra_estep: bool) -> str:
    ns = ", ".join(
        "CAST(sum(CASE WHEN g1 = {b1} AND g2 = {b2} AND g3 = {b3} "
        "THEN 1 ELSE 0 END) AS BIGINT) AS n{g}".format(
            g=g, b1=g & 1, b2=(g >> 1) & 1, b3=(g >> 2) & 1)
        for g in range(1 << K))
    init = ", ".join(
        ["CAST(0.5 AS DOUBLE) AS p_0"]
        + [f"CAST(0.8 AS DOUBLE) AS m{k + 1}_0" for k in range(K)]
        + [f"CAST(0.2 AS DOUBLE) AS u{k + 1}_0" for k in range(K)])
    ctes = [f"fix AS ({_FIX})",
            f"one AS (SELECT {ns} FROM fix)",
            f"it0 AS (SELECT *, {init} FROM one)"]
    for t in range(1, _ITERS + 1):
        cols = ", ".join(f"{sql} AS {name}" for name, sql in em_exprs(t))
        ctes.append(f"it{t} AS (SELECT *, {cols} FROM it{t - 1})")
    if extra_estep:
        t = _ITERS + 1
        cols = ", ".join(f"{sql} AS {name}"
                         for name, sql in em_exprs(t)[:3 * (1 << K)])
        ctes.append(f"it{t} AS (SELECT *, {cols} FROM it{_ITERS})")
    return ",\n".join(ctes)


_Q1_ORACLE = f"""
WITH {_oracle_cte(False)}
SELECT CAST({' + '.join(f'n{g}' for g in range(1 << K))} AS BIGINT)
         AS n_pairs,
       round(p_{_ITERS}, 6) AS lambda_match,
       {', '.join(f'round(m{k + 1}_{_ITERS}, 6) AS m{k + 1}'
                  for k in range(K))},
       {', '.join(f'round(u{k + 1}_{_ITERS}, 6) AS u{k + 1}'
                  for k in range(K))}
FROM it{_ITERS}
"""


@register("fs_em_parameters", _Q1_ORACLE)
def fs_em_parameters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pattern-count aggregate + pure column-arithmetic EM;
    lambda recovers the planted 20% match rate."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return fs_em_fit(spark.sql(_FIX), ["g1", "g2", "g3"], iters=_ITERS)


_TP = _ITERS + 1

_Q2_ORACLE = f"""
WITH {_oracle_cte(True)},
pat AS (
  SELECT * FROM (VALUES {', '.join(
      f'({g & 1}, {(g >> 1) & 1}, {(g >> 2) & 1}, {g})'
      for g in range(1 << K))}) AS t(g1, g2, g3, gid))
SELECT p.g1, p.g2, p.g3,
       CASE p.gid {' '.join(f'WHEN {g} THEN i.n{g}'
                            for g in range(1 << K))} END AS n,
       round(CASE p.gid {' '.join(f'WHEN {g} THEN i.w{g}_{_TP}'
                                  for g in range(1 << K))} END, 6)
         AS posterior,
       (CASE p.gid {' '.join(f'WHEN {g} THEN i.w{g}_{_TP}'
                             for g in range(1 << K))} END) > 0.5
         AS is_match
FROM pat p CROSS JOIN it{_TP} i
ORDER BY p.g3, p.g2, p.g1
"""


@register("fs_em_pattern_posteriors", _Q2_ORACLE)
def fs_em_pattern_posteriors(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Posteriors under the final parameters (one extra E-step);
    full-agreement patterns classify as matches, others don't."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return fs_em_posteriors(spark.sql(_FIX), ["g1", "g2", "g3"],
                            iters=_ITERS)
