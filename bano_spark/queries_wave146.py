"""Wave-146 driver queries: post-hoc multiple comparisons
(operators/posthoc.py) — Tukey-Kramer HSD and Bonferroni pairwise z
over the five event types with planted mean shifts (+6 for 'error',
+2 for 'purchase' on mod-41 noise): all 7 contrasts involving a
shifted group flag significant, the 3 null contrasts don't.

Oracles: the same one-row pivot of exact integer (n, s, ss) per
group, pairwise chains generated with IDENTICAL text (the generator
is parameter-shared), exploded via UNION-free array unnest."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.posthoc import (Q_TUKEY_5_INF, Z_BONF_10,
                                          bonferroni_pairs, tukey_hsd)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_GROUPS = ["click", "error", "purchase", "signup", "view"]

_FIX = """
SELECT event_type AS g,
       u % 41 + (CASE event_type WHEN 'error' THEN 6
                 WHEN 'purchase' THEN 2 ELSE 0 END) AS y
FROM (SELECT event_type,
             (event_id * 2654435761 + 13) % 2147483648 AS u
      FROM events)"""


def _cells() -> str:
    out = []
    for i, g in enumerate(_GROUPS):
        out += [
            f"CAST(sum(CASE WHEN g = '{g}' THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS n{i}",
            f"CAST(sum(CASE WHEN g = '{g}' THEN y ELSE 0 END) "
            f"AS BIGINT) AS s{i}",
            f"CAST(sum(CASE WHEN g = '{g}' THEN y * y ELSE 0 END) "
            f"AS BIGINT) AS ss{i}"]
    return ", ".join(out)


def _mse() -> str:
    num = " + ".join(
        f"(CAST(ss{i} AS DOUBLE) - CAST(s{i} AS DOUBLE) "
        f"* CAST(s{i} AS DOUBLE) / CAST(n{i} AS DOUBLE))"
        for i in range(5))
    nt = " + ".join(f"n{i}" for i in range(5))
    return f"(({num}) / CAST(({nt}) - 5 AS DOUBLE))"


def _pair_rows(crit: float, se_half: bool, stat: str) -> str:
    rows = []
    for i in range(5):
        for j in range(i + 1, 5):
            diff = (f"(CAST(s{i} AS DOUBLE) / CAST(n{i} AS DOUBLE) "
                    f"- CAST(s{j} AS DOUBLE) / CAST(n{j} AS DOUBLE))")
            half = "0.5 * " if se_half else ""
            se = (f"sqrt({half}{_mse()} "
                  f"* (1.0 / CAST(n{i} AS DOUBLE) "
                  f"+ 1.0 / CAST(n{j} AS DOUBLE)))")
            rows.append(
                f"SELECT '{_GROUPS[i]}' AS g1, '{_GROUPS[j]}' AS g2, "
                f"round({diff}, 6) AS mean_diff, "
                f"round({se}, 6) AS se, "
                f"round(abs({diff}) / {se}, 6) AS {stat}, "
                f"abs({diff}) / {se} > {crit!r} AS significant "
                f"FROM one")
    return " UNION ALL ".join(rows)


_Q1_ORACLE = f"""
WITH fix AS ({_FIX}),
one AS (SELECT {_cells()} FROM fix)
{_pair_rows(Q_TUKEY_5_INF, True, 'q_stat')}
ORDER BY g1, g2
"""


@register("tukey_hsd_pairs", _Q1_ORACLE)
def tukey_hsd_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-Kramer over 10 contrasts from ONE pivoted moment row."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return tukey_hsd(spark.sql(_FIX), "g", "y", _GROUPS)


_Q2_ORACLE = f"""
WITH fix AS ({_FIX}),
one AS (SELECT {_cells()} FROM fix)
{_pair_rows(Z_BONF_10, False, 'z_stat')}
ORDER BY g1, g2
"""


@register("bonferroni_pairwise_z", _Q2_ORACLE)
def bonferroni_pairwise_z(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Bonferroni-corrected pairwise z (m = 10) — the conservative
    companion; agrees with Tukey on this separation."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return bonferroni_pairs(spark.sql(_FIX), "g", "y", _GROUPS)
