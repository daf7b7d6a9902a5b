"""Wave-147 driver queries: group-sequential monitoring
(operators/groupseq.py) — O'Brien-Fleming at 4 looks over a planted
+1-on-mod-40 treatment effect: the early looks' huge boundaries hold,
the trial stops at the first look whose z clears OBF.

Oracle: identical conditional prefix aggregate (look membership by
the exact integer compare t*K < N*l) and identical per-look chains;
first_crossing via the same in-array min fold."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bano_spark.operators.groupseq import OBF_K4, obf_looks
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


_FIX = """
SELECT event_id AS t, u1 % 2 AS x,
       u2 % 40 + (u1 % 2) AS y
FROM (SELECT event_id,
             (event_id * 2654435761 + 13) % 2147483648 AS u1,
             (event_id * 1103515245 + 12345) % 2147483648 AS u2
      FROM events)"""


def _look_cells() -> str:
    out = []
    for l in range(1, 5):
        for arm, cond in [("t", "x = 1"), ("c", "x = 0")]:
            sel = f"t * 4 < N * {l} AND {cond}"
            out += [
                f"CAST(sum(CASE WHEN {sel} THEN 1 ELSE 0 END) "
                f"AS BIGINT) AS n{arm}{l}",
                f"CAST(sum(CASE WHEN {sel} THEN y ELSE 0 END) "
                f"AS BIGINT) AS s{arm}{l}",
                f"CAST(sum(CASE WHEN {sel} THEN y * y ELSE 0 END) "
                f"AS BIGINT) AS ss{arm}{l}"]
    return ", ".join(out)


def _look_row(l: int) -> str:
    nt, nc = f"CAST(nt{l} AS DOUBLE)", f"CAST(nc{l} AS DOUBLE)"
    mt = f"(CAST(st{l} AS DOUBLE) / {nt})"
    mc = f"(CAST(sc{l} AS DOUBLE) / {nc})"
    vt = (f"(CAST(sst{l} AS DOUBLE) - CAST(st{l} AS DOUBLE) "
          f"* CAST(st{l} AS DOUBLE) / {nt})")
    vc = (f"(CAST(ssc{l} AS DOUBLE) - CAST(sc{l} AS DOUBLE) "
          f"* CAST(sc{l} AS DOUBLE) / {nc})")
    s2p = f"(({vt} + {vc}) / ({nt} + {nc} - 2.0))"
    se = f"sqrt({s2p} * (1.0 / {nt} + 1.0 / {nc}))"
    z = f"(({mt} - {mc}) / {se})"
    b = OBF_K4[l - 1]
    return (f"SELECT {l} AS look, nt{l} + nc{l} AS n_so_far, "
            f"nt{l} AS n_treat, nc{l} AS n_ctrl, "
            f"round({mt} - {mc}, 6) AS mean_diff, "
            f"round({z}, 6) AS z_stat, "
            f"CAST({b!r} AS DOUBLE) AS boundary, "
            f"abs({z}) > {b!r} AS crossed FROM one")


_Q1_ORACLE = f"""
WITH fix AS ({_FIX}),
nn AS (SELECT CAST(count(*) AS BIGINT) AS N FROM fix),
one AS (SELECT {_look_cells()} FROM fix CROSS JOIN nn),
looks AS ({' UNION ALL '.join(_look_row(l) for l in range(1, 5))}),
fc AS (SELECT min(CASE WHEN crossed THEN look END) AS first_crossing
       FROM looks)
SELECT l.look, l.n_so_far, l.n_treat, l.n_ctrl, l.mean_diff,
       l.z_stat, l.boundary, l.crossed, f.first_crossing
FROM looks l CROSS JOIN fc f ORDER BY l.look
"""


@register("obf_sequential_looks", _Q1_ORACLE)
def obf_sequential_looks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four OBF looks from ONE conditional prefix aggregate; the
    planted effect crosses once enough data accrues."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return obf_looks(spark.sql(_FIX), "t", "x", "y")
