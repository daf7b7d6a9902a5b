"""Wave-106 driver queries: critical-path scheduling
(operators/cpm.py) over a layered task DAG — forward earliest times,
full slack/critical classification, and per-layer critical-chain
stats.

Fixture: 200 tasks (event_id % 200), layer = task % 10, duration =
(task * 7919) % 13 + 1; edges run layer L -> L+1 with a hash gate
((u * 31 + v * 17) % 5 < 2), so the DAG is acyclic by construction
with depth exactly 9 — the Spark side converges in <= 9 structural
rounds (loud guard beyond), and the DuckDB oracle unrolls 9
MATERIALIZED max/min relaxation rounds (never path enumeration,
which is exponential on layered DAGs).

Scale note: each relaxation round is an edges-x-labels equi-join +
groupBy max — the SSSP shape; depth-bounded DAGs (build pipelines,
compile graphs) need depth rounds regardless of node count.

Ref parity: the reference's per-department build is a serial
dependency chain from cron (bano/cron_dept.sh); CPM is the
scheduling algebra of that dependency DAG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.cpm import cpm_forward, cpm_schedule
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()

DEPTH = 9


def _tasks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.select((F.col("event_id") % 200).alias("task")).distinct()
            .select("task",
                    ((F.col("task") * 7919) % 13 + 1).cast("bigint")
                    .alias("dur"),
                    (F.col("task") % 10).alias("layer")))


def _edges(tasks: DataFrame) -> DataFrame:
    a = tasks.select(F.col("task").alias("src"),
                     F.col("layer").alias("la"))
    b = tasks.select(F.col("task").alias("dst"),
                     (F.col("layer") - 1).alias("la"))
    return (a.join(b, "la")
            .filter((F.col("src") * 31 + F.col("dst") * 17) % 5 < 2)
            .select("src", "dst"))


_FIX_CTE = """
tasks AS MATERIALIZED (
  SELECT task, CAST((task * 7919) % 13 + 1 AS BIGINT) AS dur,
         task % 10 AS layer
  FROM (SELECT DISTINCT event_id % 200 AS task FROM events)),
edges AS MATERIALIZED (
  SELECT a.task AS src, b.task AS dst
  FROM tasks a JOIN tasks b ON b.layer = a.layer + 1
  WHERE (a.task * 31 + b.task * 17) % 5 < 2),
es0 AS (SELECT task, CAST(0 AS BIGINT) AS x FROM tasks)
"""


def _fwd_rounds() -> str:
    parts = []
    for k in range(1, DEPTH + 1):
        parts.append(f"""
es{k} AS MATERIALIZED (
  SELECT a.task,
         CASE WHEN c.c IS NULL OR c.c < a.x THEN a.x ELSE c.c END AS x
  FROM es{k - 1} a
  LEFT JOIN (SELECT e.dst AS task, max(p.x + d.dur) AS c
             FROM edges e
             JOIN es{k - 1} p ON p.task = e.src
             JOIN tasks d ON d.task = e.src
             GROUP BY e.dst) c ON c.task = a.task)""")
    return ",".join(parts)


def _bwd_rounds() -> str:
    parts = [f"""
mk AS (SELECT max(e.x + t.dur) AS m
       FROM es{DEPTH} e JOIN tasks t ON t.task = e.task),
lf0 AS (SELECT task, (SELECT m FROM mk) AS x FROM tasks)"""]
    for k in range(1, DEPTH + 1):
        parts.append(f"""
lf{k} AS MATERIALIZED (
  SELECT a.task,
         CASE WHEN c.c IS NULL OR c.c > a.x THEN a.x ELSE c.c END AS x
  FROM lf{k - 1} a
  LEFT JOIN (SELECT e.src AS task, min(p.x - d.dur) AS c
             FROM edges e
             JOIN lf{k - 1} p ON p.task = e.dst
             JOIN tasks d ON d.task = e.dst
             GROUP BY e.src) c ON c.task = a.task)""")
    return ",".join(parts)


_CP01_ORACLE = f"""
WITH {_FIX_CTE}, {_fwd_rounds()}
SELECT t.task, t.dur, CAST(e.x AS BIGINT) AS es,
       CAST(e.x + t.dur AS BIGINT) AS ef
FROM tasks t JOIN es{DEPTH} e ON e.task = t.task
"""


@register("cpm_forward_times", _CP01_ORACLE)
def cpm_forward_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tasks(spark, sf_dir)
    return cpm_forward(t.select("task", "dur"), _edges(t),
                       max_rounds=DEPTH + 2)


_CP_FULL_CTE = f"""
{_FIX_CTE}, {_fwd_rounds()}, {_bwd_rounds()},
sched AS (
  SELECT t.task, t.dur, t.layer,
         CAST(e.x AS BIGINT) AS es, CAST(e.x + t.dur AS BIGINT) AS ef,
         CAST(l.x - t.dur AS BIGINT) AS ls, CAST(l.x AS BIGINT) AS lf,
         CAST(l.x - (e.x + t.dur) AS BIGINT) AS slack,
         l.x - (e.x + t.dur) = 0 AS is_critical
  FROM tasks t
  JOIN es{DEPTH} e ON e.task = t.task
  JOIN lf{DEPTH} l ON l.task = t.task)
"""

_CP02_ORACLE = f"""
WITH {_CP_FULL_CTE}
SELECT task, dur, es, ef, ls, lf, slack, is_critical FROM sched
"""


@register("cpm_slack_critical", _CP02_ORACLE)
def cpm_slack_critical(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tasks(spark, sf_dir)
    return cpm_schedule(t.select("task", "dur"), _edges(t),
                        max_rounds=DEPTH + 2)


_CP03_ORACLE = f"""
WITH {_CP_FULL_CTE}
SELECT CAST(layer AS BIGINT) AS layer,
       CAST(count(*) AS BIGINT) AS n_tasks,
       CAST(count(*) FILTER (WHERE is_critical) AS BIGINT)
         AS n_critical,
       CAST(min(slack) AS BIGINT) AS min_slack,
       CAST(max(slack) AS BIGINT) AS max_slack
FROM sched GROUP BY layer
"""


@register("cpm_critical_chain_stats", _CP03_ORACLE)
def cpm_critical_chain_stats(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Every layer must contain >= 1 critical task (a longest path
    crosses each layer of a layered DAG) — the per-layer rollup makes
    that invariant oracle-visible."""
    t = _tasks(spark, sf_dir)
    sched = cpm_schedule(t.select("task", "dur"), _edges(t),
                         max_rounds=DEPTH + 2)
    return (sched.join(t.select("task", "layer"), "task")
            .groupBy(F.col("layer").cast("bigint").alias("layer"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tasks"),
                 F.count(F.when(F.col("is_critical"), 1)).cast("bigint")
                 .alias("n_critical"),
                 F.min("slack").cast("bigint").alias("min_slack"),
                 F.max("slack").cast("bigint").alias("max_slack")))
