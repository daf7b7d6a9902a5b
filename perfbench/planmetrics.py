"""Per-layer numbers read from outside the engine: Spark's event log.

A traced session runs with ``spark.eventLog.enabled``; every action of
the traced run is tagged through the ``perfbench.tag`` local property,
which Spark copies onto each job it starts (broadcast and subquery jobs
included). After the session stops, this module rebuilds from the log:

* the executed plan of each SQL execution, taking the last adaptive
  (AQE) update, i.e. the final plan, with every SQL metric summed from
  the task-end and driver accumulator updates;
* the task metrics (run time, GC, spill, shuffle) of every stage.

Nothing in ``bano_spark`` is instrumented; the plan node names and
metric display names are Spark's own.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict

TAG = "perfbench.tag"

_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


class Node:
    """One physical plan operator with its SQL metrics (display names)."""

    def __init__(self, info: dict, acc: dict, parent: Node | None):
        self.name = info["nodeName"].strip()
        self.desc = info.get("simpleString", "")
        self.location = (info.get("metadata") or {}).get("Location", "")
        self.key = tuple(sorted(m["accumulatorId"] for m in info["metrics"]))
        self.metrics = {m["name"]: acc.get(m["accumulatorId"], 0)
                        for m in info["metrics"]}
        self.parent = parent
        self.children = [Node(c, acc, self) for c in info["children"]]

    def m(self, name: str) -> int:
        return self.metrics.get(name, 0)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def ancestors(self):
        p = self.parent
        while p is not None:
            yield p
            p = p.parent

    def first(self, name: str) -> "Node | None":
        """Pre-order first descendant (self excluded) named ``name``."""
        for n in self.walk():
            if n is not self and n.name == name:
                return n
        return None


def _event_files(log_dir: str) -> list[str]:
    files = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    files = [f for f in files if os.path.isfile(f)
             and not os.path.basename(f).startswith("appstatus")]

    def order(f: str):
        m = re.match(r"events_(\d+)_", os.path.basename(f))
        return (int(m.group(1)) if m else 0, f)

    return sorted(files, key=order)


class EventLog:
    """Plans, SQL metrics and task metrics of one traced session."""

    def __init__(self, log_dir: str):
        acc: dict[int, int] = defaultdict(int)
        plan_info: dict[int, dict] = {}
        stage_tag: dict[int, str] = {}
        exec_tag: dict[int, str] = {}
        tasks = []
        for path in _event_files(log_dir):
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    e = json.loads(line)
                    kind = e["Event"]
                    if kind == "SparkListenerTaskEnd":
                        info = e["Task Info"]
                        for a in info.get("Accumulables", []):
                            if a.get("Metadata") == "sql":
                                acc[a["ID"]] += int(a["Update"])
                        tm = e.get("Task Metrics") or {}
                        tasks.append((e["Stage ID"], tm))
                    elif kind.endswith("DriverAccumUpdates"):
                        for i, v in e["accumUpdates"]:
                            acc[i] += int(v)
                    elif kind.endswith("SQLExecutionStart") or kind.endswith(
                            "SQLAdaptiveExecutionUpdate"):
                        plan_info[e["executionId"]] = e["sparkPlanInfo"]
                    elif kind == "SparkListenerJobStart":
                        props = e.get("Properties") or {}
                        tag = props.get(TAG)
                        if tag is None:
                            continue
                        for s in e["Stage IDs"]:
                            stage_tag[s] = tag
                        ex = props.get("spark.sql.execution.id")
                        if ex is not None:
                            exec_tag[int(ex)] = tag
        self.plans = {ex: Node(info, acc, None)
                      for ex, info in sorted(plan_info.items())
                      if ex in exec_tag}
        self.exec_tag = exec_tag
        self.tasks = [(s, stage_tag.get(s), tm) for s, tm in tasks]

    def roots(self, tag: str) -> list[Node]:
        return [p for ex, p in self.plans.items() if self.exec_tag[ex] == tag]

    def task_metrics(self, tag: str) -> dict[str, float]:
        """Task-level totals of the jobs carrying ``tag``."""
        mine = [(s, tm) for s, t, tm in self.tasks if t == tag]
        by_stage: dict[int, list[int]] = defaultdict(list)
        gc = spill = shuffle = 0
        for s, tm in mine:
            by_stage[s].append(tm.get("Executor Run Time", 0))
            gc += tm.get("JVM GC Time", 0)
            spill += tm.get("Disk Bytes Spilled", 0)
            shuffle += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
        skew = 0.0
        if by_stage:
            slowest = max(by_stage.values(), key=sum)
            med = statistics.median(slowest)
            skew = max(slowest) / med if med > 0 else float(len(slowest) > 0)
        return {
            "spark.gc_s": gc / 1000.0,
            "spark.spill_bytes": spill,
            "spark.shuffle_bytes": shuffle,
            "spark.tasks": len(mine),
            "spark.task_skew": skew,
        }


def unique_nodes(roots: list[Node]):
    """Every operator once: a cached plan is repeated under each
    InMemoryTableScan that reads it and a reused exchange under each
    consumer, but both carry the same metric accumulators."""
    seen = set()
    for r in roots:
        for n in r.walk():
            if n.key and n.key in seen:
                continue
            if n.key:
                seen.add(n.key)
            yield n


def _exchange_kind(n: Node) -> str:
    m = re.match(r"Exchange (\w+)", n.desc)
    return m.group(1) if m else ""


def _is_pages_scan(n: Node, pages_dirs) -> bool:
    return n.name.startswith("Scan parquet") and any(
        d in n.location for d in pages_dirs)


def plan_shape(roots: list[Node]) -> dict[str, float]:
    """Operator counts of the executed plans: a plan change (a cell
    table instead of points in the shuffle, one fewer broadcast) shows
    here as a count. Pages scans are counted by ``scan_metrics``."""
    exchanges = broadcasts = python = 0
    bcast_bytes = 0
    for n in unique_nodes(roots):
        if n.name == "Exchange":
            exchanges += 1
        elif n.name == "BroadcastExchange":
            broadcasts += 1
            bcast_bytes += n.m("data size")
        elif _PYTHON_NODE.search(n.name):
            python += 1
    return {
        "plan.exchanges": exchanges,
        "plan.broadcasts": broadcasts,
        "plan.broadcast_bytes": bcast_bytes,
        "plan.python_nodes": python,
    }


def scan_metrics(roots: list[Node], pages_dirs) -> dict[str, float]:
    nodes = [n for n in unique_nodes(roots) if _is_pages_scan(n, pages_dirs)]
    return {
        "sources.pages.scan_count": len(nodes),
        "sources.pages.scan_bytes": sum(n.m("size of files read") for n in nodes),
    }


def pip_metrics(roots: list[Node]) -> dict[str, float]:
    """spatial_join(split_refine=True) plans: interior-cell candidates
    and boundary-cell candidates are two branches of a Union; only the
    boundary branch crosses into Python (MapInArrow, the exact refine).
    Executions without a refine contribute nothing."""
    pip_roots = [r for r in roots if any(n.name == "MapInArrow" for n in r.walk())]
    nodes = list(unique_nodes(pip_roots))
    refines = [n for n in nodes if n.name == "MapInArrow"]
    interior = boundary = cover = 0
    rollup_bytes = rollup_rows = 0
    for m in refines:
        b_join = m.first("BroadcastHashJoin")
        union = next((a for a in m.ancestors() if a.name == "Union"), None)
        if b_join is None or union is None:
            continue
        i_branch = next(c for c in union.children if m not in list(c.walk()))
        i_join = next((n for n in i_branch.walk()
                       if n.name == "BroadcastHashJoin"), None)
        boundary += b_join.m("number of output rows")
        for j in (b_join, i_join):
            if j is None:
                continue
            cover += sum(n.m("number of output rows") for n in j.walk()
                         if n.name == "BroadcastExchange")
        interior += i_join.m("number of output rows") if i_join else 0
        # the tile rollup sits above the union: its first exchange
        # carries the partial (per-task, per-tile) aggregates
        ups = [a for a in union.ancestors() if a.name == "Exchange"]
        if ups:
            rollup_rows += ups[0].m("shuffle records written")
            rollup_bytes += sum(a.m("shuffle bytes written") for a in ups)
    kept = sum(n.m("number of output rows") for n in refines)
    return {
        "pip_join.cover_cells": cover,
        "pip_join.broadcast_bytes": sum(n.m("data size") for n in nodes
                                        if n.name == "BroadcastExchange"),
        "pip_join.candidates": interior + boundary,
        "pip_join.interior_rows": interior,
        "pip_join.boundary_rows": boundary,
        "pip_join.refine_python_s": sum(
            n.m("time to run Python workers") for n in refines) / 1000.0,
        "pip_join.refine_arrow_bytes": sum(
            n.m("data sent to Python workers") for n in refines),
        "pip_join.refine_kept": kept,
        "pip_join.refine_keep_ratio": kept / boundary if boundary else 0.0,
        "tiles.rollup_shuffle_bytes": rollup_bytes,
        "tiles.rollup_partial_rows": rollup_rows,
    }


def export_metrics(roots: list[Node]) -> dict[str, float]:
    """pipelines.export_csv plans: the normalize dictionary is the
    ArrowEvalPython subtree; conciliation is every other hash exchange;
    the global order is the range-partitioning exchange."""
    nodes = list(unique_nodes(roots))
    udfs = [n for n in nodes if n.name == "ArrowEvalPython"]
    in_udf = set()
    for u in udfs:
        in_udf.update(id(n) for n in u.walk())
    dict_joins = {id(j): j for j in (
        next((a for a in u.ancestors() if a.name == "BroadcastHashJoin"), None)
        for u in udfs) if j is not None}.values()
    hash_x = [n for n in nodes if n.name == "Exchange"
              and _exchange_kind(n) == "hashpartitioning" and id(n) not in in_udf]
    range_x = [n for n in nodes if n.name == "Exchange"
               and _exchange_kind(n) == "rangepartitioning"]
    writes = [n for n in nodes
              if n.name == "Execute InsertIntoHadoopFsRelationCommand"]
    return {
        "normalize.rows_in": sum(n.m("number of output rows") for n in dict_joins),
        "normalize.udf_rows": sum(n.m("number of output rows") for n in udfs),
        "normalize.python_s": sum(
            n.m("time to run Python workers") for n in udfs) / 1000.0,
        "conciliation.shuffle_bytes": sum(n.m("shuffle bytes written") for n in hash_x),
        "conciliation.rows_out": sum(n.m("shuffle records written") for n in range_x),
        "export.sort_shuffle_bytes": sum(n.m("shuffle bytes written") for n in range_x),
        "export.bytes_written": sum(n.m("written output") for n in writes),
    }


_WRAPPERS = ("Project", "WholeStageCodegen", "InputAdapter")


def _above(n: Node) -> Node | None:
    """The first ancestor that is not a codegen wrapper or projection."""
    return next((a for a in n.ancestors()
                 if not a.name.startswith(_WRAPPERS)), None)


def diff_metrics(roots: list[Node]) -> dict[str, float]:
    """streaming.incremental.snapshot_dirty_tiles + operators.tiling:
    the snapshot diff is an outer join on the page key (Catalyst splits
    the full outer join into one outer join per side) filtered to
    changed rows; the distinct expired tiles then meet the commune
    cover (MapInPandas, operators.pip_join.polygon_cover) in a
    broadcast join."""
    nodes = list(unique_nodes(roots))
    outer = [n for n in nodes if "Join" in n.name and "Outer," in n.desc]
    changed = 0
    for j in outer:
        f = _above(j)
        changed += f.m("number of output rows") if f and f.name == "Filter" else 0
    shuffle = 0
    for x in nodes:
        if x.name != "Exchange":
            continue
        below = {n.name for n in x.walk()}
        if any(j in list(x.walk()) for j in outer) and "MapInPandas" not in below:
            shuffle += x.m("shuffle bytes written")
    covers = [n for n in nodes if n.name == "MapInPandas"]
    tiles = 0
    for c in covers:
        j = next((a for a in c.ancestors() if a.name == "BroadcastHashJoin"), None)
        if j is None:
            continue
        probe = next((ch for ch in j.children if c not in list(ch.walk())), None)
        agg = next((n for n in probe.walk() if n.name == "HashAggregate"), None) \
            if probe else None
        tiles += agg.m("number of output rows") if agg else 0
    return {
        "incremental.diff_shuffle_bytes": shuffle,
        "incremental.changed_rows": changed,
        "incremental.dirty_tiles": tiles,
        "tiling.cover_cells": sum(n.m("number of output rows") for n in covers),
    }


def write_metrics(roots: list[Node], out_dir: str, log_dir: str) -> dict[str, float]:
    """plans.lineage.resumable_partition_write: how often the recompute
    plan (the one with the refine) ran, the partitioned output write and
    the lineage-log append."""
    writes = [n for n in unique_nodes(roots)
              if n.name == "Execute InsertIntoHadoopFsRelationCommand"]
    out = [n for n in writes if out_dir in n.desc]
    log = [n for n in writes if log_dir in n.desc]
    return {
        "lineage.plan_executions": sum(
            any(n.name == "MapInArrow" for n in r.walk()) for r in roots),
        "lineage.bytes_written": sum(n.m("written output") for n in out),
        "lineage.files_written": sum(n.m("number of written files") for n in out),
        "lineage.log_rows": sum(n.m("number of output rows") for n in log),
    }
