"""Expected outputs of the workloads, computed without the Spark path.

* ``tile_counts``: per-commune (n, n_tiles) from the closed-form point
  derivation (``synth.points_select_sql``) in DuckDB, with the commune
  rectangles and the z16 tile formula written out in SQL.
* ``csv_digest``: line count and sha256 of the registered
  ``end_to_end_csv_export`` oracle run in DuckDB over the same page ids,
  its lines in the export's order (by id).
* ``next_snapshot``: the refresh workload's second snapshot, where a
  fixed share of pages is deleted and added inside two communes.

Spark outputs are read back with pyarrow / plain file reads.
"""

from __future__ import annotations

import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds

from bano_spark import synth
from bano_spark.geo import tiles

# seeds move the id range; id * 2654435761 stays inside int64 below 3.4e9
IDS_PER_SEED = 10_000_000
SEED_SLOTS = 300
# refresh: changed pages land in communes 01003 and 02003 (strip slots 2
# and 7), away from the strip edges so that no expired z16 tile touches
# a neighbouring commune
DIRTY_SLOTS = (2, 7)
DIRTY_COMMUNES = tuple(sorted(synth.COMMUNES[s][0] for s in DIRTY_SLOTS))
EDGE_MARGIN = 1000  # metres; a z16 tile is ~611 m wide
CHANGE_SHARE = 0.01  # half deleted, half added


def first_id(seed: int) -> int:
    return (seed % SEED_SLOTS) * IDS_PER_SEED


def page_ids(first: int, n: int) -> np.ndarray:
    return np.arange(first, first + n, dtype=np.int64)


def _changeable(ids: np.ndarray) -> np.ndarray:
    u = (ids * 2654435761) % 2147483648
    off = (u // 144) % 9000
    return (np.isin(u % 16, DIRTY_SLOTS) & (off >= EDGE_MARGIN)
            & (off < 9000 - EDGE_MARGIN))


def next_snapshot(old: np.ndarray, seed: int) -> np.ndarray:
    """The new snapshot's ids: ``CHANGE_SHARE`` of the pages change, half
    deleted from the old range and half added past it, all in the two
    dirty communes. The seed picks which pages; the count is fixed."""
    k = int(round(len(old) * CHANGE_SHARE / 2))
    rng = np.random.default_rng(seed)
    deleted = np.sort(rng.choice(old[_changeable(old)], k, replace=False))
    start, added = int(old[-1]) + 1, np.empty(0, dtype=np.int64)
    while len(added) < k:
        cand = np.arange(start, start + 20 * k, dtype=np.int64)
        added = np.concatenate([added, cand[_changeable(cand)]])
        start += 20 * k
    return np.union1d(np.setdiff1d(old, deleted), added[:k])


def tile_counts(ids: np.ndarray, communes: tuple[str, ...] | None = None) -> dict:
    """{insee: (n, n_tiles)} over the level-8 communes (or ``communes``)."""
    cs = tiles.cell_size(tiles.DEFAULT_ZOOM)
    keep = ("" if communes is None else
            "AND c.insee_com IN (" + ",".join(f"'{c}'" for c in communes) + ")")
    sql = f"""
    WITH p AS ({synth.points_select_sql('duckdb')}),
    c AS (SELECT * FROM {synth.communes_values_sql()})
    SELECT c.insee_com, count(*) AS n,
           count(DISTINCT floor((p.x - ({tiles.ORIGIN!r})) / {cs!r}) * 1048576
                 + floor(({-tiles.ORIGIN!r} - p.y) / {cs!r})) AS n_tiles
    FROM p JOIN c ON c.admin_level = 8 {keep}
      AND p.x > c.xmin AND p.x < c.xmax AND p.y > c.ymin AND p.y < c.ymax
    GROUP BY 1"""
    con = duckdb.connect()
    try:
        con.register("events", pd.DataFrame({"event_id": ids}))
        return {k: (int(n), int(t)) for k, n, t in con.execute(sql).fetchall()}
    finally:
        con.close()


def perturb(exp: dict) -> dict:
    """A wrong expectation (one count off by one), for the smoke check."""
    k = sorted(exp)[0]
    return {**exp, k: (exp[k][0] + 1, exp[k][1])}


def compare_tiles(got: dict, exp: dict) -> str:
    if got == exp:
        return ""
    bad = sorted(k for k in set(got) | set(exp) if got.get(k) != exp.get(k))
    return "tiles differ for " + ", ".join(
        f"{k}: got {got.get(k)} want {exp.get(k)}" for k in bad[:3])


def sha256(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def _digest(lines: list[str]) -> tuple[int, str]:
    return len(lines), sha256("".join(s + "\n" for s in lines).encode("utf-8"))


def csv_digest(ids: np.ndarray) -> tuple[int, str]:
    """The oracle's lines in the export's order: by id, the first field
    (ids are unique strings without commas)."""
    from bano_spark.queries_wave4 import ORACLES

    con = duckdb.connect()
    try:
        con.register("events", pd.DataFrame({"event_id": ids}))
        rows = con.execute(ORACLES["end_to_end_csv_export"]).fetchall()
    finally:
        con.close()
    return _digest(sorted((r[0] for r in rows), key=lambda s: s.split(",", 1)[0]))


def compare_csv(out_dir: str, exp: tuple[int, str]) -> str:
    """Part files in name order (the sort's partition order), unsorted:
    the digest checks the content and the global order by id."""
    lines: list[str] = []
    for f in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(f, encoding="utf-8") as fh:
            lines += fh.read().splitlines()
    got = _digest(lines)
    return "" if got == exp else f"csv (lines, sha256) got {got} want {exp}"


def _read(path: str, part: str | None = None) -> pa.Table:
    kw = {}
    if part:
        kw["partitioning"] = ds.partitioning(
            pa.schema([(part, pa.string())]), flavor="hive")
    return ds.dataset(path, format="parquet", **kw).to_table()


def compare_refresh(got, exp: dict) -> str:
    codes, written, out_dir, log_dir = got
    if tuple(sorted(codes)) != DIRTY_COMMUNES:
        return f"dirty communes {sorted(codes)} want {list(DIRTY_COMMUNES)}"
    if sorted(written) != sorted(exp):
        return f"written partitions {sorted(written)} want {sorted(exp)}"
    out = _read(out_dir, "poly_insee").to_pylist()
    rows = {r["poly_insee"]: (r["n"], r["n_tiles"]) for r in out}
    if len(out) != len(rows) or rows != exp:
        return "refresh " + compare_tiles(rows, exp)
    log = _read(log_dir).to_pylist()
    keys = sorted(r["partition_key"] for r in log)
    if keys != sorted(exp) or any(r["nb_rows"] != 1 for r in log):
        return f"lineage rows {[(r['partition_key'], r['nb_rows']) for r in log]}"
    return ""
