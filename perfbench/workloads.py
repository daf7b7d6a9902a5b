"""The three pages workloads.

Each workload writes its inputs in set-up (parquet in the pages
schema, generated outside Spark), runs the engine's public functions the way ``bench.py`` and
``jobs/pages_job.py`` compose them, checks the output against
expectations computed without Spark (``expect.py``), and lists the
prefixes of its plan that the traced run times layer by layer.

A prefix ends at a layer boundary and is materialised to the ``noop``
sink (or collected, when the next layer needs the result on the
driver); it projects only the columns that the full plan reads after
that boundary, so the prefix does the same work the full plan does up
to there.
"""

from __future__ import annotations

import gc
import os
import shutil
from concurrent.futures import Executor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import pipelines, synth
from bano_spark.cache import release_all
from bano_spark.geo import geometry, tiles
from bano_spark.operators.pip_join import spatial_join
from bano_spark.operators.tiling import expired_tiles_to_insee
from bano_spark.plans.lineage import CheckpointLog, resumable_partition_write
from bano_spark.sources import pages as P
from bano_spark.streaming.incremental import snapshot_dirty_tiles

import expect
import planmetrics as pm

ZOOM = tiles.DEFAULT_ZOOM


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def level8(spark: SparkSession, codes=None) -> DataFrame:
    """Level-8 commune polygons keyed ``poly_insee`` (the record side
    keeps its own ``insee_com``), optionally only ``codes``."""
    polys = synth.commune_polygons_df(spark).filter(F.col("admin_level") == 8)
    if codes is not None:
        polys = polys.filter(F.col("insee_com").isin(list(codes)))
    return polys.withColumnRenamed("insee_com", "poly_insee")


def pip(recs: DataFrame, polys: DataFrame) -> DataFrame:
    return spatial_join(recs.drop("insee_com"), polys, x="x", y="y",
                        id_col="poly_insee", verts_col="verts", zoom=ZOOM,
                        broadcast=True, split_refine=True)


def rollup(joined: DataFrame) -> DataFrame:
    tiled = joined.select(
        "poly_insee",
        tiles.tile_x(F.col("x"), ZOOM).alias("tx"),
        tiles.tile_y(F.col("y"), ZOOM).alias("ty"))
    return tiled.groupBy("poly_insee").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("tx", "ty").alias("n_tiles"))


def prune(recs: DataFrame, polys: DataFrame) -> DataFrame:
    """The prune half of ``spatial_join(broadcast=True)``, composed from
    the same public pieces: the driver-side ``geometry.cover_polygon``
    cell cover, broadcast, equi-joined on the points' z16 cell."""
    spark = recs.sparkSession
    rows = []
    for pid, verts in polys.select("poly_insee", "verts").collect():
        gx, gy, inner = geometry.cover_polygon(
            np.array([list(p) for p in verts], dtype=np.float64), ZOOM)
        rows += zip([pid] * len(gx), gx.tolist(), gy.tolist(), inner.tolist())
    cover = spark.createDataFrame(
        rows, "poly_insee string, _tx bigint, _ty bigint, interior boolean")
    pts = recs.select("x", "y",
                      tiles.tile_x(F.col("x"), ZOOM).alias("_tx"),
                      tiles.tile_y(F.col("y"), ZOOM).alias("_ty"))
    return pts.join(F.broadcast(cover), ["_tx", "_ty"]).select(
        "poly_insee", "x", "y", "interior")


def without_final_sort(df: DataFrame) -> DataFrame:
    """``df`` minus the global sort its plan ends with: a prefix that
    stops where the sort (a layer of its own here) begins."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() != "Sort":
        raise ValueError(f"plan ends in {plan.nodeName()}, not Sort")
    spark = df.sparkSession
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, plan.child())
    return DataFrame(jdf, spark)


PAGES_ARROW = pa.schema([("url", pa.string()),
                         ("warc_ts", pa.timestamp("us", tz="UTC")),
                         ("html", pa.binary()),
                         ("text", pa.string()),
                         ("lang", pa.string())])


def pages_table(ids: np.ndarray) -> pa.Table:
    """The pages of ``ids`` as ``P.synth_pages`` generates them, from the
    engine's numpy page body; the traced run checks the table against
    ``P.synth_pages_sql``."""
    kind = pd.Series(np.array(P.KINDS)[ids % len(P.KINDS)])
    sid = pd.Series(ids).astype(str)
    text = "ADDRESSES " + kind + "\n" + P._page_body(ids) + "\n"
    html = ("<html><head><title>p" + sid + "</title></head><body><pre>" + text
            + "</pre></body></html>")
    return pa.Table.from_pandas(pd.DataFrame({
        "url": "https://crawl.example/" + kind + "/" + sid.str.zfill(10),
        "warc_ts": (P._EPOCH + pd.to_timedelta(ids % 86400, unit="s")
                    ).tz_localize("UTC"),
        "html": html.str.encode("utf-8"),
        "text": text,
        "lang": "fr",
    }), schema=PAGES_ARROW, preserve_index=False)


def _write_part(path: str, ids: np.ndarray) -> None:
    pq.write_table(pages_table(ids), path)


def write_pages(pool: Executor, ids: np.ndarray, path: str, parts: int) -> None:
    """``parts`` parquet files of consecutive ``ids``, one per task of the
    scan, written in ``pool``."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    files = [os.path.join(path, f"part-{i:05d}.parquet") for i in range(parts)]
    list(pool.map(_write_part, files, np.array_split(ids, parts)))


class Workload:
    """One workload: ``build`` writes the inputs (by default one pages
    table of ``n`` pages), ``run`` is one timed run, ``check`` verifies
    its result, ``prefixes`` the traced chain."""

    name = ""

    def __init__(self, spark: SparkSession, work: str, n: int, seed: int,
                 parts: int):
        self.spark, self.work, self.n, self.seed = spark, work, n, seed
        self.parts = parts
        self.first_id = expect.first_id(seed)
        self.dir = os.path.join(work, "pages")
        self.inputs = {self.dir: expect.page_ids(self.first_id, n)}

    def build(self, pool: Executor) -> None:
        for d, ids in self.inputs.items():
            write_pages(pool, ids, d, self.parts)

    @property
    def input_pages(self) -> int:
        return self.n

    def pages(self, path: str) -> DataFrame:
        return self.spark.read.parquet(path)

    def traced_extras(self, result) -> dict:
        """Driver-side numbers taken right after the traced full run."""
        return {}

    def trace_problems(self, measured: dict) -> list[str]:
        """Cross-checks of the traced metrics; each entry is a failure."""
        return []

    def plan_metrics(self, roots) -> dict:
        """Per-layer counts and bytes read off the full run's plans."""
        return {**pm.plan_shape(roots),
                **pm.scan_metrics(roots, self.inputs)}

    def cleanup(self) -> None:
        """Between runs, off the clock: drop cached tables and collect
        garbage, so that no run pays for the previous one's heap."""
        release_all()
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark._jvm.System.gc()

    def input_problems(self) -> list[str]:
        """The scanned input against the engine: html -> text is
        byte-identical (``extract_text``) in every table, and the first
        table (ids ``first_id`` .. ``first_id + n``) holds the rows
        ``synth_pages_sql`` generates (count and a sum of row hashes).
        Pages are generated row by row, so one id range stands for all."""
        row_hash = F.xxhash64(*[f.name for f in PAGES_ARROW]).cast("decimal(38,0)")
        out = []
        for d in self.inputs:
            bad = P.extract_text(self.pages(d)).agg(F.count_if(
                ~F.col("extracted_text").eqNullSafe(F.col("text")))).first()[0]
            if bad:
                out.append(f"{bad} pages in {d} break extract_text(html) == text")
        d = next(iter(self.inputs))
        ref = P.synth_pages_sql(self.spark, 0, ids=self.spark.range(
            self.first_id, self.first_id + self.n, 1, self.parts))
        got, want = (tuple(t.agg(F.count(F.lit(1)), F.sum(row_hash)).first())
                     for t in (self.pages(d), ref))
        if got != want:
            out.append(f"{d} is not the synth_pages_sql table: (rows, hash sum) "
                       f"{got} want {want}")
        return out


class TilesBulk(Workload):
    """pages -> extract -> z16 PIP join (split refine) -> per-commune
    count and distinct tiles, collected."""

    name = "tiles_bulk"

    def expected(self, wrong: bool = False):
        exp = expect.tile_counts(expect.page_ids(self.first_id, self.n))
        return expect.perturb(exp) if wrong else exp

    def run(self):
        out = rollup(pip(P.extract_records(self.pages(self.dir)),
                         level8(self.spark)))
        return {r["poly_insee"]: (r["n"], r["n_tiles"]) for r in out.collect()}

    def check(self, got, exp) -> str:
        return expect.compare_tiles(got, exp)

    def plan_metrics(self, roots) -> dict:
        return {**super().plan_metrics(roots), **pm.pip_metrics(roots)}

    def traced_extras(self, result) -> dict:
        self.prune_rows = prune(P.extract_records(self.pages(self.dir)),
                                level8(self.spark)).count()
        return {}

    def trace_problems(self, measured: dict) -> list[str]:
        """The prune prefix is composed here, not taken from the engine:
        its rows must be the candidates of the engine's own plan."""
        want = measured.get("pip_join.candidates")
        if self.prune_rows != want:
            return [f"prune prefix yields {self.prune_rows} rows, the engine's "
                    f"plan {want} candidates"]
        return []

    def prefixes(self):
        pg = lambda: self.pages(self.dir)  # noqa: E731
        recs = lambda: P.extract_records(pg())  # noqa: E731
        return [
            ("sources.pages.scan_s", lambda: noop(pg().select("text"))),
            ("sources.pages.extract_s", lambda: noop(recs().select("x", "y"))),
            ("pip_join.prune_s", lambda: noop(prune(recs(), level8(self.spark)))),
            ("pip_join.refine_s", lambda: noop(
                pip(recs(), level8(self.spark)).select("poly_insee", "x", "y"))),
            ("tiles.rollup_s", self.run),
        ]


class ExportCsv(Workload):
    """pages -> pipelines.export_csv (normalize via the dictionary ->
    conciliate with its persisted cumul -> CSV lines) -> text write."""

    name = "export_csv"

    def __init__(self, *a):
        super().__init__(*a)
        self.out = os.path.join(self.work, "csv")

    def expected(self, wrong: bool = False):
        exp = expect.csv_digest(expect.page_ids(self.first_id, self.n))
        return (exp[0], expect.sha256(b"wrong")) if wrong else exp

    def run(self):
        pipelines.export_csv(self.pages(self.dir)).write.mode(
            "overwrite").text(self.out)
        return self.out

    def check(self, got, exp) -> str:
        return expect.compare_csv(got, exp)

    def traced_extras(self, result) -> dict:
        """Memory plus disk held by persisted RDDs: conciliate's cumul."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {"conciliation.cached_bytes":
                sum(int(r.memSize()) + int(r.diskSize()) for r in infos)}

    def plan_metrics(self, roots) -> dict:
        return {**super().plan_metrics(roots), **pm.export_metrics(roots)}

    def prefixes(self):
        pg = lambda: self.pages(self.dir)  # noqa: E731
        cumul_in = ["insee_com", "fantoir", "kind", "numero", "nom_voie",
                    "code_postal", "x", "y"]
        recs = lambda: P.extract_records(pg()).filter(  # noqa: E731
            F.col("kind").isin(*pipelines.SOURCE_OF_KIND)).select(*cumul_in)
        return [
            ("sources.pages.scan_s", lambda: noop(pg().select("text"))),
            ("sources.pages.extract_s", lambda: noop(recs())),
            ("normalize.s", lambda: noop(pipelines.pages_to_cumul(pg()))),
            # conciliate ends in orderBy("id"): the global sort is timed
            # with the CSV write, in export.s
            ("conciliation.s", lambda: noop(
                without_final_sort(pipelines.process_all(pg())))),
            ("export.s", self.run),
        ]


class TilesRefresh(Workload):
    """Two snapshots -> snapshot_dirty_tiles -> expired_tiles_to_insee
    -> tiles_bulk for the dirty communes only -> resumable_partition_write
    with a CheckpointLog."""

    name = "tiles_refresh"

    def __init__(self, *a):
        super().__init__(*a)
        self.old = os.path.join(self.work, "pages_old")
        self.new = os.path.join(self.work, "pages_new")
        old_ids = expect.page_ids(self.first_id, self.n)
        self.new_ids = expect.next_snapshot(old_ids, self.seed)
        self.inputs = {self.old: old_ids, self.new: self.new_ids}
        self.runs = 0

    def expected(self, wrong: bool = False):
        exp = expect.tile_counts(self.new_ids, expect.DIRTY_COMMUNES)
        return expect.perturb(exp) if wrong else exp

    def paths(self, i: int) -> tuple[str, str]:
        base = os.path.join(self.work, f"refresh-{i}")
        return os.path.join(base, "out"), os.path.join(base, "log")

    def points(self, path: str) -> DataFrame:
        return P.extract_records(self.pages(path)).select("url", "x", "y")

    def dirty_codes(self) -> list[str]:
        diff = snapshot_dirty_tiles(self.points(self.old), self.points(self.new),
                                    key="url")
        dirty = expired_tiles_to_insee(diff, synth.commune_polygons_df(self.spark))
        return [r[0] for r in dirty.collect()]

    def run(self):
        self.runs += 1
        out_dir, log_dir = self.paths(self.runs)
        codes = self.dirty_codes()
        out = rollup(pip(P.extract_records(self.pages(self.new)),
                         level8(self.spark, codes)))
        written = resumable_partition_write(
            out, out_dir, "poly_insee", CheckpointLog(self.spark, log_dir),
            source="pages", etape="tile_rollup")
        return codes, written, out_dir, log_dir

    @property
    def input_pages(self) -> int:
        return len(self.new_ids)

    def check(self, got, exp) -> str:
        return expect.compare_refresh(got, exp)

    def traced_extras(self, result) -> dict:
        return {"tiling.dirty_communes": len(result[0]) if result else 0}

    def plan_metrics(self, roots) -> dict:
        out_dir, log_dir = self.paths(self.runs)
        return {**super().plan_metrics(roots), **pm.pip_metrics(roots),
                **pm.diff_metrics(roots),
                **pm.write_metrics(roots, out_dir, log_dir)}

    def cleanup(self) -> None:
        super().cleanup()
        shutil.rmtree(os.path.dirname(self.paths(self.runs)[0]),
                      ignore_errors=True)

    def prefixes(self):
        """The recompute of the dirty communes (join and rollup) is one
        step here: on two communes the rollup costs less than the
        run-to-run noise, so it has no self time of its own."""
        both = lambda f: f(self.old).unionByName(f(self.new))  # noqa: E731

        def diff():
            noop(snapshot_dirty_tiles(self.points(self.old),
                                      self.points(self.new), key="url"))

        def recompute():
            polys = level8(self.spark, self.dirty_codes())
            rollup(pip(P.extract_records(self.pages(self.new)), polys)).collect()

        return [
            ("sources.pages.scan_s",
             lambda: noop(both(lambda p: self.pages(p).select("text")))),
            ("sources.pages.extract_s", lambda: noop(both(self.points))),
            ("incremental.diff_s", diff),
            ("tiling.dirty_s", self.dirty_codes),
            ("tiling.recompute_s", recompute),
            ("lineage.write_s", self.run),
        ]


WORKLOADS = {w.name: w for w in (TilesBulk, ExportCsv, TilesRefresh)}
