"""Query registry shared by `__spark_entry__` and the `queries_waveN` modules.

Every module keeps its own `QUERIES`/`ORACLES` dicts and registers into
them with one line::

    QUERIES, ORACLES, register = registrar()

    @register("pip_count_per_commune", ORACLE_SQL)
    def q_pip(spark, sf_dir): ...

`__spark_entry__` merges the wave modules in `wave_modules()` order:
numeric N, not alphabetical (wave 10 comes after wave 9, not before
wave 4), which fixes the registration order the driver samples from.
Per-module dicts keep that order independent of import order, since
wave modules import helpers from one another.
"""

from __future__ import annotations

import importlib
import pkgutil
import re
from collections.abc import Callable
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession

import bano_spark

Query = Callable[[SparkSession, str], DataFrame]

_WAVE = re.compile(r"queries_wave(\d+)")


def registrar() -> tuple[dict[str, Query], dict[str, str],
                         Callable[..., Callable[[Query], Query]]]:
    """Return a fresh `(QUERIES, ORACLES, register)` triple.

    `register(name, oracle)` is a decorator; it raises if `name` is
    already registered in this triple."""
    queries: dict[str, Query] = {}
    oracles: dict[str, str] = {}

    def register(name: str, oracle: str | None = None):
        if name in queries:
            raise ValueError(f"query {name!r} is registered twice")

        def deco(fn: Query) -> Query:
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn

        return deco

    return queries, oracles, register


def read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def wave_modules() -> list[ModuleType]:
    """Import every `bano_spark.queries_waveN` module, in numeric N order."""
    found = sorted(
        (int(m.group(1)), info.name)
        for info in pkgutil.iter_modules(bano_spark.__path__)
        if (m := _WAVE.fullmatch(info.name))
    )
    return [importlib.import_module(f"bano_spark.{name}") for _, name in found]
