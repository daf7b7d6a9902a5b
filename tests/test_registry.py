"""The merged query registry is pinned: same names, same oracle SQL, same
registration order at the front. No Spark session is started; the test
only imports the query modules and hashes their oracles."""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from bano_spark.registry import registrar, wave_modules  # noqa: E402

# sha256 over "name\tsha256(oracle)\n" for every name, sorted by name.
SORTED_SHA = "ba985212ad16ea9e8cc4b9f8d36015b915e1c55e4dd2feb71b178e9ef29f9e20"
# sha256 of the first 50 names in registration order, newline-joined.
# Entry-own queries come first, then wave 4, 5, 8, ...: sorting the wave
# modules alphabetically (wave10 before wave4) changes this value.
FIRST50_SHA = "f81239256723d1fd9d4b23b21cd986fcb9bd8b109f4d17e5bccbfcf901c5ec02"


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_sorted_fingerprint():
    oracles = E.oracle_sql()
    body = "".join(f"{name}\t{_sha(oracles[name])}\n" for name in sorted(oracles))
    assert _sha(body) == SORTED_SHA


def test_first_50_in_registration_order():
    assert _sha("\n".join(list(E.queries())[:50])) == FIRST50_SHA


def test_every_wave_module_found_and_every_query_has_an_oracle():
    mods = wave_modules()
    assert len(mods) == 150
    waves = [int(m.__name__.rsplit("wave", 1)[1]) for m in mods]
    assert waves == sorted(waves)
    queries, oracles = E.queries(), E.oracle_sql()
    assert len(queries) == len(oracles) == 679
    assert set(queries) == set(oracles)


def test_register_rejects_a_name_twice():
    queries, oracles, register = registrar()
    register("q", "SELECT 1")(lambda spark, sf_dir: None)
    with pytest.raises(ValueError, match="'q' is registered twice"):
        register("q", "SELECT 2")
    assert list(queries) == ["q"] and oracles == {"q": "SELECT 1"}
