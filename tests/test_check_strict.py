"""tools/check_strict.py must report a mismatch, never crash on it: an
empty engine side and repeated output column names (no Spark needed)."""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from tools import check_strict as CS  # noqa: E402


def test_empty_side_reports_row_count_then_the_missing_row():
    a, b = [], ["i:1", "i:2"]
    assert CS.first_diff_row(a, b) == 0
    report = CS.diff_report(a, b)
    assert report[0] == "0 vs 2 rows (row count mismatch)"
    assert report[1:] == ["first diff row 0:", "  duckdb: i:1"]
    assert CS.diff_report(b, a)[1:] == ["first diff row 0:", "  spark:  i:1"]


def test_prefix_points_at_first_row_only_one_side_has():
    a, b = ["i:1", "i:2", "i:3"], ["i:1", "i:2"]
    assert CS.first_diff_row(a, b) == 2
    assert CS.diff_report(a, b)[2:] == ["  spark:  i:3"]


def test_same_count_shows_both_rows():
    a, b = ["i:1", "i:2"], ["i:1", "i:9"]
    assert CS.diff_report(a, b) == ["2 vs 2 rows", "first diff row 1:",
                                    "  spark:  i:2", "  duckdb: i:9"]


def test_duplicate_column_names_are_flagged():
    assert CS.duplicate_columns(["id", "n", "id"]) == ["id"]
    assert CS.duplicate_columns(["id", "n"]) == []
