"""The output comparator flags every kind of wrong result, and the
DuckDB connection keeps its spill bounded inside the scratch dir."""

from __future__ import annotations

import os

import pandas as pd

from perfbench import oracle

REF = pd.DataFrame({"k": [1, 2, 3, 4], "v": [0.5, 1.25, None, 7.0], "s": ["a", "b", "c", "d"]})


def test_equal_results_in_any_row_and_column_order():
    shuffled = REF.sample(frac=1.0, random_state=3)[["s", "v", "k"]]
    assert oracle.compare(shuffled, REF) == []


def test_one_altered_value_is_flagged():
    bad = REF.copy()
    bad.loc[1, "v"] = 1.26
    assert oracle.compare(bad, REF)


def test_one_dropped_row_is_flagged():
    assert oracle.compare(REF.drop(index=2), REF)


def test_one_duplicated_row_is_flagged():
    bad = pd.concat([REF, REF.iloc[[0]]], ignore_index=True)
    assert oracle.compare(bad, REF)


def test_duplicate_swapped_for_missing_row_is_flagged():
    # Same row count and same set of distinct rows would hide this
    # from a set comparison; the multiset comparison sees it.
    bad = pd.concat([REF.iloc[[0, 0, 1, 2]]], ignore_index=True)
    ref = pd.concat([REF.iloc[[0, 1, 1, 2]]], ignore_index=True)
    assert oracle.compare(bad, ref)


def test_renamed_column_is_flagged():
    assert oracle.compare(REF.rename(columns={"v": "w"}), REF)


def test_int_and_float_are_not_equal():
    assert oracle.compare(REF.assign(k=REF["k"].astype(float)), REF)


def test_connection_spill_is_bounded_inside_scratch(tmp_path):
    con = oracle.connect(str(tmp_path), "256MB", 1)
    try:
        tmp = con.execute("SELECT current_setting('temp_directory')").fetchone()[0]
        assert os.path.realpath(tmp).startswith(os.path.realpath(str(tmp_path)))
        limit = con.execute("SELECT current_setting('memory_limit')").fetchone()[0]
        cap = con.execute("SELECT current_setting('max_temp_directory_size')").fetchone()[0]
        assert limit.startswith(("244", "256")) and cap.startswith(("244", "256"))
    finally:
        con.close()
