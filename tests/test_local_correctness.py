"""The oracle gate in tools/local_correctness, on hand-built pandas
frames (no Spark): what it must reject, what it must let through, and
the digest perfbench's untimed check compares."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tools.local_correctness import _value_hash, compare


def _frame() -> pd.DataFrame:
    return pd.DataFrame({
        "name": ["b", "a", None],
        "n": np.array([2, 1, 3], dtype="int64"),
        "x": [0.5, float("nan"), 1e-9],
        "ts": pd.to_datetime([
            "2024-01-02 03:04:05", "1970-01-01 00:00:00", "2000-02-29 12:00:00"
        ]),
    })


def test_value_hash_digest_is_pinned():
    # perfbench's untimed check loads this hash by file path; a pinned
    # digest keeps a loosened hash (say, one without value kinds) from
    # weakening that check with every test still green
    assert _value_hash(_frame()) == (
        "99dda31fc43ed3a1fd8ef5745d4a2720c238e182a53fa38a6d91be25429d67ad"
    )


@pytest.mark.parametrize("change", [
    pytest.param(lambda df: df.iloc[::-1], id="row_order"),
    pytest.param(lambda df: df[["x", "ts", "n", "name"]], id="column_order"),
    pytest.param(lambda df: df.astype({"n": "int32"}), id="int32_vs_int64"),
    pytest.param(lambda df: df.astype({"ts": "datetime64[us]"}), id="datetime_unit"),
])
def test_accepted(change):
    rec = compare(change(_frame()), _frame())
    assert rec["status"] == "pass", rec


def test_int_vs_float_rejected():
    rec = compare(_frame().astype({"n": "float64"}), _frame())
    assert rec["status"] == "FAIL"
    assert rec["rows_match"] and rec["schema_match"] and not rec["hash_match"]
    # the message names the first differing sorted row, with value kinds
    assert rec["first_diff"]["row"] == 0
    assert rec["first_diff"]["spark"]["n"] == "1.0 (float)"
    assert rec["first_diff"]["oracle"]["n"] == "1 (int)"


def test_float_drift_rejected():
    drifted = _frame()
    drifted.loc[0, "x"] += 1e-9
    rec = compare(drifted, _frame())
    assert rec["status"] == "FAIL" and not rec["hash_match"]
    assert rec["first_diff"]["spark"]["name"] == "b (str)"


def test_row_count_and_columns_rejected():
    assert compare(_frame().iloc[:2], _frame())["status"] == "FAIL"
    rec = compare(_frame().rename(columns={"n": "m"}), _frame())
    assert rec["status"] == "FAIL" and not rec["schema_match"]
    assert rec["cols"]["spark"] == ["m", "name", "ts", "x"]
