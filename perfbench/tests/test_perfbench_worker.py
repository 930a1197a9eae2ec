"""The registry oracle check: canonical rows as the repo's harness compares
them, and the strict gate's dtype check on top."""

import pandas as pd

from worker import oracle_mismatch


def test_same_rows_in_another_order_match():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    e = pd.DataFrame({"v": [1.25, 0.5], "k": [2, 1]})
    assert oracle_mismatch(a, e) is None


def test_dtype_drift_is_a_mismatch_even_when_values_match():
    a = pd.DataFrame({"k": [1, 2]})
    e = pd.DataFrame({"k": [1.0, 2.0]})
    assert oracle_mismatch(a, e) == "dtypes differ: k int64 != float64"


def test_value_and_row_count_differences():
    a = pd.DataFrame({"k": [1, 2]})
    assert oracle_mismatch(a, pd.DataFrame({"k": [1, 3]})) == "values differ"
    assert oracle_mismatch(a, pd.DataFrame({"k": [1]})) == "2 rows != 1"
