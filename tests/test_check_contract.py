"""The local contract gate's frame comparison (tools/check_contract.py)
follows the contract's value hash: column kinds count, values are
bit-strict."""

import numpy as np
import pandas as pd

from tools.check_contract import compare_frames, norm


def _frame(values):
    return norm(pd.DataFrame({"k": ["a", "b", "c"], "n": values}))


def test_integer_column_against_float_column_is_mismatch():
    ints = _frame(np.array([1, 2, 3], np.int64))
    floats = _frame(np.array([1.0, 2.0, 3.0], np.float64))
    status, why = compare_frames(ints, floats)
    assert status == "MISMATCH", why
    assert "n: integer/float" in why
    assert compare_frames(floats, ints)[0] == "MISMATCH"


def test_same_kind_compares_values_bit_strict():
    ints = _frame(np.array([1, 2, 3], np.int64))
    assert compare_frames(ints, _frame(np.array([1, 2, 3], np.int32))) \
        == ("OK", "")
    floats = _frame(np.array([1.0, 2.0, 3.0]))
    assert compare_frames(floats, _frame(np.array([1.0, 2.0, 3.0]))) \
        == ("OK", "")
    off = _frame(np.array([1.0, np.nextafter(2.0, 3.0), 3.0]))
    assert compare_frames(floats, off)[0] == "MISMATCH"
