"""tools/check_entry.value_hash: the order-insensitive result hash
that the oracle gates compare Spark and DuckDB frames by."""

import hashlib

import numpy as np
import pandas as pd

from tools.check_entry import value_hash


def _plain_hash(df) -> str:
    """value_hash's spelling without the missing-value rule: every cell
    str()ed after 6dp rounding of float columns."""
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        if d[c].dtype.kind == "f":
            d[c] = d[c].round(6)
    rows = sorted(tuple(str(v) for v in row) for row in d.itertuples(index=False))
    h = hashlib.md5()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def test_value_hash_spells_null_booleans_alike():
    spark_like = pd.DataFrame({"doc_id": [1, 2, 3],
                               "flag": pd.Series([True, None, False], dtype=object)})
    duck_like = pd.DataFrame({"doc_id": [3, 1, 2],
                              "flag": pd.Series([False, True, np.nan], dtype=object)})
    assert value_hash(spark_like) == value_hash(duck_like)
    # a missing value still differs from every present one
    other = pd.DataFrame({"doc_id": [1, 2, 3],
                          "flag": pd.Series([True, False, False], dtype=object)})
    assert value_hash(other) != value_hash(spark_like)


def test_value_hash_unchanged_for_floats_and_present_values():
    df = pd.DataFrame({
        "i": [3, 1, 2],
        "f": [0.1234567, np.nan, 2.0],
        "s": ["a", "b", None],
        "b": [True, False, True],
        "arr": [np.array([1, 2]), np.array([], dtype=np.int64), np.array([3])],
    })
    # float NaN keeps its "nan"; None in a non-float column was
    # already spelled "None"
    assert value_hash(df) == _plain_hash(df)
