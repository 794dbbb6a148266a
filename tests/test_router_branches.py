"""Each size-routed query returns identical rows from both branches on
hostile inputs: NULL keys, all-duplicate groups, 1-row groups, -0.0/NaN and
empty input.  Inputs are parquet tables in a temporary input directory, so
they go through ``load_tables`` and the footer row count the routers read."""

import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from worlddatapipeline_spark import queries_mining, queries_tpch
from worlddatapipeline_spark.operators import aggregates
from worlddatapipeline_spark.queries_analytics import q_equi_depth_bins

NAN = math.nan
# Router constants that force each branch for any footer row count; -1, not
# 0, so an empty table also leaves fuzzy_record_linkage's ``n <= const`` branch.
LOW, HIGH = -1, 10**18

EVENTS = {
    "null_keys": [(None, 1.0), (None, 4.5), (None, -2.0), (None, None), ("a", 3.0)],
    "all_duplicates": [("a", 5.0)] * 7 + [("b", 5.0)] * 3,
    "one_row_groups": [("a", 1.0), ("b", -2.0), ("c", None), (None, 7.0)],
    "neg_zero_nan": [("a", -0.0), ("a", 0.0), ("a", NAN), ("b", NAN), ("b", 1.0),
                     ("c", -0.0), ("d", 0.0), ("d", -0.0)],
    "empty": [],
}
ORDERS = {
    "null_keys": [None, 10.0, None, 20.5],
    "all_duplicates": [99.99] * 9,
    "one_row_groups": [123.45],
    "neg_zero_nan": [-0.0, 0.0, NAN, 1.0, -0.0, NAN, 2.5, 0.001],
    "empty": [],
}
CUSTOMERS = {
    "null_keys": [(None, "Customer#000000001"), (2, None), (3, "Customer#000000003"),
                  (None, "Customer#000000003"), (None, None)],
    "all_duplicates": [(7, "Customer#000000007")] * 4,
    "one_row_groups": [(1, "Customer#000000001"), (2, "ab"), (3, "")],
    "neg_zero_nan": [(0, "Customer#000000000"), (-1, "Customer#00000000-1"),
                     (10, "Customer#000000010")],
    "empty": [],
}


def _write(tmp_path, name, cols: dict, rows):
    table = pa.table({c: pa.array([r[i] for r in rows], t)
                      for i, (c, t) in enumerate(cols.items())})
    pq.write_table(table, tmp_path / f"{name}.parquet")
    return str(tmp_path)


def _rows(df):
    """Rows as comparable tuples: floats by repr, so -0.0 != 0.0 and NaN == NaN."""
    return sorted((tuple(repr(v) if isinstance(v, float) else v for v in r)
                   for r in df.collect()), key=repr)


def _plan(df):
    """The executed plan; the routers' markers are the holistic
    ``percentile(`` aggregate and FastSS's ``xxhash64`` variant keys."""
    return df._jdf.queryExecution().executedPlan().toString().lower()


@pytest.mark.parametrize("case", sorted(EVENTS))
def test_event_value_percentiles_branches_identical(spark, monkeypatch, tmp_path, case):
    sf_dir = _write(tmp_path, "events", {"event_type": pa.string(), "value": pa.float64()},
                    EVENTS[case])
    out = {}
    for const in (HIGH, LOW):
        monkeypatch.setattr(aggregates, "PCT_DIST_MIN_ROWS", const)
        df = queries_tpch.q_event_value_percentiles(spark, sf_dir)
        assert ("percentile(" in _plan(df)) == (const == HIGH)
        out[const] = _rows(df)
    assert out[HIGH] == out[LOW]


@pytest.mark.parametrize("case", sorted(ORDERS))
def test_equi_depth_bins_branches_identical(spark, monkeypatch, tmp_path, case):
    sf_dir = _write(tmp_path, "orders", {"o_totalprice": pa.float64()},
                    [(v,) for v in ORDERS[case]])
    out = {}
    for const in (HIGH, LOW):
        monkeypatch.setattr(aggregates, "PCT_DIST_MIN_ROWS", const)
        df = q_equi_depth_bins(spark, sf_dir)
        assert ("percentile(" in _plan(df)) == (const == HIGH)
        out[const] = _rows(df)
    assert out[HIGH] == out[LOW]


@pytest.mark.parametrize("case", sorted(CUSTOMERS))
def test_fuzzy_record_linkage_branches_identical(spark, monkeypatch, tmp_path, case):
    sf_dir = _write(tmp_path, "customer", {"c_custkey": pa.int64(), "c_name": pa.string()},
                    CUSTOMERS[case])
    out = {}
    for const in (HIGH, LOW):
        monkeypatch.setattr(queries_mining, "FUZZY_FASTSS_MIN_ROWS", const)
        df = queries_mining.q_fuzzy_record_linkage(spark, sf_dir)
        assert ("xxhash64" in _plan(df)) == (const == LOW)
        out[const] = _rows(df)
    assert out[HIGH] == out[LOW]
