"""Pin the driver's canonicalization limits as a registry gate.

The driver sorts query results with pandas ``sort_values`` over all columns
before hashing; pandas cannot factorize list/dict cells, so an Array- or
Map-typed output column makes the row UNSCOREABLE (the r13
``fn_presto_compat`` red row: ``TypeError: unhashable type: 'list'``).
The repo's local ``testing.canonicalize`` is more permissive (type-aware
pure-Python sort), which is how that row slipped to the driver — so the
limitation is pinned here as a contract, the same move as
``tests/test_bench_contract.py`` pins the metric-line contract (VERDICT
r13 next-round #2).

Two layers:
- ``assert_driver_hashable`` is wired INTO ``compare_with_oracle``, so every
  registered query's oracle test enforces it (tests/test_queries_oracle.py
  covers the whole registry at the tested scale).
- This module proves the gate trips on synthetic array/map outputs, so the
  gate cannot silently stop checking.
"""

from __future__ import annotations

import pytest

from lyft_presto_spark.queries import all_queries
from lyft_presto_spark.testing import OracleMismatch, assert_driver_hashable


def test_gate_trips_on_array_output(spark):
    df = spark.sql("SELECT array(1, 2, 3) AS xs, 1 AS k")
    with pytest.raises(OracleMismatch, match="driver-unhashable"):
        assert_driver_hashable(df, name="synthetic_array")


def test_gate_trips_on_map_output(spark):
    df = spark.sql("SELECT map('a', 1) AS m")
    with pytest.raises(OracleMismatch, match="driver-unhashable"):
        assert_driver_hashable(df, name="synthetic_map")


def test_gate_trips_on_nested_array_in_struct(spark):
    """ADVICE r14: struct<a: array<int>> becomes a Row holding a Python list
    after toPandas — unhashable — so nesting must not slip the gate."""
    df = spark.sql("SELECT named_struct('a', array(1, 2)) AS st, 1 AS k")
    with pytest.raises(OracleMismatch, match="driver-unhashable"):
        assert_driver_hashable(df, name="synthetic_nested_array")


def test_gate_trips_on_nested_map_in_struct(spark):
    df = spark.sql("SELECT named_struct('m', map('a', 1)) AS st")
    with pytest.raises(OracleMismatch, match="driver-unhashable"):
        assert_driver_hashable(df, name="synthetic_nested_map")


def test_gate_passes_scalar_output(spark):
    df = spark.sql("SELECT 1 AS k, 'x' AS s, array_join(array('a','b'), ',') AS ser")
    assert_driver_hashable(df, name="synthetic_scalar")  # must not raise


def test_heavy_oracles_stay_materialized():
    """Pin the DuckDB CTE-materialization hints (r15): without them the
    recursive closure / re-referenced compaction CTEs re-expand the whole
    exact-Lloyd chain per reference (197-270 s walls at sf0.001). A
    refactor that drops the hints must fail loudly here, not as a silent
    suite slowdown."""
    qs = all_queries()
    for name, ctes in (
        ("sim_ivf_compaction", ("allcells", "trig", "tvec", "seed_split")),
        ("dedup_semantic", ("e", "edges")),
    ):
        oracle = qs[name].oracle
        for cte in ctes:
            assert f"{cte} AS MATERIALIZED (" in oracle, (
                f"{name}: CTE {cte!r} lost its MATERIALIZED hint"
            )
