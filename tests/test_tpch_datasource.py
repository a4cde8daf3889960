"""Generator connector (sources/tpch_datasource.py): the presto-tpch
analog over Spark 4's Python DataSource API. Determinism and
partition-invariance are the connector's contract — the reference pins
its generator the same way (TestTpchMetadata over airlift-tpch)."""

from __future__ import annotations

import pytest

from lyft_presto_spark.sources.tpch_datasource import register_tpchgen


def _read(spark, **opts):
    register_tpchgen(spark)
    r = spark.read.format("tpchgen")
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def test_rows_and_partitions(spark):
    df = _read(spark, table="orders", rows=5000, partitions=8)
    assert df.count() == 5000
    assert df.rdd.getNumPartitions() == 8


def test_partition_count_never_changes_results(spark):
    # splits are row ranges with the remainder on the last split: the SAME
    # rows come back under any partitioning (1, a non-divisor, many)
    a = _read(spark, table="orders", rows=1003, partitions=1).collect()
    b = _read(spark, table="orders", rows=1003, partitions=7).collect()
    c = _read(spark, table="orders", rows=1003, partitions=64).collect()
    key = lambda r: r.o_orderkey  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key) == sorted(c, key=key)


# the prelude's CTE for each connector table
_CTE = {
    "region": "reg", "nation": "nat", "customer": "cust", "supplier": "sup",
    "part": "prt", "partsupp": "ps", "orders": "ord", "lineitem": "li",
}


@pytest.mark.parametrize("table", sorted(_CTE))
def test_every_column_matches_duckdb_prelude(spark, sf_dir, table):
    # the connector's one synthesis path equals the oracles' one DuckDB
    # regeneration, every column of the table at its default cardinality,
    # exactly (money doubles and timestamps included)
    from lyft_presto_spark.queries.connector_queries import _GEN_DEFS
    from lyft_presto_spark.testing import compare_with_oracle

    df = _read(spark, table=table)
    sql = _GEN_DEFS + f"SELECT {', '.join(df.columns)} FROM {_CTE[table]}"
    compare_with_oracle(df, sql, sf_dir, name=table)


def test_lineitem_links_to_orders(spark):
    li = _read(spark, table="lineitem", rows=400).collect()
    assert len(li) == 400
    # ~4 lines per order, linenumbers 1..4, keys derived from the index
    assert {r.l_linenumber for r in li} == {1, 2, 3, 4}


def test_full_catalog_tables_and_default_cardinalities(spark):
    # the reference generator exposes the complete catalog
    # (presto-tpch/.../TpchMetadata.java:93); every table loads with its
    # base-scale default cardinality and resolvable foreign keys
    from lyft_presto_spark.sources.tpch_datasource import DEFAULT_ROWS

    for table, n in DEFAULT_ROWS.items():
        df = _read(spark, table=table)
        assert df.count() == n, table
    nation = {r.n_nationkey for r in _read(spark, table="nation").collect()}
    cust = _read(spark, table="customer").collect()
    assert {r.c_nationkey for r in cust} <= nation
    region = {r.r_regionkey for r in _read(spark, table="region").collect()}
    assert {r.n_regionkey for r in _read(spark, table="nation").collect()} <= region
    supp = {r.s_suppkey for r in _read(spark, table="supplier").collect()}
    ps = _read(spark, table="partsupp").collect()
    assert {r.ps_suppkey for r in ps} <= supp
    parts = {r.p_partkey for r in _read(spark, table="part").collect()}
    assert {r.ps_partkey for r in ps} == parts  # 4 suppliers per part


def test_sf_option_scales_variable_tables_only(spark):
    from lyft_presto_spark.sources.tpch_datasource import DEFAULT_ROWS

    assert _read(spark, table="orders", sf=2).count() == 2 * DEFAULT_ROWS["orders"]
    # fixed-size tables ignore sf, like the reference's region/nation
    assert _read(spark, table="region", sf=2).count() == 5
    assert _read(spark, table="nation", sf=2).count() == 25


def test_sf_scales_fk_moduli_so_joins_never_drop_rows(spark):
    # ADVICE r9 (medium): at sf != 1 the FK moduli must scale with the FK
    # target's cardinality — sf<1 must not dangle (inner joins silently
    # dropping rows), sf>1 must reference the WIDENED key range.
    cust = _read(spark, table="customer", sf=0.1)
    ords = _read(spark, table="orders", sf=0.1)
    assert cust.count() == 150
    assert ords.join(cust, ords.o_custkey == cust.c_custkey, "left_anti").count() == 0
    li = _read(spark, table="lineitem", sf=0.1)
    part = _read(spark, table="part", sf=0.1)
    supp = _read(spark, table="supplier", sf=0.1)
    assert li.join(part, li.l_partkey == part.p_partkey, "left_anti").count() == 0
    assert li.join(supp, li.l_suppkey == supp.s_suppkey, "left_anti").count() == 0
    ps = _read(spark, table="partsupp", sf=0.1)
    assert ps.join(supp, ps.ps_suppkey == supp.s_suppkey, "left_anti").count() == 0
    # sf>1: FKs span the widened range, not just the base-scale prefix
    o2 = _read(spark, table="orders", sf=2)
    assert o2.agg({"o_custkey": "max"}).collect()[0][0] >= 1500


def test_partsupp_key_pushdown_uses_4_rows_per_key(spark):
    got = _read(spark, table="partsupp", rows=8000).filter("ps_partkey = 33").collect()
    assert len(got) == 4
    assert all(r.ps_partkey == 33 for r in got)
    from pyspark.sql.datasource import EqualTo

    from lyft_presto_spark.sources.tpch_datasource import TpchGenReader

    r = TpchGenReader("partsupp", 8000, 8)
    assert list(r.pushFilters([EqualTo(("ps_partkey",), 33)])) == []
    assert (r.lo, r.hi) == (132, 136)


def test_boolean_filter_value_stays_residual(spark):
    # bool is an int subclass: it must NOT be consumed as a key bound
    from pyspark.sql.datasource import EqualTo

    from lyft_presto_spark.sources.tpch_datasource import TpchGenReader

    r = TpchGenReader("orders", 1000, 4)
    residual = list(r.pushFilters([EqualTo(("o_orderkey",), True)]))
    assert len(residual) == 1  # returned to Spark, range untouched
    assert (r.lo, r.hi) == (0, 1000)


def test_q3_on_generator_catalog_broadcasts_and_never_cartesians(spark):
    # the registered generator-backed TPC-H Q3 shape: filtered customer side
    # broadcast, both joins equi-joins — the 100 TB plan
    from lyft_presto_spark.plans.inspect import (
        assert_broadcast_join,
        assert_no_cartesian,
    )
    from lyft_presto_spark.queries import all_queries

    df = all_queries()["connector_tpchgen_q3"].spark(spark, "")
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_unknown_table_is_loud(spark):
    register_tpchgen(spark)
    with pytest.raises(Exception, match="unknown table"):
        spark.read.format("tpchgen").option("table", "nope").load().collect()


def test_key_range_pushdown_prunes_generation(spark):
    # comparisons on the index-derived key shrink the generated range
    # itself: with pushdown the scan never synthesizes the pruned rows
    df = _read(spark, table="orders", rows=100_000, partitions=8)
    pruned = df.filter("o_orderkey >= 500 AND o_orderkey < 600")
    rows = pruned.collect()
    assert len(rows) == 100
    assert {r.o_orderkey for r in rows} == set(range(500, 600))
    # reader-level proof the generation range itself shrank (the executed
    # plan does not render PushedFilters for Python sources): after
    # pushing the two bounds, the splits cover exactly [500, 600)
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from lyft_presto_spark.sources.tpch_datasource import TpchGenReader

    r = TpchGenReader("orders", 100_000, 8)
    residual = list(
        r.pushFilters(
            [GreaterThanOrEqual(("o_orderkey",), 500), LessThan(("o_orderkey",), 600)]
        )
    )
    assert residual == []  # both bounds fully handled by the source
    splits = r.partitions()
    assert min(s.start for s in splits) == 500
    assert max(s.end for s in splits) == 600
    assert sum(s.end - s.start for s in splits) == 100


def test_pushdown_equality_and_lineitem_key_mapping(spark):
    li = _read(spark, table="lineitem", rows=100_000, partitions=8)
    got = li.filter("l_orderkey = 77").collect()
    assert len(got) == 4  # 4 lines per order, indexes 308..311
    assert {r.l_linenumber for r in got} == {1, 2, 3, 4}
    assert all(r.l_orderkey == 77 for r in got)


def test_pushdown_results_match_unpushed(spark):
    # semantics unchanged: pushed scan == full scan + Spark-side filter
    full = {
        r.o_orderkey
        for r in _read(spark, table="orders", rows=5000).collect()
        if 1000 <= r.o_orderkey <= 1100
    }
    pushed = {
        r.o_orderkey
        for r in _read(spark, table="orders", rows=5000)
        .filter("o_orderkey BETWEEN 1000 AND 1100").collect()
    }
    assert pushed == full


def test_stream_reader_drains_and_survives_restart(spark, tmp_path):
    """Streaming-source SPI: offset-tracked micro-batches drain the bounded
    stream under availableNow, and a checkpoint RESTART resumes from the
    committed offset with no duplicates and no loss (readBetweenOffsets
    replays deterministically — the generator contract)."""
    import os

    register_tpchgen(spark)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def run(rows):
        # processAllAvailable, not availableNow: a Simple stream reader
        # prefetches one read() per planned batch, so availableNow sees
        # only the first prefetched batch as "available". File sink, not
        # memory: the memory sink cannot recover from a checkpoint.
        q = (
            spark.readStream.format("tpchgen")
            .option("table", "orders").option("rows", str(rows))
            .option("rowsPerBatch", "64")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
        return spark.read.parquet(sink).collect()

    first = run(300)
    keys1 = sorted(r.o_orderkey for r in first)
    assert keys1 == list(range(300))  # drained, no dup, no loss
    # restart against a LARGER bound: resumes from the committed offset —
    # the sink afterwards holds each key exactly once up to the new bound
    second = run(400)
    keys2 = sorted(r.o_orderkey for r in second)
    assert keys2 == list(range(400))
    assert os.path.isdir(ckpt)
    # every column of every streamed row equals the batch read of the rows
    assert sorted(second) == sorted(_read(spark, table="orders", rows=400).collect())


def test_q6_on_generator_pushes_key_range_keeps_residuals(spark):
    # the registered Q6 shape: key bounds consumed (range shrinks to
    # [2000*4, 8000*4)), every non-key screen returned as residual
    from pyspark.sql.datasource import (
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
    )

    from lyft_presto_spark.queries import all_queries
    from lyft_presto_spark.sources.tpch_datasource import TpchGenReader

    r = TpchGenReader("lineitem", 40_000, 8)
    residual = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("l_orderkey",), 2000),
                LessThan(("l_orderkey",), 8000),
                GreaterThan(("l_quantity",), 0),  # non-key: must stay residual
            ]
        )
    )
    assert (r.lo, r.hi) == (8000, 32000)
    assert len(residual) == 1
    # and the end-to-end query agrees with a full-scan + filter twin
    q = all_queries()["connector_tpchgen_q6"]
    row = q.spark(spark, "").collect()[0]
    assert row.n_lines > 0 and row.revenue_mcents > 0


def test_q9_on_generator_catalog_pushdown_broadcast_no_cartesian(spark):
    # the registered generator-backed TPC-H Q9 shape (widest join web):
    # l_orderkey bound consumed by key-range pushdown, small dims
    # broadcast, every join an equi-join
    from pyspark.sql.datasource import LessThan

    from lyft_presto_spark.plans.inspect import (
        assert_broadcast_join,
        assert_no_cartesian,
    )
    from lyft_presto_spark.queries import all_queries
    from lyft_presto_spark.sources.tpch_datasource import TpchGenReader

    # reader-level pushdown pin: the q9 key bound shrinks lineitem
    # generation to [0, 8000*4) and is fully consumed (no residual)
    r = TpchGenReader("lineitem", 40_000, 8)
    assert list(r.pushFilters([LessThan(("l_orderkey",), 8000)])) == []
    assert (r.lo, r.hi) == (0, 32_000)

    df = all_queries()["connector_tpchgen_q9"].spark(spark, "")
    assert_broadcast_join(df)
    assert_no_cartesian(df)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r.n_lines > 0 for r in rows)


def test_vectorized_batches_honor_pushed_key_range(spark):
    # the Arrow path must respect the pruned [lo, hi) index range exactly
    # like the scalar path (splits carry the bounds; batches slice them)
    got = (
        _read(spark, table="lineitem", rows=100_000, partitions=8)
        .filter("l_orderkey >= 1000 AND l_orderkey < 1010")
        .collect()
    )
    assert len(got) == 40  # 4 lines x 10 orders
    assert {r.l_orderkey for r in got} == set(range(1000, 1010))


def test_q1_on_generator_catalog_pushdown_partial_agg(spark):
    # the registered generator-backed TPC-H Q1 shape (pricing summary):
    # the l_orderkey bound is consumed by key-range pushdown, the
    # shipdate screen stays residual, and the aggregate is partial
    # (map-side) before the 3-group shuffle
    from pyspark.sql.datasource import LessThan

    from lyft_presto_spark.queries import all_queries
    from lyft_presto_spark.sources.tpch_datasource import TpchGenReader

    r = TpchGenReader("lineitem", 40_000, 8)
    assert list(r.pushFilters([LessThan(("l_orderkey",), 6000)])) == []
    assert (r.lo, r.hi) == (0, 24_000)

    df = all_queries()["connector_tpchgen_q1"].spark(spark, "")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial" in plan.lower()  # map-side combine before the exchange
    rows = df.collect()
    assert [r.l_returnflag for r in rows] == ["A", "N", "R"]
    assert all(r.n_lines > 0 and r.sum_qty > 0 for r in rows)


def test_q18_on_generator_catalog_semi_join_no_cartesian(spark):
    # the registered generator-backed TPC-H Q18 shape: the HAVING
    # aggregate feeds a LEFT SEMI join onto orders; no cartesian anywhere
    from lyft_presto_spark.plans.inspect import assert_no_cartesian
    from lyft_presto_spark.queries import all_queries

    df = all_queries()["connector_tpchgen_q18"].spark(spark, "")
    assert_no_cartesian(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    rows = df.collect()
    assert 0 < len(rows) <= 20
    # every surviving order aggregates past the HAVING threshold
    assert all(r.sum_qty > 130 for r in rows)
    # descending by price, ties by key
    prices = [r.price_cents for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_q5_on_generator_catalog_region_gate_broadcast_no_cartesian(spark):
    # the registered generator-backed TPC-H Q5 shape (NEW r12): six-way
    # join with the composite customer-nation = supplier-nation local
    # gate; dims broadcast, every join an equi-join, key bound reader-
    # pushable on the live path
    from pyspark.sql.datasource import LessThan

    from lyft_presto_spark.plans.inspect import (
        assert_broadcast_join,
        assert_no_cartesian,
    )
    from lyft_presto_spark.queries import all_queries
    from lyft_presto_spark.sources.tpch_datasource import TpchGenReader

    # reader-level pushdown pin: the q5 key bound shrinks lineitem
    # generation to [0, 8000*4) and is fully consumed (no residual)
    r = TpchGenReader("lineitem", 40_000, 8)
    assert list(r.pushFilters([LessThan(("l_orderkey",), 8000)])) == []
    assert (r.lo, r.hi) == (0, 32_000)

    df = all_queries()["connector_tpchgen_q5"].spark(spark, "")
    assert_broadcast_join(df)
    assert_no_cartesian(df)
    rows = df.collect()
    assert 0 < len(rows) <= 5  # at most the 5 ASIA nations
    assert all(r.n_lines > 0 and r.revenue_mcents > 0 for r in rows)
    revs = [r.revenue_mcents for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_q21_on_generator_catalog_semi_and_anti_join_no_cartesian(spark):
    # the registered generator-backed TPC-H Q21 shape (NEW r12): the
    # spec-form EXISTS + NOT EXISTS pair must decorrelate into a
    # LeftSemi + LeftAnti join web over the same generated fact
    from lyft_presto_spark.plans.inspect import assert_no_cartesian
    from lyft_presto_spark.queries import all_queries

    df = all_queries()["connector_tpchgen_q21"].spark(spark, "")
    assert_no_cartesian(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    rows = df.collect()
    assert len(rows) > 0
    assert all(r.numwait > 0 for r in rows)
    waits = [r.numwait for r in rows]
    assert waits == sorted(waits, reverse=True)


def test_gen_catalog_materializes_each_table_once(spark):
    # _gen_catalog (r12): the generator join webs read a session-staged
    # materialization — repeat calls reuse one artifact per table (the
    # datagen-once model), and the staged leaf is lineage-free
    from lyft_presto_spark.operators.staging import _STAGED, release_staged
    from lyft_presto_spark.queries import all_queries
    from lyft_presto_spark.session import session_key

    release_staged(spark)
    qs = all_queries()
    for _ in range(2):
        qs["connector_tpchgen_q9"].spark(spark, "").collect()
    names = sorted(
        k[2] for k in _STAGED if k[0] == session_key(spark) and k[2].startswith("tpchgen_")
    )
    assert names == [
        "tpchgen_lineitem", "tpchgen_nation", "tpchgen_orders",
        "tpchgen_part", "tpchgen_partsupp", "tpchgen_supplier",
    ]
    release_staged(spark)


def test_generator_corpus_serves_all_22_tpch_shapes():
    # r12 corpus completion: the reference's generator serves its entire
    # TPC-H suite (TpchMetadata.java:93); the tpchgen catalog must too —
    # connector_tpchgen_q1..q22 all registered, all oracle-backed
    from lyft_presto_spark.queries import all_queries

    qs = all_queries()
    missing = [
        f"connector_tpchgen_q{n}" for n in range(1, 23)
        if f"connector_tpchgen_q{n}" not in qs
    ]
    assert missing == []
    no_oracle = [
        f"connector_tpchgen_q{n}" for n in range(1, 23)
        if qs[f"connector_tpchgen_q{n}"].oracle is None
    ]
    assert no_oracle == []


def test_q2_generator_correlated_min_decorrelates_no_cartesian(spark):
    # q2's correlated MIN scalar subquery must decorrelate to an
    # aggregate + equi-join (never a per-row re-execution or cartesian)
    from lyft_presto_spark.plans.inspect import assert_no_cartesian
    from lyft_presto_spark.queries import all_queries

    df = all_queries()["connector_tpchgen_q2"].spark(spark, "")
    assert_no_cartesian(df)
    rows = df.collect()
    assert 0 < len(rows) <= 10
    accts = [r.s_acct_cents for r in rows]
    assert accts == sorted(accts, reverse=True)


def test_q20_generator_nested_in_lowers_to_semi_joins(spark):
    # q20's nested INs must lower to LeftSemi joins over the generated
    # partsupp/part, with the correlated availability SUM decorrelated
    from lyft_presto_spark.plans.inspect import assert_no_cartesian
    from lyft_presto_spark.queries import all_queries

    df = all_queries()["connector_tpchgen_q20"].spark(spark, "")
    assert_no_cartesian(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    rows = df.collect()
    assert len(rows) > 0
    names = [r.s_name for r in rows]
    assert names == sorted(names)
    assert all(r.n_name == "NATION#12" for r in rows)
