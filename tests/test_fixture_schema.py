"""Fixture-contract guard.

Round 2 shipped red because a driver fixture regeneration silently changed
``events.ts`` from parquet TIMESTAMP(NANOS) to timestamp[us]
isAdjustedToUTC=false (Spark TIMESTAMP_NTZ), and the engine's normalization
only handled the old layout. These tests make the engine's fixture-schema
assumptions explicit so the next regeneration fails loudly, with a named
cause, before the driver's bench does.

The contract is on load_table's OUTPUT (what the engine guarantees every
call site), not on the raw parquet layout (which the driver may change).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from lyft_presto_spark.session import TABLES, load_table, table_path


def test_events_ts_normalizes_to_timestamp(spark, sf_dir):
    """Every supported raw layout must surface as TIMESTAMP (not NTZ/BIGINT)."""
    df = load_table(spark, sf_dir, "events")
    ts_type = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)["ts"]
    raw = pq.read_schema(table_path(sf_dir, "events")).field("ts").type
    assert ts_type == "timestamp", (
        f"events.ts loaded as {ts_type!r} (raw parquet type: {raw}). "
        "A fixture regeneration changed the timestamp layout; teach "
        "lyft_presto_spark.session.load_table to normalize it to TIMESTAMP."
    )


def test_events_ts_instant_matches_duckdb_oracle(spark, sf_dir):
    """The normalized instant must equal what DuckDB reads from the same file.

    This is the oracle-parity invariant behind every events_* correctness row:
    if normalization shifted the wall clock (e.g. a TZ-sensitive NTZ cast under
    a non-UTC session), min/max epoch-micros would disagree.
    """
    import duckdb

    row = (
        load_table(spark, sf_dir, "events")
        .selectExpr("min(unix_micros(ts)) AS lo", "max(unix_micros(ts)) AS hi")
        .collect()[0]
    )
    lo, hi = duckdb.sql(
        f"SELECT min(epoch_us(ts)), max(epoch_us(ts)) FROM read_parquet('{table_path(sf_dir, 'events')}')"
    ).fetchone()
    assert (row.lo, row.hi) == (lo, hi)


def test_all_fixture_tables_present_and_loadable(spark, sf_dir):
    missing = [n for n in TABLES if not os.path.exists(table_path(sf_dir, n))]
    assert not missing, f"fixture tables missing from {sf_dir}: {missing}"
    for name in TABLES:
        assert load_table(spark, sf_dir, name).schema.fields, name


@pytest.mark.parametrize(
    ("table", "required"),
    [
        ("lineitem", {"l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}),
        ("orders", {"o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"}),
        ("events", {"ts", "user_id", "event_type"}),
        ("documents", {"doc_id", "text"}),
        ("embeddings", {"vec_id", "embedding"}),
    ],
)
def test_required_columns_exist(spark, sf_dir, table, required):
    cols = set(load_table(spark, sf_dir, table).columns)
    missing = required - cols
    assert not missing, f"{table} lost required columns {missing}; present: {sorted(cols)}"


def test_load_table_pins_utc_on_foreign_sessions(spark, sf_dir):
    """A caller session with a non-UTC zone still reads correct instants.

    The driver provides its own session; if it carried e.g. America/New_York,
    an NTZ->TIMESTAMP cast would shift wall clocks by the zone offset and
    every events_* oracle row would silently disagree. load_table must pin
    UTC before normalizing.
    """
    from lyft_presto_spark.operators.staging import _MEMO
    from lyft_presto_spark.session import session_key

    original = spark.conf.get("spark.sql.session.timeZone")
    sk = session_key(spark)

    def forget_tables():
        for k in [k for k in _MEMO if k[0] == sk and k[1][0] == "load_table"]:
            del _MEMO[k]

    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        forget_tables()  # so load_table re-reads under the foreign zone
        lo = (
            load_table(spark, sf_dir, "events")
            .selectExpr("min(unix_micros(ts)) AS lo")
            .collect()[0]
            .lo
        )
        import duckdb

        want = duckdb.sql(
            f"SELECT min(epoch_us(ts)) FROM read_parquet('{table_path(sf_dir, 'events')}')"
        ).fetchone()[0]
        assert lo == want
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"  # pinned
    finally:
        spark.conf.set("spark.sql.session.timeZone", original)
        forget_tables()
