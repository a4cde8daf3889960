"""On-the-fly TPC-H-style generator connector (Python DataSource API).

Reference: the ``presto-tpch`` connector generates table rows lazily per
split instead of reading files (presto-tpch/.../TpchConnectorFactory.java:35,
TpchPageSourceProvider.java, LazyRecordPageSource.java; splits are row-range
partitions in TpchSplitManager). ``spark.read.format("tpchgen")`` plans
row-range input partitions and each executor synthesizes its rows on demand
(no files, no shuffle), with the scale set by an option like the
reference's ``sf`` schemas.

Spark-first mapping: Spark 4's Python DataSource API is the connector SPI
analog (DataSource ≈ ConnectorFactory, DataSourceReader ≈ SplitManager +
PageSourceProvider, InputPartition ≈ TpchSplit).

Every table of the 8-table catalog is defined once, in ``_batches``: the
batch reader yields its Arrow RecordBatches and the stream reader turns the
same batches into tuples. Every field is a pure integer function of the row
index, so the DuckDB oracles regenerate the same rows with
``generate_series`` (one prelude, ``connector_queries._GEN_DEFS``) and
tests/test_tpch_datasource.py compares every column of every table against
it. (The reference pins its generator the same way: TestTpchMetadata
asserts airlift-tpch's deterministic output.)

Row-count note: ``rows`` is per-table cardinality; partitions split the
index range evenly with the remainder on the last split, so partition count
never changes results (pinned by test).
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_M32 = 4_294_967_296  # 2^32
_KNUTH = 2_654_435_761  # Knuth multiplicative hash constant

_STATUS = ("F", "O", "P")
_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_TYPES = (
    "ECONOMY ANODIZED STEEL", "LARGE BRUSHED BRASS", "MEDIUM POLISHED COPPER",
    "PROMO BURNISHED NICKEL", "SMALL PLATED TIN", "STANDARD POLISHED STEEL",
)
_CONTAINERS = ("JUMBO PKG", "LG CASE", "MED BOX", "SM DRUM")

ORDERS_SCHEMA = StructType(
    [
        StructField("o_orderkey", LongType(), False),
        StructField("o_custkey", LongType(), False),
        StructField("o_orderstatus", StringType(), False),
        StructField("o_totalprice", DoubleType(), False),
        StructField("o_orderdate", TimestampType(), False),
        StructField("o_orderpriority", StringType(), False),
    ]
)

LINEITEM_SCHEMA = StructType(
    [
        StructField("l_orderkey", LongType(), False),
        StructField("l_linenumber", IntegerType(), False),
        StructField("l_quantity", DoubleType(), False),
        StructField("l_extendedprice", DoubleType(), False),
        StructField("l_discount", DoubleType(), False),
        StructField("l_returnflag", StringType(), False),
        # appended in round 9 (full-catalog upgrade); earlier columns keep
        # their positions so the original row contract is unchanged
        StructField("l_partkey", LongType(), False),
        StructField("l_suppkey", LongType(), False),
        StructField("l_shipdate", TimestampType(), False),
    ]
)

REGION_SCHEMA = StructType(
    [
        StructField("r_regionkey", LongType(), False),
        StructField("r_name", StringType(), False),
    ]
)

NATION_SCHEMA = StructType(
    [
        StructField("n_nationkey", LongType(), False),
        StructField("n_name", StringType(), False),
        StructField("n_regionkey", LongType(), False),
    ]
)

CUSTOMER_SCHEMA = StructType(
    [
        StructField("c_custkey", LongType(), False),
        StructField("c_name", StringType(), False),
        StructField("c_nationkey", LongType(), False),
        StructField("c_acctbal", DoubleType(), False),
        StructField("c_mktsegment", StringType(), False),
    ]
)

SUPPLIER_SCHEMA = StructType(
    [
        StructField("s_suppkey", LongType(), False),
        StructField("s_name", StringType(), False),
        StructField("s_nationkey", LongType(), False),
        StructField("s_acctbal", DoubleType(), False),
    ]
)

PART_SCHEMA = StructType(
    [
        StructField("p_partkey", LongType(), False),
        StructField("p_name", StringType(), False),
        StructField("p_brand", StringType(), False),
        StructField("p_type", StringType(), False),
        StructField("p_size", IntegerType(), False),
        StructField("p_container", StringType(), False),
        StructField("p_retailprice", DoubleType(), False),
    ]
)

PARTSUPP_SCHEMA = StructType(
    [
        StructField("ps_partkey", LongType(), False),
        StructField("ps_suppkey", LongType(), False),
        StructField("ps_availqty", IntegerType(), False),
        StructField("ps_supplycost", DoubleType(), False),
    ]
)


_SCHEMAS = {
    "region": REGION_SCHEMA,
    "nation": NATION_SCHEMA,
    "customer": CUSTOMER_SCHEMA,
    "supplier": SUPPLIER_SCHEMA,
    "part": PART_SCHEMA,
    "partsupp": PARTSUPP_SCHEMA,
    "orders": ORDERS_SCHEMA,
    "lineitem": LINEITEM_SCHEMA,
}

# Reference default cardinalities at the connector's base scale: the
# reference's TpchMetadata.java:93 exposes the full catalog per schema; these
# are the per-table row counts ``format("tpchgen")`` uses when ``rows`` is
# not given. FK moduli are the (sf-scaled) cardinalities of the FK targets —
# o_custkey = h % customer_count, l_partkey = h % part_count, l_suppkey /
# ps_suppkey = h % supplier_count — so every foreign key resolves at ANY sf
# (partsupp is 4 rows per part, like the reference's SUPPLIERS_PER_PART=4).
DEFAULT_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 200,
    "part": 2000,
    "partsupp": 8000,
    "orders": 10_000,
    "lineitem": 40_000,
}


class _RangeSplit(InputPartition):
    """TpchSplit analog: a half-open row-index range."""

    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


_KEY_COL = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "partsupp": "ps_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
}
# rows per key value: tables whose key IS the row index map 1:1; lineitem
# and partsupp pack 4 rows per key (index // 4)
_KEY_MULT = {"lineitem": 4, "partsupp": 4}


class TpchGenReader(DataSourceReader):
    """Row-range splits with KEY-RANGE FILTER PUSHDOWN: comparisons on the
    index-derived key column shrink the generated range itself — the
    connector-level ``applyFilter`` analog (the reference prunes tpch
    splits the same way; Spark calls ``pushFilters`` once at planning).
    Orders keys ARE the row index; lineitem keys are ``index // 4``, so a
    key bound maps to an index bound exactly. Pushed filters are fully
    handled (not re-evaluated by Spark), every other filter is returned."""

    def __init__(self, table: str, rows: int, partitions: int, card: dict | None = None):
        self.table = table
        self.rows = rows
        self.card = card or DEFAULT_ROWS  # scaled FK cardinalities
        self.n_parts = max(1, min(partitions, rows or 1))
        self.lo = 0  # half-open pruned index range [lo, hi)
        self.hi = rows

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        key = _KEY_COL[self.table]
        mult = _KEY_MULT.get(self.table, 1)  # rows per key
        for f in filters:
            attr = getattr(f, "attribute", None)
            val = getattr(f, "value", None)
            # bool is an int subclass: a pushed boolean must stay residual,
            # not be consumed as a key bound (True -> 1)
            if attr != (key,) or not isinstance(val, int) or isinstance(val, bool):
                yield f  # unsupported: Spark evaluates it post-scan
                continue
            if isinstance(f, EqualTo):
                self.lo = max(self.lo, val * mult)
                self.hi = min(self.hi, (val + 1) * mult)
            elif isinstance(f, GreaterThan):
                self.lo = max(self.lo, (val + 1) * mult)
            elif isinstance(f, GreaterThanOrEqual):
                self.lo = max(self.lo, val * mult)
            elif isinstance(f, LessThan):
                self.hi = min(self.hi, val * mult)
            elif isinstance(f, LessThanOrEqual):
                self.hi = min(self.hi, (val + 1) * mult)
            else:
                yield f

    def partitions(self):
        lo, hi = self.lo, max(self.lo, self.hi)
        n = hi - lo
        n_parts = max(1, min(self.n_parts, n or 1))
        per = n // n_parts
        splits = []
        for p in range(n_parts):
            start = lo + p * per
            end = hi if p == n_parts - 1 else start + per
            splits.append(_RangeSplit(start, end))
        return splits

    def read(self, partition: _RangeSplit):
        # Arrow RecordBatches synthesized with numpy, like the reference's
        # LazyRecordPageSource batches rows into pages: no per-row Python
        # objects are built or pickled.
        yield from _batches(self.table, partition.start, partition.end, self.card)


_BATCH_ROWS = 65_536  # rows per Arrow batch


def _batches(table: str, start: int, end: int, card: dict):
    """Rows [start, end) of ``table`` as Arrow RecordBatches: the one
    synthesis path behind both the batch and the stream reader.

    Row i's fields are pure integer functions of i and of the shared row
    hash ``h = (i * 2654435761 + 40503) % 4294967296`` (Knuth multiplicative,
    exact in int64 for any realistic row count), so ANSI SQL regenerates
    them with ``generate_series`` (the DuckDB oracles in
    queries/connector_queries.py). Money divides an exact integer by 100.0,
    so doubles match the SQL regeneration bit for bit; timestamps are whole
    days from 1995-01-01. FK moduli are the catalog's scaled cardinalities
    ``card``, so every foreign key resolves at any sf."""
    import numpy as np
    import pyarrow as pa

    epoch = np.datetime64("1995-01-01", "us")
    day = np.timedelta64(1, "D").astype("timedelta64[us]")
    names = [f.name for f in _SCHEMAS[table].fields]

    for lo in range(start, end, _BATCH_ROWS):
        i = np.arange(lo, min(lo + _BATCH_ROWS, end), dtype=np.int64)
        h = (i * _KNUTH + 40503) % _M32
        if table == "region":
            cols = [i, np.array(_REGIONS)[i % 5]]
        elif table == "nation":
            # index-derived region spread, so every region key resolves
            cols = [i, np.char.mod("NATION#%d", i), i % 5]
        elif table == "customer":
            cols = [
                i,
                np.char.mod("Customer#%09d", i),
                h % 25,
                (h % 1_100_000 - 100_000) / 100.0,  # acctbal in [-1000, 10000)
                np.array(_SEGMENTS)[h % 5],
            ]
        elif table == "supplier":
            cols = [
                i,
                np.char.mod("Supplier#%09d", i),
                h % 25,
                (h % 1_100_000 - 100_000) / 100.0,
            ]
        elif table == "part":
            cols = [
                i,
                np.char.mod("part#%d", i),
                np.char.mod("Brand#%d", h % 25 + 10),
                np.array(_TYPES)[h % 6],
                (h % 50 + 1).astype(np.int32),
                np.array(_CONTAINERS)[h % 4],
                (h % 200_000) / 100.0 + 900.0,
            ]
        elif table == "partsupp":
            # 4 suppliers per part, like the reference's SUPPLIERS_PER_PART=4
            cols = [
                i // 4,
                h % card["supplier"],
                (h % 10_000 + 1).astype(np.int32),
                (h % 100_000) / 100.0 + 1.0,
            ]
        elif table == "orders":
            cols = [
                i,
                h % card["customer"],
                np.array(_STATUS)[h % 3],
                (h % 10_000_000) / 100.0,
                epoch + (h % 2400) * day,
                np.array(_PRIORITY)[h % 5],
            ]
        else:  # lineitem: ~4 lines per order
            cols = [
                i // 4,
                (i % 4 + 1).astype(np.int32),
                (h % 50 + 1).astype(np.float64),
                (h % 9_000_000) / 100.0 + 900.0,
                (h % 11) / 100.0,
                np.where(h % 10 == 0, "R", np.where(h % 2 == 0, "A", "N")),
                h % card["part"],
                h % card["supplier"],
                epoch + (h % 2500) * day,
            ]
        yield pa.record_batch([pa.array(c) for c in cols], names=names)


class TpchGenDataSource(DataSource):
    """``format("tpchgen")`` — options: ``table`` (any of the full 8-table
    TPC-H catalog, matching the reference's TpchMetadata.java:93), ``rows``
    (cardinality; defaults to the base-scale count in ``DEFAULT_ROWS``),
    ``sf`` (scale multiplier applied to the default cardinality; the
    reference's per-schema scale factor analog), ``partitions`` (default 8)."""

    @classmethod
    def name(cls) -> str:
        return "tpchgen"

    def schema(self) -> StructType:
        table = self.options.get("table", "orders")
        if table not in _SCHEMAS:
            raise ValueError(f"tpchgen: unknown table {table!r}")
        return _SCHEMAS[table]

    def _cards(self) -> dict[str, int]:
        """Catalog cardinalities at this sf — the FK moduli ``_batches``
        uses, so foreign keys resolve at any scale factor (sf<1
        shrinks the moduli with the tables; sf>1 widens them)."""
        sf = float(self.options.get("sf", "1"))
        return {
            t: (n if t in ("region", "nation") else max(1, int(n * sf)))
            for t, n in DEFAULT_ROWS.items()
        }

    def _rows(self, table: str) -> int:
        if "rows" in self.options:
            return int(self.options["rows"])
        return self._cards()[table]

    def reader(self, schema: StructType) -> DataSourceReader:
        table = self.options.get("table", "orders")
        return TpchGenReader(
            table,
            self._rows(table),
            int(self.options.get("partitions", "8")),
            self._cards(),
        )

    def simpleStreamReader(self, schema: StructType):
        table = self.options.get("table", "orders")
        return TpchGenStreamReader(
            table,
            self._rows(table),
            int(self.options.get("rowsPerBatch", "100")),
            self._cards(),
        )


def register_tpchgen(spark) -> None:
    """Idempotent per session (``session_memo``)."""
    from ..operators.staging import session_memo

    def register() -> bool:
        spark.dataSource.register(TpchGenDataSource)
        # pushFilters() is an SQLSTATE 38000 error unless Python-source filter
        # pushdown is on; the repo session sets it at build time
        # (session.py:72) but the DRIVER hands us its own session — a runtime
        # conf, so set it here so the connector is self-sufficient in any
        # session.
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        return True

    session_memo(spark, ("register_tpchgen",), register)


# --- streaming read path ------------------------------------------------------
# The streaming-source SPI surface the env-blocked Kafka broker scan could
# not demonstrate (COVERAGE §2.3): offset-tracked micro-batches with
# deterministic REPLAY (readBetweenOffsets is what exactly-once recovery
# calls after a restart). Offsets are row indexes, so a replayed range
# regenerates byte-identical rows — the generator determinism contract
# doubles as the replayability contract.

from pyspark.sql.datasource import SimpleDataSourceStreamReader  # noqa: E402


class TpchGenStreamReader(SimpleDataSourceStreamReader):
    """Micro-batches of ``rowsPerBatch`` generated rows; stops advancing at
    ``rows`` (a bounded stream, so availableNow drains it)."""

    def __init__(self, table: str, rows: int, rows_per_batch: int, card: dict | None = None):
        self.table = table
        self.rows = rows
        self.card = card or DEFAULT_ROWS
        self.per = max(1, rows_per_batch)

    def initialOffset(self) -> dict:
        return {"i": 0}

    def read(self, start: dict):
        lo = start["i"]
        hi = min(lo + self.per, self.rows)
        return self.readBetweenOffsets(start, {"i": hi}), {"i": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # a list iterator, not a generator: Spark copies the prefetched
        # iterator (copy.copy) when it plans the cached batch
        return iter([
            row
            for b in _batches(self.table, start["i"], end["i"], self.card)
            for row in zip(*(c.to_pylist() for c in b.columns))
        ])
