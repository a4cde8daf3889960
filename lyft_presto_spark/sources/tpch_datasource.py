"""On-the-fly TPC-H-style generator connector (Python DataSource API).

Reference: the ``presto-tpch`` connector generates table rows lazily per
split instead of reading files (presto-tpch/.../TpchConnectorFactory.java:35,
TpchPageSourceProvider.java, LazyRecordPageSource.java; splits are row-range
partitions in TpchSplitManager). SURVEY §2.3 previously satisfied this row
with pre-generated parquet fixtures; this module upgrades it to a real
generator CONNECTOR: ``spark.read.format("tpchgen")`` plans row-range input
partitions and each executor synthesizes its rows on demand — no files, no
shuffle, scale set by an option exactly like the reference's ``sf`` schemas.

Spark-first mapping: Spark 4's Python DataSource API is the connector SPI
analog (DataSource ≈ ConnectorFactory, DataSourceReader ≈ SplitManager +
PageSourceProvider, InputPartition ≈ TpchSplit).

Determinism contract: every field is a pure integer function of the row
index (a Knuth multiplicative hash mod 2^32 — exact in int64), so the SAME
rows are reproducible in ANSI SQL via ``generate_series`` — the DuckDB
oracle for the registered query regenerates the data independently and the
driver value-checks the connector end-to-end. (The reference pins its
generator the same way: TestTpchMetadata asserts airlift-tpch's
deterministic output.)

Row-count note: ``rows`` is per-table cardinality; partitions split the
index range evenly with the remainder on the last split, so partition count
never changes results (pinned by test).
"""

from __future__ import annotations

from datetime import datetime, timedelta

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
_EPOCH = datetime(1995, 1, 1)

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


def _h(i: int) -> int:
    """The shared row hash: exact in int64, reproducible in ANSI SQL as
    ``(i * 2654435761 + 40503) % 4294967296``."""
    return (i * _KNUTH + 40503) % _M32


# FK moduli scale with the catalog scale factor: each row function takes the
# catalog's scaled cardinalities so o_custkey / l_partkey / l_suppkey /
# ps_suppkey always land inside the FK target's key range at ANY sf (the
# reference's generator guarantees resolvable FKs at every scale factor the
# same way). ``card=None`` means base scale — direct calls and the default
# sf=1 catalog are unchanged.


def orders_row(i: int, card: dict | None = None) -> tuple:
    c = card or DEFAULT_ROWS
    h = _h(i)
    return (
        i,
        h % c["customer"],
        _STATUS[h % 3],
        (h % 10_000_000) / 100.0,
        _EPOCH + timedelta(days=h % 2400),
        _PRIORITY[h % 5],
    )


def lineitem_row(i: int, card: dict | None = None) -> tuple:
    c = card or DEFAULT_ROWS
    h = _h(i)
    return (
        i // 4,  # ~4 lines per order
        int(i % 4) + 1,
        float(h % 50 + 1),
        (h % 9_000_000) / 100.0 + 900.0,
        float(h % 11) / 100.0,
        "R" if h % 10 == 0 else ("A" if h % 2 == 0 else "N"),
        h % c["part"],  # l_partkey inside the scaled part key range
        h % c["supplier"],  # l_suppkey inside the scaled supplier key range
        _EPOCH + timedelta(days=h % 2500),  # l_shipdate
    )


def region_row(i: int, card: dict | None = None) -> tuple:
    return (i, _REGIONS[i % 5])


def nation_row(i: int, card: dict | None = None) -> tuple:
    # region spread is index-derived (i % 5) so every region key resolves
    return (i, f"NATION#{i}", i % 5)


def customer_row(i: int, card: dict | None = None) -> tuple:
    h = _h(i)
    return (
        i,
        f"Customer#{i:09d}",
        h % 25,
        (h % 1_100_000 - 100_000) / 100.0,  # acctbal in [-1000, 10000)
        _SEGMENTS[h % 5],
    )


def supplier_row(i: int, card: dict | None = None) -> tuple:
    h = _h(i)
    return (i, f"Supplier#{i:09d}", h % 25, (h % 1_100_000 - 100_000) / 100.0)


def part_row(i: int, card: dict | None = None) -> tuple:
    h = _h(i)
    return (
        i,
        f"part#{i}",
        f"Brand#{h % 25 + 10}",
        _TYPES[h % 6],
        int(h % 50 + 1),
        _CONTAINERS[h % 4],
        (h % 200_000) / 100.0 + 900.0,
    )


def partsupp_row(i: int, card: dict | None = None) -> tuple:
    # 4 suppliers per part, like the reference's SUPPLIERS_PER_PART=4
    c = card or DEFAULT_ROWS
    h = _h(i)
    return (i // 4, h % c["supplier"], int(h % 10_000 + 1), (h % 100_000) / 100.0 + 1.0)


_TABLES = {
    "region": (REGION_SCHEMA, region_row),
    "nation": (NATION_SCHEMA, nation_row),
    "customer": (CUSTOMER_SCHEMA, customer_row),
    "supplier": (SUPPLIER_SCHEMA, supplier_row),
    "part": (PART_SCHEMA, part_row),
    "partsupp": (PARTSUPP_SCHEMA, partsupp_row),
    "orders": (ORDERS_SCHEMA, orders_row),
    "lineitem": (LINEITEM_SCHEMA, lineitem_row),
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
        # Vectorized page source for the fact tables (the reference batches
        # rows through LazyRecordPageSource the same way): yielding Arrow
        # RecordBatches synthesized with numpy replaces per-row Python
        # pickling — at 40k rows/split that is the difference between the
        # scan being generation-bound and being serialization-bound. The
        # dimension tables stay row-based (string formatting per row,
        # cardinalities tiny). Value equality between the two paths is
        # pinned by tests (the batch path must reproduce the row functions
        # bit-for-bit).
        if self.table in _VECTOR_TABLES:
            yield from _vector_batches(
                self.table, partition.start, partition.end, self.card
            )
            return
        gen = _TABLES[self.table][1]
        card = self.card
        for i in range(partition.start, partition.end):
            yield gen(i, card)


# Tables with a vectorized (numpy -> Arrow RecordBatch) synthesis path.
_VECTOR_TABLES = ("orders", "lineitem", "partsupp")
_BATCH_ROWS = 65_536  # rows per Arrow batch


def _vector_batches(table: str, start: int, end: int, card: dict):
    """Arrow RecordBatches reproducing the row functions bit-for-bit.

    All arithmetic is exact int64 (i * 2654435761 + 40503 < 2^63 for any
    realistic row count); money fields divide the SAME integers by 100.0
    the scalar path divides, so doubles match bit-for-bit; timestamps are
    whole days from the shared epoch."""
    import numpy as np
    import pyarrow as pa

    epoch = np.datetime64("1995-01-01", "us")
    day = np.timedelta64(1, "D").astype("timedelta64[us]")
    for lo in range(start, end, _BATCH_ROWS):
        hi = min(lo + _BATCH_ROWS, end)
        i = np.arange(lo, hi, dtype=np.int64)
        h = (i * _KNUTH + 40503) % _M32
        if table == "orders":
            status = np.array(_STATUS)[h % 3]
            prio = np.array(_PRIORITY)[h % 5]
            yield pa.record_batch(
                [
                    pa.array(i),
                    pa.array(h % card["customer"]),
                    pa.array(status),
                    pa.array((h % 10_000_000) / 100.0),
                    pa.array(epoch + (h % 2400) * day),
                    pa.array(prio),
                ],
                names=[f.name for f in ORDERS_SCHEMA.fields],
            )
        elif table == "lineitem":
            rf = np.where(h % 10 == 0, "R", np.where(h % 2 == 0, "A", "N"))
            yield pa.record_batch(
                [
                    pa.array(i // 4),
                    pa.array((i % 4 + 1).astype(np.int32)),
                    pa.array((h % 50 + 1).astype(np.float64)),
                    pa.array((h % 9_000_000) / 100.0 + 900.0),
                    pa.array((h % 11).astype(np.float64) / 100.0),
                    pa.array(rf),
                    pa.array(h % card["part"]),
                    pa.array(h % card["supplier"]),
                    pa.array(epoch + (h % 2500) * day),
                ],
                names=[f.name for f in LINEITEM_SCHEMA.fields],
            )
        else:  # partsupp
            yield pa.record_batch(
                [
                    pa.array(i // 4),
                    pa.array(h % card["supplier"]),
                    pa.array((h % 10_000 + 1).astype(np.int32)),
                    pa.array((h % 100_000) / 100.0 + 1.0),
                ],
                names=[f.name for f in PARTSUPP_SCHEMA.fields],
            )


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
        if table not in _TABLES:
            raise ValueError(f"tpchgen: unknown table {table!r}")
        return _TABLES[table][0]

    def _cards(self) -> dict[str, int]:
        """Catalog cardinalities at this sf — the FK moduli every row
        function uses, so foreign keys resolve at any scale factor (sf<1
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
        gen = _TABLES[self.table][1]
        return iter([gen(i, self.card) for i in range(start["i"], end["i"])])
