"""The benchmark's workloads: one closed-loop client each.

A workload sets itself up (table mount, staged artifacts, tables to write),
checks its results against an oracle on a cold pass, and then hands out
whole passes of ops in a seeded order. Every op is a zero-argument callable
that raises on failure and returns an error message when its result is wrong.
"""

from __future__ import annotations

import dataclasses
import os
import random
import threading
from collections import deque
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lyft_presto_spark import session as engine_session
from lyft_presto_spark.queries import all_queries
from lyft_presto_spark.sources import write_path
from lyft_presto_spark.sources.connectors import noop_sink
from lyft_presto_spark.testing import compare_with_oracle

from tracer import Tracer

# The engine's fixture root holds one directory per scale factor.
FIXTURES = os.path.dirname(engine_session.DEFAULT_SF_DIR)
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


@dataclass
class Op:
    name: str
    kind: str  # latency group: an operator family, a write verb, "read", "tpch"
    run: Callable[[], str | None]


def attempt(check: Callable[[], None]) -> str | None:
    """Run one correctness check; its failure message, or None when it passed."""
    try:
        check()
    except Exception as e:  # noqa: BLE001 — a failed check is a result, not a crash
        return f"{type(e).__name__}: {str(e)[:300]}"
    return None


@dataclass
class Checks:
    """Correctness checks made outside the measured window."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def record(self, name: str, error: str | None) -> None:
        with self._lock:
            self.attempted += 1
            if error is not None:
                self.failures.append(f"{name}: {error}")


@dataclass
class Context:
    spark: SparkSession
    tracer: Tracer
    rng: random.Random
    run_dir: str  # per-run scratch inside the checkout


def load_tables(ctx: Context, sf_dir: str, tables: tuple[str, ...]) -> None:
    """Mount fixture tables through the session layer (schema resolution, cached)."""
    with ctx.tracer.span("session", "mount"):
        for name in tables:
            engine_session.load_table(ctx.spark, sf_dir, name)


class QueryMix:
    """Registry queries run through the noop sink, one shuffled pass at a time.

    Set-up checks every query against its DuckDB oracle. That cold pass runs
    one query per core at once: it compiles every plan and builds every
    staged artifact. With the one serial pass of the warm-up it makes two
    prewarm passes, as the reference's benchto runs do.
    """

    def __init__(
        self,
        ctx: Context,
        sf_dir: str,
        entries: tuple[tuple[str, str], ...],
        tables: tuple[str, ...],
    ) -> None:
        self.ctx = ctx
        self.sf_dir = sf_dir
        self.entries = list(entries)
        self.tables = tables
        self.queries = all_queries()

    def setup(self, checks: Checks) -> None:
        load_tables(self.ctx, self.sf_dir, self.tables)
        order = [self.queries[name] for name, _kind in self.entries]
        self.ctx.rng.shuffle(order)
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            for q, error in zip(order, pool.map(self._check, order)):
                checks.record(q.name, error)

    def _check(self, q) -> str | None:
        return attempt(lambda: compare_with_oracle(
            q.spark(self.ctx.spark, self.sf_dir), q.oracle, self.sf_dir, name=q.name))

    def warmup(self) -> None:
        for op in self.next_pass():
            op.run()

    def next_pass(self) -> list[Op]:
        order = self.entries[:]
        self.ctx.rng.shuffle(order)
        return [Op(name, kind, self._runner(name)) for name, kind in order]

    def final_check(self, checks: Checks) -> None:
        pass

    def _runner(self, name: str) -> Callable[[], None]:
        q, spark, tracer, sf_dir = self.queries[name], self.ctx.spark, self.ctx.tracer, self.sf_dir

        def run() -> None:
            with tracer.span("queries", "build"):
                df = q.spark(spark, sf_dir)
            with tracer.span("exec", "run"):
                noop_sink(df)

        return run


def tpch_power(ctx: Context) -> QueryMix:
    entries = tuple((f"tpch_q{i}", "tpch") for i in range(1, 23))
    return QueryMix(ctx, os.path.join(FIXTURES, "sf0.01"), entries, TPCH_TABLES)


# One or two cheap representatives per extension family (ops of 0.2-0.6 s,
# so a short window still holds enough samples); families name the
# operators.<family> per-layer metrics.
OPERATOR_MIX = (
    ("dedup_minhash_lsh", "dedup"),
    ("sim_ivfpq_search", "sim"),
    ("sim_pq_adc_search", "sim"),
    ("text_bm25_retrieval", "text"),
    ("op_spatial_kdb_join", "geo"),
    ("events_sessionize", "events"),
    ("fn_json", "fn"),
    ("fn_array_hof", "fn"),
)
FAMILIES = ("dedup", "sim", "text", "geo", "events", "fn")
WRITE_KINDS = ("insert_into", "optimize_table", "delete_where", "merge_into")


def operator_mix(ctx: Context) -> QueryMix:
    return QueryMix(ctx, os.path.join(FIXTURES, "sf0.01"), OPERATOR_MIX, engine_session.TABLES)


# Row checksum both engines compute identically: integer arithmetic over
# columns every write verb carries through (l_quantity is the one MERGE
# changes).
CHECKSUM_SQL = (
    "l_orderkey * 31 + l_linenumber * 17 + l_partkey + l_suppkey * 3"
    " + CAST(round(l_quantity * 100) AS BIGINT)"
    " + CAST(round(l_extendedprice * 100) AS BIGINT)"
)


class Ingest:
    """Micro-batch appends into a CTAS table, with compaction and delete.

    A cycle appends ``N_SLICES`` lineitem key-range slices in seeded order,
    reads the table back after every write, compacts every
    ``OPTIMIZE_EVERY`` appends and deletes every row beyond the base range.
    With ``merge`` the cycle also upserts a batch (updates to base rows plus
    new rows) before the delete. Each cycle ends with the same table
    contents, so cycles repeat without drift.
    """

    TABLE = "perfbench_ingest"
    BASE_HI = 1_000  # base table: l_orderkey < BASE_HI (~4k rows)
    SLICE_KEYS = 100  # orderkeys per appended slice (~400 rows)
    N_SLICES = 6
    OPTIMIZE_EVERY = 3
    MERGE_OLD = (950, 1_000)  # base keys the merge updates
    # Write-path latencies keep falling for a few cycles; in the extensions
    # workload these cycles overlap the operator mix's cold pass.
    WARM_CYCLES = 3

    def __init__(self, ctx: Context, merge: bool) -> None:
        self.ctx = ctx
        self.merge = merge
        self.sf_dir = os.path.join(FIXTURES, "sf0.01")
        top = self.BASE_HI * 2 + ctx.rng.randrange(100) * self.SLICE_KEYS
        self.slice_ranges = [(top + i * self.SLICE_KEYS, top + (i + 1) * self.SLICE_KEYS)
                             for i in range(self.N_SLICES)]
        new_lo = top + self.N_SLICES * self.SLICE_KEYS
        self.merge_new = (new_lo, new_lo + self.SLICE_KEYS // 2)  # keys the merge inserts
        self.location = os.path.join(ctx.run_dir, self.TABLE)
        # (files before, table bytes before, table bytes after) per traced optimize
        self.optimize_stats: list[tuple[int, int, int]] = []

    def _in(self, rng: tuple[int, int]) -> str:
        return f"l_orderkey >= {rng[0]} AND l_orderkey < {rng[1]}"

    def _merge_filter(self) -> str:
        return f"(({self._in(self.MERGE_OLD)}) OR ({self._in(self.merge_new)}))"

    def _expected_counts(self) -> None:
        """Row counts of the base, each slice and the merge's new rows, from DuckDB."""
        import duckdb

        src = os.path.join(self.sf_dir, "lineitem.parquet")
        con = duckdb.connect()
        try:
            def count(where: str) -> int:
                return con.execute(f"SELECT count(*) FROM read_parquet('{src}') WHERE {where}").fetchone()[0]

            self.base_rows = count(f"l_orderkey < {self.BASE_HI}")
            self.slice_rows = [count(self._in(r)) for r in self.slice_ranges]
            self.merge_new_rows = con.execute(
                f"SELECT count(*) FROM ({self._unique_keys_sql(src)}) WHERE {self._in(self.merge_new)}"
            ).fetchone()[0]
        finally:
            con.close()

    def _unique_keys_sql(self, src: str) -> str:
        return (
            f"SELECT l_orderkey, l_linenumber FROM read_parquet('{src}') "
            f"WHERE {self._merge_filter()} GROUP BY 1, 2 HAVING count(*) = 1"
        )

    def setup(self, checks: Checks) -> None:
        spark, tracer = self.ctx.spark, self.ctx.tracer
        load_tables(self.ctx, self.sf_dir, ("lineitem",))
        li = engine_session.load_table(spark, self.sf_dir, "lineitem")
        self._expected_counts()
        spark.sql(f"DROP TABLE IF EXISTS {self.TABLE}")
        with tracer.span("write_path", "ctas"):
            write_path.ctas(spark, li.filter(f"l_orderkey < {self.BASE_HI}"), self.TABLE, self.location)
        # Source batches are staged once: appends then measure the write
        # path, not re-scans of the source file.
        self.slices = [li.filter(self._in(r)).cache() for r in self.slice_ranges]
        keys = ["l_orderkey", "l_linenumber"]
        candidates = li.filter(self._merge_filter())
        unique = candidates.groupBy(*keys).count().filter("count = 1").select(*keys)
        self.merge_src = (
            candidates.join(unique, keys, "left_semi")
            .withColumn("l_quantity", F.col("l_quantity") + F.lit(1.0))
            .cache()
        )
        for df in (*self.slices, self.merge_src):
            df.count()
        checks.record("ingest_setup_counts", attempt(self._check_setup_counts))

    def _check_setup_counts(self) -> None:
        got = [df.count() for df in self.slices]
        if got != self.slice_rows:
            raise AssertionError(f"slice rows {got} != {self.slice_rows}")

    def warmup(self) -> None:
        for _ in range(self.WARM_CYCLES):
            for op in self.next_pass():
                err = op.run()
                if err:
                    raise AssertionError(f"warm-up {op.name}: {err}")

    def next_pass(self) -> list[Op]:
        order = list(range(self.N_SLICES))
        self.ctx.rng.shuffle(order)
        ops: list[Op] = []
        rows = self.base_rows
        for k, i in enumerate(order):
            rows += self.slice_rows[i]
            ops += [Op(f"insert_{i}", "insert_into", self._insert(i)), self._read(rows)]
            if (k + 1) % self.OPTIMIZE_EVERY == 0:
                ops += [Op("optimize", "optimize_table", self._optimize), self._read(rows)]
        if self.merge:
            ops += [Op("merge", "merge_into", self._merge), self._read(rows + self.merge_new_rows)]
        ops += [Op("delete", "delete_where", self._delete), self._read(self.base_rows)]
        return ops

    def _insert(self, i: int) -> Callable[[], None]:
        def run() -> None:
            with self.ctx.tracer.span("write_path", "insert_into"):
                write_path.insert_into(self.ctx.spark, self.slices[i], self.TABLE)

        return run

    def _read(self, expect: int) -> Op:
        def run() -> str | None:
            with self.ctx.tracer.span("queries", "build"):
                df = self.ctx.spark.table(self.TABLE).agg(
                    F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
            with self.ctx.tracer.span("exec", "read_back"):
                row = df.collect()[0]
            return None if row["n"] == expect else f"read back {row['n']} rows, expected {expect}"

        return Op("read_back", "read", run)

    def _optimize(self) -> None:
        tracer = self.ctx.tracer
        before = self.table_bytes() if tracer.enabled else 0
        with tracer.span("write_path", "optimize_table") as s:
            res = write_path.optimize_table(self.ctx.spark, self.TABLE)
        if s is not None:
            self.optimize_stats.append((res["files_before"], before, self.table_bytes()))

    def _merge(self) -> None:
        with self.ctx.tracer.span("write_path", "merge_into"):
            write_path.merge_into(self.ctx.spark, self.TABLE, self.merge_src, ("l_orderkey", "l_linenumber"))

    def _delete(self) -> None:
        with self.ctx.tracer.span("write_path", "delete_where"):
            write_path.delete_where(self.ctx.spark, self.TABLE, f"l_orderkey >= {self.BASE_HI}")

    def table_bytes(self) -> int:
        total = 0
        for dirpath, _dirs, files in os.walk(self.location):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files
                         if not f.startswith((".", "_")))
        return total

    def final_check(self, checks: Checks) -> None:
        """After whole cycles the table is the base range, with the merge's updates if any."""
        src = os.path.join(self.sf_dir, "lineitem.parquet")
        unique_keys = self._unique_keys_sql(src) if self.merge else (
            "SELECT l_orderkey, l_linenumber FROM li WHERE false")
        expected = (
            f"WITH li AS (SELECT * FROM read_parquet('{src}') WHERE l_orderkey < {self.BASE_HI}), "
            f"u AS ({unique_keys}), "
            "t AS (SELECT li.* REPLACE (CASE WHEN u.l_orderkey IS NULL THEN li.l_quantity "
            "ELSE li.l_quantity + 1.0 END AS l_quantity) FROM li LEFT JOIN u "
            "ON li.l_orderkey = u.l_orderkey AND li.l_linenumber = u.l_linenumber) "
            f"SELECT count(*) AS n, CAST(sum({CHECKSUM_SQL}) AS BIGINT) AS checksum FROM t"
        )
        actual = self.ctx.spark.sql(
            f"SELECT count(*) AS n, CAST(sum({CHECKSUM_SQL}) AS BIGINT) AS checksum FROM {self.TABLE}"
        )
        checks.record("ingest_final_table", attempt(lambda: compare_with_oracle(
            actual, expected, self.sf_dir, name="ingest_final_table")))


def forked(ctx: Context) -> Context:
    """A context with its own seeded generator, for a part set up on another thread."""
    return dataclasses.replace(ctx, rng=random.Random(ctx.rng.getrandbits(64)))


class Mixed:
    """Several workloads on one session and one client.

    Set-up and warm-up of the parts run side by side, one thread each. Each
    pass riffles one pass of every part in a seeded order that keeps each
    part's own op order, so writes run between analytic queries.
    """

    def __init__(self, ctx: Context, *parts) -> None:
        self.ctx = ctx
        self.parts = parts
        self.optimize_stats = next(
            (p.optimize_stats for p in parts if hasattr(p, "optimize_stats")), [])

    def setup(self, checks: Checks) -> None:
        def prepare(part) -> None:
            part.setup(checks)
            part.warmup()

        with ThreadPoolExecutor(len(self.parts)) as pool:
            for done in [pool.submit(prepare, p) for p in self.parts]:
                done.result()

    def warmup(self) -> None:
        pass  # done with each part's set-up

    def next_pass(self) -> list[Op]:
        queues = [deque(p.next_pass()) for p in self.parts]
        ops: list[Op] = []
        while any(queues):
            r = self.ctx.rng.randrange(sum(len(q) for q in queues))
            for q in queues:
                if r < len(q):
                    ops.append(q.popleft())
                    break
                r -= len(q)
        return ops

    def final_check(self, checks: Checks) -> None:
        for p in self.parts:
            p.final_check(checks)


WORKLOADS: dict[str, Callable[[Context], object]] = {
    "tpch_power": tpch_power,
    "operator_mix": operator_mix,
    "ingest": lambda ctx: Ingest(ctx, merge=False),
    # Adds merge_into to every cycle. Left out of BENCHMARK.json: at this
    # commit merge_into writes rows misaligned when the merge keys are not
    # the table's leading columns, so its read-back checks fail.
    "ingest_merge": lambda ctx: Ingest(ctx, merge=True),
    "extensions": lambda ctx: Mixed(ctx, operator_mix(forked(ctx)), Ingest(forked(ctx), merge=False)),
}
