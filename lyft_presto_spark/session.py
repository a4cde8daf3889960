"""SparkSession factory and catalog bootstrap.

Maps the reference's session/catalog machinery (Session.java, MetadataManager —
see SURVEY.md §1.3, §3) onto a configured SparkSession plus temp-view
registration of the fixture tables.

Semantics choices mirroring the reference (Presto 319):
- ANSI mode ON: Presto errors on integer overflow, bad casts, and
  out-of-bounds array subscripts (presto-main type/*Operators.java,
  ArraySubscriptOperator.java); Spark's ``spark.sql.ansi.enabled=true``
  matches that behavior.
- Session timezone pinned UTC so timestamp semantics are stable and
  comparable against the DuckDB oracle (naive-UTC timestamps).
- AQE on: runtime broadcast/skew decisions replace the reference's cost-based
  DetermineJoinDistributionType (SURVEY.md §4.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col, expr

from .operators.staging import session_key, session_memo  # noqa: F401 (re-exported)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def default_cpus() -> str:
    """Cores for ``local[n]``: ``SPARK_GRAFT_CPUS``, else the cores this
    process may run on (its CPU affinity, which honours cgroup pinning)."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


DRIVER_MEM_CAP_GB = 24


def driver_memory_for(mem_total_kb: int) -> str:
    """Driver heap for a host with ``mem_total_kb`` of RAM: about 40% of it,
    leaving room for off-heap buffers, Python workers and the OS, at least
    1g and at most ``DRIVER_MEM_CAP_GB``."""
    gb = int(mem_total_kb * 0.4 / (1024 * 1024))
    return f"{min(max(gb, 1), DRIVER_MEM_CAP_GB)}g"


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else sized from ``MemTotal`` in
    /proc/meminfo (the cap where that cannot be read)."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except OSError:
        return f"{DRIVER_MEM_CAP_GB}g"
    return driver_memory_for(total_kb)


def build_session(
    app_name: str = "lyft_presto_spark",
    cpus: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    Local mode here; on a real cluster the same confs apply — partitioning
    and shuffle sizing are the knobs that carry to 1000-executor scale.
    """
    cpus = cpus or default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        # Python DataSource filter pushdown (the tpchgen connector's
        # key-range split pruning — sources/tpch_datasource.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Spark 4.1's TIME type (feature-flagged) backs the reference's
        # `time` type (TimeType.java) — literals, casts, extraction, min/max.
        .config("spark.sql.timeType.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        # Whole-stage-codegen class cache (static conf, default 100
        # entries). Sized for the ~350-query registry, several codegen units
        # each: at 100 the cache cycles between repeat runs of a plan and
        # every re-run pays full Janino recompilation.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # Moderate static threshold: the planner must never broadcast a
        # pruned *fact* table on size-estimate optimism (at 100 TB that is a
        # driver OOM); AQE upgrades genuinely-small sides to broadcast at
        # runtime, which is the safe direction.
        .config("spark.sql.autoBroadcastJoinThreshold", str(8 * 1024 * 1024))
        # Fixture timestamp layouts have varied across driver regenerations:
        # TIMESTAMP(NANOS) (readable only as nanos-since-epoch BIGINT under
        # this legacy flag) and timestamp[us] isAdjustedToUTC=false (surfaces
        # as TIMESTAMP_NTZ). load_table normalizes both to TIMESTAMP so every
        # call site sees one type; the flag keeps the nanos layout readable.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Resolve a fixture table once per session, as a catalog caches table
    handles (MetadataManager): spark.read.parquet costs ~100 ms of driver
    footer/schema work per call. Fixture parquet is immutable for a
    session's lifetime, so there is no invalidation path."""
    return session_memo(
        spark,
        ("load_table", os.path.abspath(sf_dir), name),
        lambda: _read_table(spark, sf_dir, name),
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Defensive: a caller-provided session (e.g. the driver's) may not carry
    # build_session's configs. These are runtime SQL confs — set them here so
    # any session reads fixtures identically: nanosAsLong makes a
    # TIMESTAMP(NANOS) events.parquet readable, and the UTC session zone is
    # what makes the NTZ->TIMESTAMP relabel below an instant-preserving cast
    # (and keeps every timestamp comparison DuckDB-oracle-parity).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(table_path(sf_dir, name))
    # Timestamp normalization: every engine call site assumes ts columns are
    # TIMESTAMP (instant, session TZ pinned UTC). Fixture regenerations have
    # shipped two other layouts; fold both into TIMESTAMP here so the rest of
    # the engine — and the DuckDB oracle, which reads the same micros — sees
    # identical values:
    #  - TIMESTAMP(NANOS) surfaces as BIGINT under nanosAsLong: truncate
    #    nanos->micros (matching DuckDB's cast).
    #  - timestamp[us] isAdjustedToUTC=false surfaces as TIMESTAMP_NTZ: the
    #    wall-clock values are UTC instants, so a cast relabels without
    #    shifting (session TZ is UTC).
    for field in df.schema.fields:
        kind = field.dataType.simpleString()
        if field.name == "ts" and kind == "bigint":
            df = df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        elif kind == "timestamp_ntz":
            df = df.withColumn(field.name, col(field.name).cast("timestamp"))
    return df


# View-mount memo: (session, view name) -> sf_dir currently mounted under
# that name. Temp-view registration is a catalog RPC per call; skipping the
# no-op re-registration keeps repeated query calls (bench reps, the driver's
# sweep) free of it while still remounting whenever the caller switches
# scale-factor directories. Keyed by applicationId, not id(spark): a stopped
# session's id() can be recycled, which would skip the mount for a brand-new
# session.
_MOUNTED: dict[tuple[str, str], str] = {}


def mount_table(spark: SparkSession, sf_dir: str, name: str) -> None:
    """Register fixture table ``name`` of ``sf_dir`` as the temp view
    ``name``. Every bare-name fixture view is mounted here, so the memo
    always names the directory the view reads."""
    key = (session_key(spark), name)
    if _MOUNTED.get(key) != sf_dir:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        _MOUNTED[key] = sf_dir


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (the 'catalog mount').

    Analog of the reference mounting a catalog per connector
    (MetadataManager); here a catalog is a directory of parquet tables.
    """
    for name in TABLES:
        if os.path.exists(table_path(sf_dir, name)):
            mount_table(spark, sf_dir, name)


def session_with_catalog(sf_dir: str = DEFAULT_SF_DIR, **kwargs) -> SparkSession:
    spark = build_session(**kwargs)
    register_tables(spark, sf_dir)
    return spark
