"""Registry of named queries with optional DuckDB oracles.

The reference validates every query end-to-end against a relational oracle
(H2 — presto-tests/src/main/java/io/prestosql/tests/QueryAssertions.java:97,
H2QueryRunner.java:92; SURVEY.md §5). We mirror that: each registered query
carries (a) a Spark callable ``(spark, sf_dir) -> DataFrame`` and (b) an
equivalent ANSI-SQL string DuckDB can run over the same parquet tables.

Column-name discipline: the driver's comparator sorts columns by name before
hashing values, so every computed column is aliased identically on both
sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "Query"] = {}


@dataclass
class Query:
    name: str
    spark: SparkQuery
    oracle: str | None = None  # DuckDB SQL; None → driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


def query(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a Spark query under ``name``."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, spark=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a fixture table (scan node analog — TableScanNode.java:36)."""
    from ..session import load_table

    return load_table(spark, sf_dir, name)


def spread(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Round-robin repartition a COMPUTE-heavy operand to core count.

    Byte-proportional scan partitioning (maxPartitionBytes) puts a few
    thousand rows of staged geometry operands into 1-2 partitions — fine
    for codegen expressions, but a per-row Python-kernel stage (exact
    polygon overlay, DE-9IM) then runs on 1-2 cores while 30 idle. Heavy
    per-row kernels must partition by CPU, not bytes: at 100 TB the scan
    is already wide and this repartition is a cheap no-op-ish rebalance;
    at bench scale it is the difference between 1x and 32x parallelism.
    The shuffle moves only the slim operand columns (the staged select),
    never the fact table."""
    n = parts or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def sql_over(spark: SparkSession, sf_dir: str, sql: str, tables: tuple[str, ...]) -> DataFrame:
    """Run Spark SQL after mounting the named fixture tables as views."""
    from ..session import mount_table

    for name in tables:
        mount_table(spark, sf_dir, name)
    return spark.sql(sql)
