"""Write path: CTAS / INSERT / DELETE / ANALYZE (SURVEY.md §7 Phase 4).

Reference mapping:
- ctas            ≈ TableWriterNode + TableFinishNode (CTAS commit;
                    TableWriterOperator.java:58, TableFinishOperator.java:46)
- insert_into     ≈ INSERT append path
- delete_where    ≈ TableDeleteNode (whole-partition delete shortcut,
                    TableDeleteOperator.java:33) — parquet has no row-level
                    delete, so this rewrites the table minus matching rows;
                    a production deployment would use a lakehouse format.
- analyze         ≈ StatisticsWriterNode / ANALYZE (feeds the CBO exactly as
                    Presto's stats feed its cost-based optimizer)
- optimize_table  ≈ extension: small-file compaction (Hive CONCATENATE /
                    Iceberg rewrite_data_files analog — the reference
                    delegates compaction to Hive; a 100 TB micro-batch
                    ingest pipeline needs it as a first-class verb)
- merge_into      ≈ extension: ANSI MERGE upsert

Snapshot model: the three rewriting verbs (``delete_where``,
``optimize_table``, ``merge_into``) write the table's new rows once, into a
fresh hidden version directory under the table's CTAS root, and commit by
repointing the catalog table at it (``ALTER TABLE … SET LOCATION``) — the
reference's writer-then-TableFinish split, with the commit a metadata step.
Readers see the old snapshot or the new one, never a partial one. Only the
current version is kept: the previous one is deleted after the commit.

Scale notes: writes go through Spark's committer (task-level speculative-safe
commit); partitioned CTAS lays out partition directories so downstream scans
partition-prune, and rewrites keep that layout.
"""

from __future__ import annotations

import json
import re
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def ctas(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    location: str,
    partition_by: tuple[str, ...] = (),
    fmt: str = "parquet",
) -> None:
    """CREATE TABLE AS SELECT with an explicit location."""
    w = df.write.format(fmt).mode("errorifexists")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.option("path", location).saveAsTable(table)


def insert_into(spark: SparkSession, df: DataFrame, table: str) -> None:
    """INSERT INTO (append) an existing catalog table."""
    df.write.insertInto(table, overwrite=False)


_VERSION_DIR = re.compile(r"_v[0-9a-f]{32}")


def _rewrite(spark: SparkSession, table: str, df: DataFrame) -> None:
    """Replace ``table``'s rows with ``df`` by committing a new snapshot.

    The rows are written once, into a fresh hidden version directory
    ``<table root>/_v<uuid>`` (Spark's file listing skips ``_``-prefixed
    entries, so an unfinished version is invisible to readers). The commit
    is a metadata step, the TableFinish analog: ``ALTER TABLE … SET
    LOCATION`` repoints the table and the catalog partitions are brought in
    line with the new version. Only then is every other entry under the
    table root deleted, so the old snapshot stays whole until the repoint.

    ``df`` is aligned to the table's columns by name and cast to their
    types, so callers may build it in any column order.

    If the write or the repoint fails, the table is pointed back at its old
    snapshot, the new directory is removed and the error re-raised.
    Retention is "keep only the current version"; cleanup that did not
    finish is redone by the next rewrite.
    """
    meta = _describe(spark, table)
    location, part_cols = meta["location"], meta.get("partition_columns", [])
    # versions live under the root the table was created at (CTAS), never
    # nested inside each other
    parent, name = location.rsplit("/", 1)
    root = parent if _VERSION_DIR.fullmatch(name) else location
    new = f"{root}/_v{uuid.uuid4().hex}"
    schema = spark.table(table).schema
    if df.schema != schema:
        df = df.select(*[F.col(f.name).cast(f.dataType) for f in schema])
    w = df.write.format(meta["provider"]).mode("errorifexists")
    if part_cols:
        w = w.partitionBy(*part_cols)
    fs, new_path = _fs_path(spark, new)
    try:
        w.save(new)
        _point_table_at(spark, table, new, part_cols)
    except Exception:
        if _describe(spark, table)["location"] != location:
            _point_table_at(spark, table, location, part_cols)
        fs.delete(new_path, True)
        raise
    for st in fs.listStatus(new_path.getParent()):
        if st.getPath().getName() != new_path.getName():
            fs.delete(st.getPath(), True)


def _describe(spark: SparkSession, table: str) -> dict:
    """The catalog's metadata for ``table``: ``location``, ``provider``,
    ``partition_columns`` (absent when unpartitioned), ``columns``, …"""
    return json.loads(spark.sql(f"DESCRIBE TABLE EXTENDED {table} AS JSON").first()[0])


def _point_table_at(
    spark: SparkSession, table: str, location: str, part_cols: list[str]
) -> None:
    """Repoint ``table`` at ``location`` and make its catalog partitions
    exactly the partition directories found there."""
    spark.sql(f"ALTER TABLE {table} SET LOCATION '{_sql_str(location)}'")
    if not part_cols:
        return
    # SYNC PARTITIONS adds the new version's partitions and moves the
    # existing ones to it, but keeps a partition whose old directory still
    # exists even when the new version has none: drop those explicitly.
    spark.sql(f"MSCK REPAIR TABLE {table} SYNC PARTITIONS")
    fs, pattern = _fs_path(spark, location + "/*" * len(part_cols))
    live = {
        "/".join(str(st.getPath()).split("/")[-len(part_cols):])
        for st in (fs.globStatus(pattern) or [])
        if st.isDirectory()
    }
    for r in spark.sql(f"SHOW PARTITIONS {table}").collect():
        if r[0] not in live:
            spec = ", ".join(
                f"{k} = '{_sql_str(unquote(v))}'"
                for k, v in (kv.split("=", 1) for kv in r[0].split("/"))
            )
            spark.sql(f"ALTER TABLE {table} DROP IF EXISTS PARTITION ({spec})")


def _sql_str(v: str) -> str:
    return v.replace("\\", "\\\\").replace("'", "\\'")


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — scheme-agnostic, like
    ``_total_file_bytes``."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def delete_where(spark: SparkSession, table: str, predicate: str) -> None:
    """DELETE FROM table WHERE predicate, as a rewrite minus the matches.

    Parquet has no row-level delete, so the retained rows become the
    table's next snapshot (the reference's whole-table path). The rewrite is
    one distributed write, never ``.collect()``: at 100 TB that is a
    guaranteed driver OOM, and the Python round-trip perturbs
    timestamp/decimal types. Reading the old snapshot while writing the new
    one is safe because the two live in different directories.
    """
    # SQL DELETE keeps a row whose predicate is NULL; NOT(NULL) would drop it
    kept = spark.table(table).filter(f"NOT coalesce(({predicate}), false)")
    _rewrite(spark, table, kept)


def optimize_table(
    spark: SparkSession, table: str, target_file_mb: int = 128
) -> dict[str, int]:
    """Small-file compaction — the lakehouse OPTIMIZE verb (Hive
    ``CONCATENATE`` / Iceberg ``rewrite_data_files`` analog; an extension
    beyond the reference, which delegates compaction to Hive itself). A
    100 TB ingest pipeline accretes small files from micro-batch appends;
    scans then pay per-file open/footer costs and lose row-group locality.
    This rewrites the table into ~``target_file_mb`` files as one new
    snapshot, like ``delete_where``: file sizing is metadata-only
    (``inputFiles`` + Hadoop FileSystem status — scheme-agnostic, so
    HDFS/S3 paths size correctly, ADVICE r9), and the rewrite is ONE
    distributed ``repartition(n)`` write (round-robin, so output files are
    uniformly sized). Returns before/after file counts."""
    df = spark.table(table)
    files = df.inputFiles()
    before = len(files)
    total_bytes = _total_file_bytes(spark, files)
    if before > 0 and total_bytes == 0:
        # every size probe failed (e.g. a blanket transient FS outage):
        # compacting on a guessed size of 0 would repartition(1) — a
        # single-task full-table rewrite at scale. Abort instead; the
        # caller retries when the filesystem answers again (ADVICE r10).
        return {"files_before": before, "files_after": before, "skipped": 1}
    n_target = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    # a partitioned table must repartition BY its partition columns:
    # round-robin would send every output task into every partition
    # directory, multiplying files instead of compacting them
    part_cols = _describe(spark, table).get("partition_columns", [])
    if part_cols:
        compacted = df.repartition(n_target, *[F.col(c) for c in part_cols])
    else:
        compacted = df.repartition(n_target)
    _rewrite(spark, table, compacted)
    return {"files_before": before, "files_after": len(spark.table(table).inputFiles())}


def _total_file_bytes(spark: SparkSession, files: list[str]) -> int:
    """Sum file sizes through the Hadoop FileSystem API — scheme-agnostic
    (file://, hdfs://, s3a://), one listStatus RPC per parent directory
    rather than one per file. A file whose status cannot be read counts as
    SMALL (0 bytes): the failure mode is then "compacts a bit too hard",
    never the ADVICE-r9 inversion where unknown files are assumed
    target-sized and compaction silently becomes an expensive no-op."""
    from collections import defaultdict

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    by_parent: dict[str, set[str]] = defaultdict(set)
    for f in files:
        jpath = jvm.org.apache.hadoop.fs.Path(f)
        by_parent[str(jpath.getParent())].add(jpath.getName())
    total = 0
    for parent, names in by_parent.items():
        try:
            ppath = jvm.org.apache.hadoop.fs.Path(parent)
            fs = ppath.getFileSystem(hconf)
            for st in fs.listStatus(ppath):
                if st.getPath().getName() in names:
                    total += int(st.getLen())
        except Exception:
            continue  # unknown files count as small — compaction still runs
    return total


def merge_into(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    on: tuple[str, ...],
    when_matched: str = "update",
) -> dict[str, int]:
    """MERGE INTO — the lakehouse upsert verb (ANSI MERGE / Delta-Iceberg
    ``MERGE INTO`` analog; an extension beyond the reference, whose Hive
    connector has no row-level upsert). Semantics: WHEN MATCHED THEN
    UPDATE SET * (or DELETE), WHEN NOT MATCHED THEN INSERT * — the two
    clauses every CDC/ingest pipeline needs.

    Scale shape: ONE equi-join on the merge keys decides matched rows
    (broadcast when the source is small, shuffle-equi at 100 TB — never
    a cartesian), the merged rows are written once as the table's next
    snapshot (never ``collect()``), and the ANSI cardinality rule is enforced:
    a source with duplicate merge keys raises (a matched target row
    must match at most one source row) — the same error MERGE throws in
    ANSI engines, checked with one distributed aggregation. The TARGET
    may hold duplicate merge keys (ANSI allows it): update mode rewrites
    EACH matched target row to the source version — the inner join below
    produces exactly one output row per matched target row, so a
    twice-duplicated target key yields two (identical-valued) updated
    rows, exactly what ANSI MERGE specifies.

    Returns {"matched": n, "inserted": n} — matched counts TARGET rows
    that matched a source key; inserted counts source rows whose key
    matched no target row (so matched + inserted can exceed
    ``source.count()`` when target keys repeat, and never goes negative)."""
    if when_matched not in ("update", "delete"):
        raise ValueError(f"merge_into: unknown when_matched {when_matched!r}")
    keys = list(on)
    target = spark.table(table)
    # ANSI cardinality check: each key at most once in the source
    dup = source.groupBy(*keys).count().filter("count > 1").limit(1).count()
    if dup:
        raise ValueError(
            "merge_into: source has duplicate merge keys — a matched target "
            "row must match at most one source row (ANSI MERGE cardinality)"
        )
    src = source.select(*target.columns)  # align column order to the target
    matched = target.join(src.select(*keys), keys, "left_semi").count()
    unmatched_target = target.join(src.select(*keys), keys, "left_anti")
    # source rows whose key exists nowhere in the target → INSERT clause
    new_rows = src.join(target.select(*keys).distinct(), keys, "left_anti")
    inserted = new_rows.count()
    if when_matched == "update":
        # each matched TARGET row takes the source version: inner join on
        # the (source-unique) key emits one updated row per matched target
        # row, preserving target-side duplicate-key multiplicity
        updated = (
            target.select(*keys)
            .join(src, keys, "inner")
            .select(*target.columns)
        )
        merged = unmatched_target.unionByName(updated).unionByName(new_rows)
    else:  # delete: matched target rows go away; unmatched source rows insert
        merged = unmatched_target.unionByName(new_rows)
    # the using-joins put the keys first; _rewrite writes by name
    _rewrite(spark, table, merged)
    return {"matched": matched, "inserted": inserted}


def analyze(spark: SparkSession, table: str, columns: tuple[str, ...] = ()) -> None:
    """ANALYZE TABLE — table and optional column stats for the CBO."""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        spark.sql(
            f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {', '.join(columns)}"
        )


def table_stats(spark: SparkSession, table: str) -> dict[str, str]:
    """Parsed DESCRIBE EXTENDED statistics line (rowCount/sizeInBytes)."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    out = {}
    for r in rows:
        if r["col_name"] == "Statistics":
            out["statistics"] = r["data_type"]
    return out


def create_view(spark: SparkSession, name: str, select_sql: str) -> None:
    """CREATE [OR REPLACE] VIEW (logical — stored plan, no data copy).

    Reference: CreateView.java / ViewDefinition — a view is a named query
    re-expanded at analysis time; Spark temp views are the same contract
    scoped to the session (a metastore-backed deployment would use
    CREATE VIEW on a persistent catalog).
    """
    spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {select_sql}")


def drop_view(spark: SparkSession, name: str) -> None:
    """DROP VIEW (DropView.java)."""
    spark.sql(f"DROP VIEW IF EXISTS {name}")


def alter_table_add_columns(spark: SparkSession, table: str, cols: str) -> None:
    """ALTER TABLE ... ADD COLUMNS (AddColumn.java) on a catalog table.

    New columns read as NULL in existing files (parquet schema evolution) —
    the same contract the reference's Hive connector provides.
    """
    spark.sql(f"ALTER TABLE {table} ADD COLUMNS ({cols})")


def alter_table_rename(spark: SparkSession, table: str, to: str) -> None:
    """ALTER TABLE ... RENAME TO (RenameTable.java)."""
    spark.sql(f"ALTER TABLE {table} RENAME TO {to}")
