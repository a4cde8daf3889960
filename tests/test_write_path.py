"""Write path: CTAS/INSERT/DELETE/ANALYZE round-trips (SURVEY.md Phase 4)."""

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from lyft_presto_spark.session import load_table
from lyft_presto_spark.sources.write_path import (
    analyze,
    ctas,
    delete_where,
    insert_into,
    table_stats,
)


@pytest.fixture()
def nation(spark, sf_dir):
    return load_table(spark, sf_dir, "nation")


def _tables(spark) -> set[str]:
    """Catalog tables (not temp views) in the current database."""
    return {t.name for t in spark.catalog.listTables() if not t.isTemporary}


def _reads_only_command_results(df) -> bool:
    leaves = df._jdf.queryExecution().commandExecuted().collectLeaves()
    return all(leaves.apply(i).nodeName() == "CommandResult" for i in range(leaves.size()))


@contextlib.contextmanager
def _no_row_collect(verb: str):
    """Fail any driver-side collect of table rows inside the block.

    At 100 TB a collect-based rewrite is a guaranteed driver OOM, so a
    collect of table rows on a write verb's path is a scale bug, not an
    implementation detail. Spark 4's classic DataFrame defines its own
    ``collect`` (``first``/``head``/``take`` route through it), so that is
    the class patched. The verbs' metadata reads (``DESCRIBE ... AS JSON``,
    ``SHOW PARTITIONS``) collect the rows of a command that already ran, a
    plan whose every leaf is a ``CommandResult``; those stay allowed.
    """
    with pytest.MonkeyPatch.context() as mp:
        for attr in ("collect", "toLocalIterator", "toPandas"):
            real = getattr(ClassicDataFrame, attr)

            def guarded(self, *args, _real=real, _attr=attr, **kwargs):
                if not _reads_only_command_results(self):
                    raise AssertionError(f"{verb} must not {_attr}() table rows to the driver")
                return _real(self, *args, **kwargs)

            mp.setattr(ClassicDataFrame, attr, guarded)
        yield


def test_no_row_collect_guard_fires(spark, nation, tmp_path):
    """Negative control for the never-collect guard: reading table rows
    raises under it, while the metadata reads the verbs make still pass."""
    table = "t_nation_guard"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ctas(spark, nation, table, str(tmp_path / "nation_guard"), partition_by=("n_regionkey",))
    with _no_row_collect("the guarded block"):
        for read in (
            lambda: spark.table(table).collect(),
            lambda: spark.table(table).first(),
            lambda: spark.table(table).toPandas(),
            lambda: list(spark.table(table).toLocalIterator()),
        ):
            with pytest.raises(AssertionError, match="table rows"):
                read()
        assert spark.sql(f"DESCRIBE TABLE EXTENDED {table} AS JSON").first()[0]
        assert len(spark.sql(f"SHOW PARTITIONS {table}").collect()) == 5
        assert spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    spark.sql(f"DROP TABLE {table}")


def test_ctas_insert_delete_analyze(spark, nation, tmp_path):
    table = "t_nation_wp"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ctas(spark, nation, table, str(tmp_path / "nation_ctas"))
    n0 = spark.table(table).count()
    assert n0 == nation.count()

    insert_into(spark, nation.limit(5), table)
    assert spark.table(table).count() == n0 + 5

    delete_where(spark, table, "n_regionkey = 0")
    after = spark.table(table)
    assert after.filter("n_regionkey = 0").count() == 0
    assert after.count() < n0 + 5

    analyze(spark, table, columns=("n_nationkey",))
    stats = table_stats(spark, table)
    assert "statistics" in stats and "bytes" in stats["statistics"]
    spark.sql(f"DROP TABLE {table}")


def test_delete_where_stays_distributed(spark, sf_dir, tmp_path):
    """DELETE must never materialize the table on the driver (VERDICT r1 #2)."""
    orders = load_table(spark, sf_dir, "orders")
    table = "t_orders_del"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ctas(spark, orders, table, str(tmp_path / "orders_del"))
    tables = _tables(spark)
    expected = orders.filter("NOT (o_orderpriority = '1-URGENT')")
    exp_n = expected.count()
    exp_sum = expected.selectExpr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) s").first()["s"]

    with _no_row_collect("delete_where"):
        delete_where(spark, table, "o_orderpriority = '1-URGENT'")

    after = spark.table(table)
    assert after.count() == exp_n
    assert after.filter("o_orderpriority = '1-URGENT'").count() == 0
    got_sum = after.selectExpr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) s").first()["s"]
    assert got_sum == exp_sum
    # Type fidelity: the rewrite preserves the original schema exactly.
    assert after.schema == orders.schema
    assert _tables(spark) == tables  # no side tables
    spark.sql(f"DROP TABLE {table}")


def test_partitioned_ctas_prunes(spark, nation, tmp_path):
    table = "t_nation_part"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ctas(spark, nation, table, str(tmp_path / "nation_part"), partition_by=("n_regionkey",))
    df = spark.table(table).filter("n_regionkey = 1")
    # Partition pruning: the scan's partition filters must include the key.
    from lyft_presto_spark.plans.inspect import formatted_plan

    assert "n_regionkey" in formatted_plan(df)
    assert df.count() == nation.filter("n_regionkey = 1").count()
    spark.sql(f"DROP TABLE {table}")


def test_view_ddl_roundtrip(spark, sf_dir):
    """CREATE VIEW re-expands at analysis time; DROP removes it."""
    from lyft_presto_spark.session import register_tables
    from lyft_presto_spark.sources.write_path import create_view, drop_view

    register_tables(spark, sf_dir)
    create_view(spark, "big_orders_v", "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100")
    n = spark.table("big_orders_v").count()
    direct = spark.sql("SELECT count(*) AS n FROM orders WHERE o_totalprice > 100").collect()[0].n
    assert n == direct > 0
    # view tracks the underlying data definition, not a snapshot
    create_view(spark, "big_orders_v", "SELECT o_orderkey FROM orders WHERE o_totalprice > 200")
    assert spark.table("big_orders_v").columns == ["o_orderkey"]
    drop_view(spark, "big_orders_v")
    assert "big_orders_v" not in [t.name for t in spark.catalog.listTables()]


def test_alter_table_add_columns_and_rename(spark, sf_dir, tmp_path_factory):
    """Schema evolution: added columns read NULL from pre-existing files."""
    from lyft_presto_spark.session import load_table
    from lyft_presto_spark.sources.write_path import (
        alter_table_add_columns,
        alter_table_rename,
        ctas,
    )

    loc = str(tmp_path_factory.mktemp("alter_tbl")) + "/t"
    spark.sql("DROP TABLE IF EXISTS alter_src")
    spark.sql("DROP TABLE IF EXISTS alter_dst")
    ctas(spark, load_table(spark, sf_dir, "region"), "alter_src", loc)
    alter_table_add_columns(spark, "alter_src", "r_comment STRING, r_score DOUBLE")
    df = spark.table("alter_src")
    assert {"r_comment", "r_score"} <= set(df.columns)
    row = df.limit(1).collect()[0]
    assert row.r_comment is None and row.r_score is None
    alter_table_rename(spark, "alter_src", "alter_dst")
    tables = [t.name for t in spark.catalog.listTables()]
    assert "alter_dst" in tables and "alter_src" not in tables
    spark.sql("DROP TABLE IF EXISTS alter_dst")


def test_optimize_table_compacts_small_files(spark, sf_dir, tmp_path):
    """OPTIMIZE (small-file compaction): many tiny appended files rewrite
    into ~target-size files with byte-identical content, through the same
    never-collect() snapshot rewrite as DELETE."""
    from lyft_presto_spark.sources.write_path import optimize_table

    nation = load_table(spark, sf_dir, "nation")
    table = "t_nation_opt"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ctas(spark, nation.limit(0), table, str(tmp_path / "nation_opt"))
    # micro-batch ingest shape: 8 tiny appends -> >= 8 small files
    for i in range(8):
        insert_into(spark, nation.filter(f"n_nationkey % 8 = {i}"), table)
    before_rows = sorted(map(tuple, spark.table(table).collect()))
    assert len(spark.table(table).inputFiles()) >= 8
    tables = _tables(spark)

    with _no_row_collect("optimize_table"):
        stats = optimize_table(spark, table, target_file_mb=128)

    assert stats["files_before"] >= 8
    assert stats["files_after"] == 1  # tiny table -> one target-size file
    after_rows = sorted(map(tuple, spark.table(table).collect()))
    assert after_rows == before_rows  # content byte-identical
    assert spark.table(table).schema == nation.schema
    assert _tables(spark) == tables  # no side tables
    spark.sql(f"DROP TABLE {table}")


def test_optimize_table_respects_partitions(spark, sf_dir, tmp_path):
    """Partitioned tables compact per partition directory: repartition BY
    the partition columns, never round-robin across them."""
    from lyft_presto_spark.sources.write_path import optimize_table

    nation = load_table(spark, sf_dir, "nation")
    table = "t_nation_opt_part"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ctas(
        spark, nation.limit(0), table, str(tmp_path / "nation_opt_part"),
        partition_by=("n_regionkey",),
    )
    for i in range(4):
        insert_into(spark, nation.filter(f"n_nationkey % 4 = {i}"), table)
    before_rows = sorted(map(tuple, spark.table(table).collect()))
    n_parts = spark.table(table).select("n_regionkey").distinct().count()
    assert len(spark.table(table).inputFiles()) > n_parts

    stats = optimize_table(spark, table, target_file_mb=128)
    # one file per partition directory is the compacted floor
    assert stats["files_after"] == n_parts
    assert sorted(map(tuple, spark.table(table).collect())) == before_rows
    spark.sql(f"DROP TABLE {table}")


def test_total_file_bytes_via_hadoop_fs(spark, sf_dir, tmp_path):
    """File sizing goes through the Hadoop FileSystem API (scheme-agnostic,
    ADVICE r9) and matches the local on-disk truth for file:// paths;
    unreadable files count as SMALL so compaction never degrades to an
    expensive same-file-count rewrite."""
    import os
    from urllib.parse import urlparse

    from lyft_presto_spark.sources.write_path import _total_file_bytes

    nation = load_table(spark, sf_dir, "nation")
    table = "t_sizing"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ctas(spark, nation, table, str(tmp_path / "sizing"))
    files = spark.table(table).inputFiles()
    want = sum(os.path.getsize(urlparse(f).path) for f in files)
    assert _total_file_bytes(spark, files) == want > 0
    # unknown/unreadable paths: counted as 0 (assume-small), never as full
    ghost = [str(tmp_path / "nope" / "missing.parquet")]
    assert _total_file_bytes(spark, ghost) == 0
    spark.sql(f"DROP TABLE {table}")


def test_merge_into_upsert_updates_and_inserts(spark, sf_dir, tmp_path):
    """MERGE INTO (NEW r10): WHEN MATCHED UPDATE SET * + WHEN NOT MATCHED
    INSERT * — matched rows take the source version, new keys append,
    untouched rows survive byte-identical; distributed throughout."""
    from pyspark.sql import functions as F

    from lyft_presto_spark.sources.write_path import merge_into

    nation = load_table(spark, sf_dir, "nation")
    table = "t_merge"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ctas(spark, nation, table, str(tmp_path / "merge"))
    tables = _tables(spark)
    n = nation.count()
    # source: update keys 0..4 (marked names), insert keys 1000..1002
    updates = nation.filter("n_nationkey < 5").withColumn(
        "n_name", F.concat(F.lit("UPDATED_"), F.col("n_name"))
    )
    inserts = nation.filter("n_nationkey < 3").select(
        (F.col("n_nationkey") + 1000).alias("n_nationkey"),
        F.col("n_name"),
        *[F.col(c) for c in nation.columns if c not in ("n_nationkey", "n_name")],
    )
    with _no_row_collect("merge_into"):
        stats = merge_into(
            spark, table, updates.unionByName(inserts), on=("n_nationkey",)
        )
    assert stats == {"matched": 5, "inserted": 3}
    got = spark.table(table)
    assert got.count() == n + 3
    assert got.filter("n_name LIKE 'UPDATED_%'").count() == 5
    assert got.filter("n_nationkey >= 1000").count() == 3
    # untouched rows identical
    untouched = got.filter("n_nationkey >= 5 AND n_nationkey < 1000")
    want = nation.filter("n_nationkey >= 5")
    assert sorted(map(tuple, untouched.collect())) == sorted(map(tuple, want.collect()))
    assert _tables(spark) == tables  # no side tables
    spark.sql(f"DROP TABLE {table}")


def test_merge_into_delete_mode_and_cardinality_guard(spark, sf_dir, tmp_path):
    """WHEN MATCHED DELETE removes matched target rows and still inserts
    unmatched source rows; a source with duplicate merge keys raises the
    ANSI MERGE cardinality violation."""
    import pytest
    from pyspark.sql import functions as F

    from lyft_presto_spark.sources.write_path import merge_into

    nation = load_table(spark, sf_dir, "nation")
    table = "t_merge_del"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ctas(spark, nation, table, str(tmp_path / "merge_del"))
    n = nation.count()
    src = nation.filter("n_nationkey < 4").unionByName(
        nation.filter("n_nationkey = 0").select(
            (F.col("n_nationkey") + 2000).alias("n_nationkey"),
            *[F.col(c) for c in nation.columns if c != "n_nationkey"],
        )
    )
    stats = merge_into(spark, table, src, on=("n_nationkey",), when_matched="delete")
    assert stats == {"matched": 4, "inserted": 1}
    got = spark.table(table)
    assert got.count() == n - 4 + 1
    assert got.filter("n_nationkey < 4").count() == 0
    assert got.filter("n_nationkey = 2000").count() == 1
    # duplicate-key source: ANSI cardinality violation, loud
    dup_src = nation.filter("n_nationkey = 5").unionByName(
        nation.filter("n_nationkey = 5")
    )
    with pytest.raises(ValueError, match="cardinality"):
        merge_into(spark, table, dup_src, on=("n_nationkey",))
    spark.sql(f"DROP TABLE {table}")


def test_merge_into_duplicate_target_keys_update_each_row(spark, sf_dir, tmp_path):
    """ANSI MERGE with duplicate TARGET keys (ADVICE r10): update mode must
    rewrite EACH matched target row to the source version — a key present
    twice in the target yields two updated rows — and the matched/inserted
    counts stay non-negative and key-accurate."""
    from pyspark.sql import functions as F

    from lyft_presto_spark.sources.write_path import merge_into

    nation = load_table(spark, sf_dir, "nation")
    table = "t_merge_dupt"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # target: nation with key 3 duplicated (two copies)
    dup_target = nation.unionByName(nation.filter("n_nationkey = 3"))
    ctas(spark, dup_target, table, str(tmp_path / "merge_dupt"))
    n = dup_target.count()
    # source: update key 3 (matches TWO target rows), insert key 3000
    src = nation.filter("n_nationkey = 3").withColumn(
        "n_name", F.lit("UPDATED")
    ).unionByName(
        nation.filter("n_nationkey = 0").select(
            (F.col("n_nationkey") + 3000).alias("n_nationkey"),
            *[F.col(c) for c in nation.columns if c != "n_nationkey"],
        )
    )
    stats = merge_into(spark, table, src, on=("n_nationkey",))
    # matched counts TARGET rows (2 copies of key 3); inserted the 1 new key
    assert stats == {"matched": 2, "inserted": 1}
    got = spark.table(table)
    assert got.count() == n + 1  # both copies kept (updated), one insert
    updated = got.filter("n_nationkey = 3")
    assert updated.count() == 2  # ANSI: each matched row updated
    assert updated.filter("n_name = 'UPDATED'").count() == 2
    assert got.filter("n_nationkey = 3000").count() == 1
    spark.sql(f"DROP TABLE {table}")


def test_optimize_table_aborts_when_size_probe_fails(spark, nation, tmp_path, monkeypatch):
    """A blanket size-probe failure (every file reads as 0 bytes) must abort
    compaction rather than repartition(1) the whole table (ADVICE r10)."""
    from lyft_presto_spark.sources import write_path

    table = "t_opt_zero"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ctas(spark, nation.repartition(4), table, str(tmp_path / "opt_zero"))
    before = len(spark.table(table).inputFiles())
    assert before > 1
    monkeypatch.setattr(write_path, "_total_file_bytes", lambda *_: 0)
    stats = write_path.optimize_table(spark, table)
    assert stats == {"files_before": before, "files_after": before, "skipped": 1}
    assert len(spark.table(table).inputFiles()) == before  # no rewrite ran
    spark.sql(f"DROP TABLE {table}")


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _location(spark, table) -> str:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return next(r.data_type for r in rows if r.col_name == "Location")


def _versions(root) -> list[str]:
    return [e for e in os.listdir(root) if e.startswith("_v")]


def test_merge_into_non_leading_keys(spark, nation, tmp_path):
    """The merge keys need not be the table's leading columns: the merged
    rows are written by name, so no column shifts or fails to cast."""
    from pyspark.sql import functions as F

    from lyft_presto_spark.sources.write_path import merge_into

    table = "t_merge_nonlead"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ctas(spark, nation, table, str(tmp_path / "merge_nonlead"))
    src = nation.filter("n_nationkey < 3").withColumn(
        "n_name", F.concat(F.lit("M_"), F.col("n_name"))
    )
    stats = merge_into(spark, table, src, on=("n_regionkey", "n_nationkey"))
    assert stats == {"matched": 3, "inserted": 0}
    want = nation.filter("n_nationkey >= 3").unionByName(src)
    assert spark.table(table).columns == nation.columns
    assert _rows(spark.table(table)) == _rows(want)
    spark.sql(f"DROP TABLE {table}")


def test_rewrite_write_failure_leaves_table_untouched(spark, nation, tmp_path):
    """A rewrite whose write fails leaves the old snapshot in place and no
    half-written version directory behind."""
    root = tmp_path / "wfail"
    table = "t_wfail"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ctas(spark, nation, table, str(root))
    before = _rows(spark.table(table))
    with pytest.raises(Exception, match="rewrite fails"):
        delete_where(
            spark, table, "assert_true(n_nationkey < 0, 'rewrite fails') IS NOT NULL"
        )
    assert _rows(spark.table(table)) == before
    assert _versions(root) == []
    spark.sql(f"DROP TABLE {table}")


@pytest.mark.parametrize(
    "partition_by, fail_on",
    [((), "SET LOCATION"), (("n_regionkey",), "MSCK REPAIR")],
    ids=["alter_fails", "partition_sync_fails"],
)
def test_rewrite_repoint_failure_leaves_table_untouched(
    spark, nation, tmp_path, monkeypatch, partition_by, fail_on
):
    """A failure between the write and the commit (the ALTER itself, or the
    partition sync after it) leaves the table on its old snapshot, with its
    old partitions, and removes the new version directory."""
    from lyft_presto_spark.sources.write_path import optimize_table

    root = tmp_path / "rfail"
    table = "t_rfail"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ctas(spark, nation, table, str(root), partition_by=partition_by)
    insert_into(spark, nation.filter("n_nationkey < 3"), table)
    before = _rows(spark.table(table))
    parts = _rows(spark.sql(f"SHOW PARTITIONS {table}")) if partition_by else []
    location = _location(spark, table)
    real_sql = spark.sql
    failed = []

    def flaky_sql(query, *args, **kwargs):
        if fail_on in query and not failed:
            failed.append(query)
            raise RuntimeError("injected repoint failure")
        return real_sql(query, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", flaky_sql)
    with pytest.raises(RuntimeError, match="injected repoint failure"):
        optimize_table(spark, table)
    monkeypatch.undo()
    assert failed
    assert _location(spark, table) == location
    assert _rows(spark.table(table)) == before
    if partition_by:
        assert _rows(spark.sql(f"SHOW PARTITIONS {table}")) == parts
    assert _versions(root) == []
    spark.sql(f"DROP TABLE {table}")


def test_rewrites_keep_only_the_current_version(spark, nation, tmp_path):
    """Every rewrite commits a new version under the table root and deletes
    the rest: after several rewrites the root holds exactly one version and
    no catalog table besides the target was created."""
    from pyspark.sql import functions as F

    from lyft_presto_spark.sources.write_path import merge_into, optimize_table

    root = tmp_path / "retain"
    table = "t_retain"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ctas(spark, nation, table, str(root))
    tables = _tables(spark)
    optimize_table(spark, table)
    insert_into(spark, nation.filter("n_nationkey < 5"), table)
    delete_where(spark, table, "n_nationkey = 1")
    merge_into(
        spark, table,
        nation.filter("n_nationkey = 2").withColumn("n_name", F.lit("MERGED")),
        on=("n_nationkey",),
    )
    optimize_table(spark, table)
    entries = os.listdir(root)
    assert len(entries) == 1 and _versions(root) == entries
    assert _tables(spark) == tables
    want = (
        nation.unionByName(nation.filter("n_nationkey < 5"))
        .filter("n_nationkey <> 1")
        .withColumn(
            "n_name",
            F.when(F.col("n_nationkey") == 2, F.lit("MERGED")).otherwise(F.col("n_name")),
        )
    )
    assert _rows(spark.table(table)) == _rows(want)
    spark.sql(f"DROP TABLE {table}")


def test_delete_where_drops_emptied_partition(spark, nation, tmp_path):
    """A delete that empties a whole partition removes it from the catalog
    and from the rows read, although the old partition directory is still
    on disk when the table is repointed."""
    table = "t_del_part"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ctas(spark, nation, table, str(tmp_path / "del_part"), partition_by=("n_regionkey",))
    delete_where(spark, table, "n_regionkey = 0")
    parts = {r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect()}
    assert parts == {f"n_regionkey={k}" for k in range(1, 5)}
    assert _rows(spark.table(table)) == _rows(nation.filter("n_regionkey <> 0"))
    spark.sql(f"DROP TABLE {table}")


def test_delete_where_keeps_rows_whose_predicate_is_null(spark, nation, tmp_path):
    """SQL DELETE removes only rows where the predicate is TRUE: a row on
    which it evaluates to NULL stays."""
    table = "t_del_null"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    with_nulls = nation.selectExpr(
        "n_nationkey", "IF(n_nationkey < 3, NULL, n_name) AS n_name", "n_regionkey"
    )
    ctas(spark, with_nulls, table, str(tmp_path / "del_null"))
    delete_where(spark, table, "n_name = 'NATION_5'")
    assert _rows(spark.table(table)) == _rows(with_nulls.filter("n_nationkey <> 5"))
    spark.sql(f"DROP TABLE {table}")
