"""Persisted-artifact lifetime (operators/staging.py) and session-cache keying.

Round 2's inline ``persist()`` calls re-persisted per query call and never
unpersisted (VERDICT r2 "What's wrong" #3). These tests pin the fixed
contract: one cached copy per artifact per session, reclaimable on demand.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lyft_presto_spark.operators.staging import _STAGED, release_staged, staged
from lyft_presto_spark.queries import all_queries
from lyft_presto_spark.session import load_table, session_key


def test_release_staged_frees_checkpoint_blocks(spark, sf_dir):
    """ADVICE r11: Dataset.unpersist is a cache-manager no-op for a
    localCheckpoint artifact, so the old release left the blocks alive
    until ContextCleaner GC. The fixed release unpersists the underlying
    checkpointed RDD — storage must be freed IMMEDIATELY."""
    release_staged(spark)
    sc = spark.sparkContext._jsc.sc()

    def cached_ids():
        return {i.id() for i in sc.getRDDStorageInfo() if i.numCachedPartitions() > 0}

    before = cached_ids()
    df = staged(spark, sf_dir, "block_probe", lambda: spark.range(200000).toDF("v"))
    assert df.count() == 200000  # materialize the checkpoint blocks
    new_ids = cached_ids() - before
    assert new_ids, "checkpoint materialization left no cached blocks to test"
    release_staged(spark)
    assert not (cached_ids() & new_ids), "release left checkpoint blocks cached"


def test_staged_builds_once_and_releases(spark, sf_dir):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).select(F.col("id").alias("v"))

    a = staged(spark, sf_dir, "test_artifact", build)
    b = staged(spark, sf_dir, "test_artifact", build)
    assert a is b and calls["n"] == 1
    # r11: staged artifacts are localCheckpoints (LogicalRDD leaves that
    # survive CTE inlining), not persist()-cached plans — the artifact's
    # plan must be an opaque RDD scan, not the build lineage
    assert "LogicalRDD" in a._jdf.queryExecution().analyzed().toString()
    released = release_staged(spark)
    assert released >= 1
    assert not any(k[2] == "test_artifact" for k in _STAGED)


def test_repeat_query_calls_do_not_stack_persists(spark, sf_dir):
    """q11 + minhash twice each: exactly one staged artifact per name."""
    release_staged(spark)
    qs = all_queries()
    for _ in range(2):
        qs["tpch_q11"].spark(spark, sf_dir).collect()
        qs["dedup_minhash_lsh"].spark(spark, sf_dir).limit(1).collect()
    names = sorted(k[2] for k in _STAGED if k[0] == session_key(spark))
    assert names == ["minhash_sigs", "tpch_q11_supply"]
    release_staged(spark)


def test_session_key_is_stable_and_cache_key_material(spark, sf_dir):
    """Caches key on applicationId (stable per context), not id(spark).

    id() of a stopped session can be recycled by the allocator, silently
    serving stale DataFrames to a fresh session (VERDICT r2 #4). We cannot
    cheaply stop/restart the shared test session, so pin the mechanism: the
    key is the applicationId string and load_table round-trips through it.
    """
    k1 = session_key(spark)
    assert isinstance(k1, str) and k1  # e.g. "local-17234..."
    df1 = load_table(spark, sf_dir, "nation")
    df2 = load_table(spark, sf_dir, "nation")
    assert df1 is df2  # cache hit on the applicationId-keyed entry


def test_staged_concurrent_get_or_create_builds_once(spark, sf_dir):
    """A thread-pool race on the same artifact must persist exactly one copy."""
    import threading

    release_staged(spark)
    calls = {"n": 0}
    lock = threading.Lock()

    def build():
        with lock:
            calls["n"] += 1
        return spark.range(1000).select(F.col("id").alias("v"))

    results = [None] * 8

    def worker(i):
        results[i] = staged(spark, sf_dir, "race_artifact", build)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert calls["n"] == 1
    assert all(r is results[0] for r in results)  # one shared persisted DF
    release_staged(spark)


def test_staged_unrelated_builds_do_not_serialize(spark, sf_dir):
    """A slow build of one artifact must not block another key's build,
    and a build that re-enters staged() for a different artifact must not
    deadlock (ADVICE r3: build() ran under the single global lock)."""
    import threading

    release_staged(spark)
    slow_started = threading.Event()
    fast_done = threading.Event()

    def slow_build():
        slow_started.set()
        # Deadlock probe: re-enter staged() for a different key mid-build.
        staged(spark, sf_dir, "nested_artifact", lambda: spark.range(5).toDF("v"))
        # If fast_build serialized behind us this wait would time out.
        assert fast_done.wait(timeout=30), "unrelated build serialized behind slow build"
        return spark.range(10).toDF("v")

    def fast_build():
        return spark.range(10).toDF("v")

    t = threading.Thread(
        target=lambda: staged(spark, sf_dir, "slow_artifact", slow_build)
    )
    t.start()
    assert slow_started.wait(timeout=30)
    staged(spark, sf_dir, "fast_artifact", fast_build)  # must not block
    fast_done.set()
    t.join(timeout=60)
    assert not t.is_alive()
    assert release_staged(spark) >= 3


def test_staged_artifact_survives_cte_consumers(spark, sf_dir):
    """The r11 recompute fix: a staged artifact referenced inside a
    WITH-CTE body must NOT re-run its build. Spark's cache manager
    substitutes InMemoryRelations on the analyzed plan but inlines CTEs
    later, so persist()-based staging silently recomputed per consumer;
    localCheckpoint staging pins the artifact as a LogicalRDD leaf. The
    bigram LM query is the canonical victim: its posting table must
    appear in consumer plans as an RDD scan, never as a re-tokenize
    (Generate/explode) chain."""
    from lyft_presto_spark.queries import all_queries

    df = all_queries()["text_bigram_lm_score"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, "posting build re-ran inside a consumer"
    assert "Scan ExistingRDD" in plan  # the checkpointed posting leaf
    # and a synthetic CTE consumer of a fresh staged artifact: zero
    # re-execution of the build body
    from lyft_presto_spark.operators.staging import release_staged, staged

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).selectExpr("id", "id * 2 AS v")

    art = staged(spark, sf_dir, "cte_probe", build)
    art.createOrReplaceTempView("cte_probe_v")
    out = spark.sql(
        "WITH a AS (SELECT sum(v) s FROM cte_probe_v), "
        "b AS (SELECT count(*) c FROM cte_probe_v) "
        "SELECT * FROM a CROSS JOIN b"
    )
    p = out._jdf.queryExecution().executedPlan().toString()
    assert p.count("Scan ExistingRDD") == 2  # both CTE bodies read the leaf
    assert "Range" not in p  # the build plan never re-enters
    assert calls["n"] == 1
    release_staged(spark)


# ---------------------------------------------------------------------------
# Durable table-backed staging (VERDICT r11 next-round #2): SCALE.md's "the
# 100 TB deployment writes the reused intermediate as a table" now has a code
# path. SPARK_GRAFT_STAGING=table writes the artifact as parquet (unique
# stage dir + one atomic rename) and reads it back as a file-relation leaf —
# same leaf-not-lineage property as localCheckpoint, plus durability: a NEW
# session or process finds it on disk and skips the build entirely.
# ---------------------------------------------------------------------------


def test_table_staged_builds_once_leaf_and_reuses_across_sessions(
    spark, sf_dir, tmp_path, monkeypatch
):
    from lyft_presto_spark.operators.staging import staged_view

    monkeypatch.setenv("SPARK_GRAFT_STAGING", "table")
    monkeypatch.setenv("SPARK_GRAFT_STAGING_DIR", str(tmp_path))
    release_staged()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(50).selectExpr("id", "id * 3 AS v")

    a = staged(spark, sf_dir, "durable_probe", build)
    b = staged(spark, sf_dir, "durable_probe", build)
    assert a is b and calls["n"] == 1
    assert a.count() == 50
    # leaf-not-lineage: the artifact's plan is a parquet relation, never
    # the Range build lineage — it survives CTE inlining like the
    # localCheckpoint leaf does (the r11 recompute fix, durable form)
    analyzed = a._jdf.queryExecution().analyzed().toString()
    assert "Range" not in analyzed and "Relation" in analyzed
    a.createOrReplaceTempView("durable_probe_v")
    plan = (
        spark.sql(
            "WITH x AS (SELECT sum(v) s FROM durable_probe_v), "
            "y AS (SELECT count(*) c FROM durable_probe_v) "
            "SELECT * FROM x CROSS JOIN y"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Range" not in plan  # the build never re-enters via CTEs
    # "session restart": drop ALL in-memory staging state, then stage from
    # a different session object — the artifact must come back from disk
    # without the build running again
    release_staged()
    s2 = spark.newSession()
    c = staged(s2, sf_dir, "durable_probe", build)
    assert calls["n"] == 1  # read back, not rebuilt
    assert c.count() == 50
    assert sorted(r.v for r in c.collect()) == [i * 3 for i in range(50)]
    # staged_view embeds the sf_dir digest (ADVICE r11 race fix)
    view = staged_view(spark, sf_dir, "durable_probe", build)
    assert view != "durable_probe" and view.startswith("durable_probe_")
    release_staged()


def test_table_staged_survives_process_restart(spark, sf_dir, tmp_path, monkeypatch):
    """A genuinely separate process (own JVM, own SparkSession) builds the
    artifact; this session's staged() must find it on disk and never call
    its own build. This is the cross-session durability claim of
    SCALE.md's table-backed staging, proven across a real process
    boundary."""
    import os
    import subprocess
    import sys

    script = r"""
import os, sys
from pyspark.sql import SparkSession
sys.path.insert(0, os.environ["REPO"])
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
from lyft_presto_spark.operators.staging import staged
df = staged(spark, os.environ["SFD"], "xproc_probe",
            lambda: spark.range(20).selectExpr("id", "id * 7 AS v"))
assert df.count() == 20
spark.stop()
"""
    env = dict(
        os.environ,
        SPARK_GRAFT_STAGING="table",
        SPARK_GRAFT_STAGING_DIR=str(tmp_path),
        REPO=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        SFD=sf_dir,
    )
    subprocess.run([sys.executable, "-c", script], env=env, check=True, timeout=300)
    # Now read it from THIS process's session: build must never run.
    import pytest

    monkeypatch.setenv("SPARK_GRAFT_STAGING", "table")
    monkeypatch.setenv("SPARK_GRAFT_STAGING_DIR", str(tmp_path))
    release_staged()
    try:
        def build():
            pytest.fail("build ran despite an on-disk durable artifact")

        df = staged(spark, sf_dir, "xproc_probe", build)
        assert sorted(r.v for r in df.collect()) == [i * 7 for i in range(20)]
    finally:
        release_staged()


def test_table_staged_misses_on_changed_input_or_build_version(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12 (medium): table artifacts were keyed only by (sf_dir path,
    name) and persisted across processes with no invalidation — regenerated
    source data or changed build SQL silently served the stale parquet. The
    artifact path now folds in a content fingerprint of the scale dir's data
    files plus the caller's build-version token: either change must MISS and
    rebuild."""
    import os
    import time

    monkeypatch.setenv("SPARK_GRAFT_STAGING", "table")
    monkeypatch.setenv("SPARK_GRAFT_STAGING_DIR", str(tmp_path / "staging"))
    # a private, mutable "scale dir" so we can regenerate its data
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    (data_dir / "t.parquet").write_bytes(b"v1-bytes")
    release_staged()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).selectExpr("id", f"{calls['n']} AS gen")

    sd = str(data_dir)
    a = staged(spark, sd, "fp_probe", build)
    assert calls["n"] == 1 and a.agg(F.max("gen")).first()[0] == 1
    release_staged()  # drop in-memory handles; disk artifact remains
    staged(spark, sd, "fp_probe", build)
    assert calls["n"] == 1  # unchanged input: served from disk, no rebuild
    # regenerate the input (different size => different fingerprint even on
    # coarse-mtime filesystems)
    time.sleep(0.01)
    (data_dir / "t.parquet").write_bytes(b"v2-bytes-longer")
    release_staged()
    b = staged(spark, sd, "fp_probe", build)
    assert calls["n"] == 2, "regenerated input served a stale table artifact"
    assert b.agg(F.max("gen")).first()[0] == 2
    # changed build logic, same input: the version token must miss
    release_staged()
    c = staged(spark, sd, "fp_probe", build, version="2")
    assert calls["n"] == 3, "changed build version served the old artifact"
    assert c.agg(F.max("gen")).first()[0] == 3
    # and the old version is still addressable (distinct artifact paths)
    release_staged()
    d = staged(spark, sd, "fp_probe", build)
    assert calls["n"] == 3 and d.agg(F.max("gen")).first()[0] == 2
    release_staged()
    # artifact layout: <root>/<dirdigest>-<fingerprint>/<name>@v<version>
    roots = sorted(p.name for p in (tmp_path / "staging").iterdir())
    assert len(roots) == 2  # two fingerprints (v1 input, v2 input)
    assert all("-" in r for r in roots)


def test_staged_key_includes_mode_so_a_switch_restages(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r12 (low): the _STAGED cache ignored the staging mode, so
    flipping SPARK_GRAFT_STAGING mid-session kept serving artifacts staged
    under the other mechanism. The resolved mode is now key material: a
    switch re-stages under the new mechanism."""
    monkeypatch.setenv("SPARK_GRAFT_STAGING_DIR", str(tmp_path))
    release_staged(spark)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(25).selectExpr("id AS v")

    monkeypatch.setenv("SPARK_GRAFT_STAGING", "local")
    a = staged(spark, sf_dir, "mode_probe", build)
    assert calls["n"] == 1
    assert "LogicalRDD" in a._jdf.queryExecution().analyzed().toString()
    monkeypatch.setenv("SPARK_GRAFT_STAGING", "table")
    b = staged(spark, sf_dir, "mode_probe", build)
    assert calls["n"] == 2, "mode switch served the other mode's artifact"
    analyzed = b._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in analyzed and "Relation" in analyzed
    # and switching back hits the still-cached local entry (no third build)
    monkeypatch.setenv("SPARK_GRAFT_STAGING", "local")
    c = staged(spark, sf_dir, "mode_probe", build)
    assert calls["n"] == 2 and c is a
    release_staged()


def test_table_staged_consumers_stay_oracle_green(spark, sf_dir, tmp_path, monkeypatch):
    """The staged consumers must produce identical (oracle-green) results
    under the durable table mode — staging mechanism is a pure execution
    detail, invisible to query semantics."""
    from lyft_presto_spark.testing import compare_with_oracle

    monkeypatch.setenv("SPARK_GRAFT_STAGING", "table")
    monkeypatch.setenv("SPARK_GRAFT_STAGING_DIR", str(tmp_path))
    release_staged()
    qs = all_queries()
    try:
        # the heaviest staged chains: scalar-subquery reuse (q11/q15),
        # the bigram postings, the 6-stage PQ+IVF index (ivfpq), and a
        # generator-catalog join web (parquet round-trips the synthesized
        # timestamps/doubles)
        for name in (
            "tpch_q11", "tpch_q15", "text_bigram_lm_score",
            "sim_ivfpq_search", "connector_tpchgen_q9",
        ):
            q = qs[name]
            compare_with_oracle(q.spark(spark, sf_dir), q.oracle, sf_dir, name=name)
    finally:
        release_staged()


def test_publish_once_leaves_no_stage_after_failure_or_lost_race(spark, tmp_path):
    """A write whose Spark job fails leaves its stage directory behind
    (Spark creates it before the job runs): publish_once must remove it and
    re-raise. The loser of a publish race drops its stage and keeps the
    winner's rows."""
    import os

    import pytest

    from lyft_presto_spark.operators.staging import publish_once

    final = str(tmp_path / "artifact")

    def failing(stage):
        spark.range(10).selectExpr("assert_true(id < 5)").write.parquet(stage)

    with pytest.raises(Exception, match="id < 5"):
        publish_once(final, failing)
    assert os.listdir(tmp_path) == []

    def losing(stage):  # another publisher wins while this one writes
        assert publish_once(final, lambda s: spark.range(2).write.parquet(s)) is True
        spark.range(5).write.parquet(stage)

    assert publish_once(final, losing) is False
    assert publish_once(final, failing) is False  # published: write never runs
    assert os.listdir(tmp_path) == ["artifact"]
    assert spark.read.parquet(final).count() == 2
