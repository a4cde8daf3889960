"""Session bootstrap: host-sized defaults (cores from the CPU affinity,
driver heap from physical RAM, each overridable from the environment) and
the fixture-view mount."""

from __future__ import annotations

import os

from lyft_presto_spark import session


def test_driver_memory_is_forty_percent_of_ram_capped():
    gib_kb = 1024 * 1024
    assert session.driver_memory_for(16456384) == "6g"  # a 15.7 GiB host
    assert session.driver_memory_for(64 * gib_kb) == "24g"  # 25.6g, capped
    assert session.driver_memory_for(512 * gib_kb) == "24g"
    assert session.driver_memory_for(2 * gib_kb) == "1g"  # floor


def test_defaults_follow_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.default_cpus() == str(len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    assert session.default_driver_memory() == session.driver_memory_for(total_kb)


def test_environment_overrides_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert session.default_cpus() == "3"
    assert session.default_driver_memory() == "5g"


def test_register_tables_keeps_the_mount_memo_current(spark, sf_dir):
    # register_tables replaces the bare-named fixture views; sql_over must
    # see that and remount, not serve the other scale's rows
    from lyft_presto_spark.queries.registry import sql_over

    base = os.path.dirname(sf_dir)
    small, large = os.path.join(base, "sf0.001"), os.path.join(base, "sf0.01")

    def n_customers(d: str) -> int:
        sql = "SELECT count(*) AS n FROM customer"
        return sql_over(spark, d, sql, ("customer",)).collect()[0].n

    try:
        expected = {d: session.load_table(spark, d, "customer").count() for d in (small, large)}
        assert expected[small] != expected[large]
        assert n_customers(small) == expected[small]
        session.register_tables(spark, large)
        assert n_customers(small) == expected[small]
    finally:
        session.register_tables(spark, sf_dir)
