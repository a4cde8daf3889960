"""Helpers over Spark's physical plan text (``explain formatted``)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The full formatted physical plan (what ``df.explain('formatted')`` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "simple"
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (each is a full-data network hop).

    The scale budget for an operator is expressed in shuffles: e.g. a grouped
    aggregation should cost exactly one, a broadcast join zero on the big side.

    Spark 4.1's ``formatted`` output lists the operator tree ("Exchange (13)")
    separately from each node's detail block, whose Arguments line carries the
    partitioning — so count detail blocks, falling back to the older inline
    spelling for robustness. BroadcastExchange is deliberately NOT counted:
    replicating a small side is the cheap alternative to a shuffle.
    """
    plan = formatted_plan(df)
    n = len(
        re.findall(
            r"\(\d+\) Exchange\b[^(]*?\n\s*Input.*?\n\s*Arguments: (?:hashpartitioning|rangepartitioning)",
            plan,
        )
    )
    if n == 0:  # pre-4.x inline format
        n = len(re.findall(r"\bExchange (?:hashpartitioning|rangepartitioning)", plan))
    return n


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Assert the parquet scan carries PushedFilters containing each fragment.

    A filter that is NOT pushed means the scan reads every row-group at
    100 TB; this is the Spark analog of the reference pushing TupleDomains
    into connectors (PushPredicateIntoTableScan.java:70).
    """
    plan = formatted_plan(df)
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    missing = [f for f in fragments if f not in pushed]
    if missing:
        raise AssertionError(f"filters not pushed: {missing}\nPushedFilters seen: {pushed[:500]}")


def assert_read_schema_pruned(df: DataFrame, table_fragment: str, max_columns: int) -> None:
    """Assert column pruning reached the scan (ReadSchema narrow enough)."""
    plan = formatted_plan(df)
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c for c in m.group(1).split(",") if c]
        if table_fragment in plan and len(cols) <= max_columns:
            return
    schemas = re.findall(r"ReadSchema: struct<[^>]*>", plan)
    raise AssertionError(f"no scan with <= {max_columns} columns found; saw {schemas}")


def assert_no_cartesian(df: DataFrame, allow_scalar_bnlj: bool = False) -> None:
    """Assert the plan contains no cartesian/unconditioned nested-loop product.

    Candidate generation (LSH bands, blocking keys) must compile to equi-joins;
    a product here means the operator degraded to all-pairs O(n^2). Spark
    spells that CartesianProduct when both sides shuffle and
    BroadcastNestedLoopJoin when one side broadcasts — both are fatal at
    scale, so both raise. ``allow_scalar_bnlj=True`` is the explicit opt-out
    for plans that intentionally replicate a genuinely scalar side (a 1-row
    aggregate, a parameter vector) — the caller is asserting that side is
    O(1), which the plan text alone cannot prove.
    """
    plan = formatted_plan(df)
    if "CartesianProduct" in plan:
        raise AssertionError("plan contains CartesianProduct")
    if not allow_scalar_bnlj and "BroadcastNestedLoopJoin" in plan:
        raise AssertionError(
            "plan contains BroadcastNestedLoopJoin (unconditioned product); "
            "pass allow_scalar_bnlj=True only if the broadcast side is provably O(1) rows"
        )


def assert_broadcast_join(df: DataFrame, expect: bool = True) -> None:
    plan = formatted_plan(df)
    has = "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    if has != expect:
        raise AssertionError(f"broadcast join expected={expect}, plan has={has}")


def construction_round_trips(build, attempts: int = 2) -> int:
    """Min Py4J round trips to CONSTRUCT (not execute) a DataFrame.

    Pins the py4j plan-construction tax (VERDICT r14 #2): every Column
    operator is a Python->JVM round trip, so a large hand-built expression
    tree costs driver seconds before a single task runs —
    fn_geo_boolean_ops spent 1.4 s/run there until r14 re-emitted the same
    algebra as selectExpr strings (~0.25 s). Counting the commands this
    thread sends to the JVM measures that tax with no clock, so CPU
    contention cannot move it. The first attempt may stage artifacts or
    fill session memos, so the MIN over attempts is the warm per-run cost.
    """
    import threading

    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    me = threading.get_ident()
    sent = 0

    def counting_send(conn, command):
        nonlocal sent
        if threading.get_ident() == me:
            sent += 1
        return send(conn, command)

    counts = []
    ClientServerConnection.send_command = counting_send
    try:
        for _ in range(max(attempts, 1)):
            before = sent
            assert build() is not None
            counts.append(sent - before)
    finally:
        ClientServerConnection.send_command = send
    return min(counts)
