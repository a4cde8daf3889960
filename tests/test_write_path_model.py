"""Model-based test of the write verbs: random sequences of insert_into,
delete_where, optimize_table and merge_into (any merge-key subset and
order, both WHEN MATCHED modes) on a catalog table built from ``nation``,
with the table's contents compared against a DuckDB mirror after every
step. Runs on an unpartitioned and a partitioned table; bounded so it fits
the Tier-1 suite."""

from __future__ import annotations

import itertools

import duckdb
import pytest
from hypothesis import settings
from hypothesis import strategies as st
from hypothesis.stateful import RuleBasedStateMachine, rule, run_state_machine_as_test

from lyft_presto_spark.session import load_table, table_path
from lyft_presto_spark.sources.write_path import (
    ctas,
    delete_where,
    insert_into,
    merge_into,
    optimize_table,
)

TABLE = "t_write_model"

PREDICATES = st.one_of(
    st.builds("n_nationkey % {} = {}".format, st.integers(2, 5), st.integers(0, 1)),
    st.builds("n_regionkey = {}".format, st.integers(0, 5)),
    st.just("n_name LIKE 'U%'"),
    st.just("n_nationkey >= 200"),
)


class WritePathModel(RuleBasedStateMachine):
    """Set by the test: ``spark``, ``sf_dir``, ``root`` and ``partition_by``."""

    spark = sf_dir = root = None
    partition_by: tuple[str, ...] = ()
    _examples = itertools.count()

    def __init__(self) -> None:
        super().__init__()
        self.nation = load_table(self.spark, self.sf_dir, "nation")
        self.cols = self.nation.columns
        self.spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
        location = f"{self.root}/ex{next(self._examples)}"
        ctas(self.spark, self.nation, TABLE, location, partition_by=self.partition_by)
        self.duck = duckdb.connect()
        nation_file = table_path(self.sf_dir, "nation")
        self.duck.execute(f"CREATE TABLE m AS SELECT {self._col_list()} FROM read_parquet('{nation_file}')")
        self.steps = 0

    def _col_list(self, alias: str = "") -> str:
        return ", ".join(f"{alias}{c}" for c in self.cols)

    def _mirror_rows(self) -> list[tuple]:
        return sorted(self.duck.execute(f"SELECT {self._col_list()} FROM m").fetchall())

    def _check(self) -> None:
        self.steps += 1
        got = sorted(map(tuple, self.spark.table(TABLE).select(*self.cols).collect()))
        assert got == self._mirror_rows()

    @rule(lo=st.integers(0, 24), n=st.integers(0, 5))
    def insert(self, lo: int, n: int) -> None:
        where = f"n_nationkey BETWEEN {lo} AND {lo + n - 1}"
        insert_into(self.spark, self.nation.filter(where), TABLE)
        nation_file = table_path(self.sf_dir, "nation")
        self.duck.execute(f"INSERT INTO m SELECT {self._col_list()} FROM read_parquet('{nation_file}') WHERE {where}")
        self._check()

    @rule(predicate=PREDICATES)
    def delete(self, predicate: str) -> None:
        delete_where(self.spark, TABLE, predicate)
        self.duck.execute(f"DELETE FROM m WHERE {predicate}")
        self._check()

    @rule()
    def optimize(self) -> None:
        optimize_table(self.spark, TABLE)
        self._check()

    @rule(
        keys=st.lists(st.sampled_from(["n_nationkey", "n_name", "n_regionkey"]), min_size=1, max_size=3, unique=True),
        picks=st.lists(st.integers(0, 99), max_size=5),
        n_new=st.integers(0, 3),
        when_matched=st.sampled_from(["update", "delete"]),
        order=st.permutations(["n_nationkey", "n_name", "n_regionkey"]),
    )
    def merge(self, keys, picks, n_new, when_matched, order) -> None:
        # source: changed copies of existing rows plus new rows, one per key
        current = self._mirror_rows()
        changed = next((c for c in self.cols if c not in keys), None)
        rows = []
        for i in picks if current else []:
            row = dict(zip(self.cols, current[i % len(current)]))
            if changed == "n_name":
                row[changed] = f"U{row[changed]}"
            elif changed:
                row[changed] += 1
            rows.append(row)
        rows += [
            {"n_nationkey": 200 + 4 * self.steps + j, "n_name": f"NEW{j}", "n_regionkey": j}
            for j in range(n_new)
        ]
        by_key: dict[tuple, dict] = {}
        for r in rows:
            by_key.setdefault(tuple(r[k] for k in keys), r)
        source = list(by_key.values())
        self.duck.execute(f"CREATE OR REPLACE TABLE s AS SELECT {self._col_list()} FROM m WHERE false")
        if source:
            self.duck.executemany(
                f"INSERT INTO s VALUES ({', '.join('?' * len(self.cols))})",
                [[r[c] for c in self.cols] for r in source],
            )
        src_df = self.spark.createDataFrame(
            [tuple(r[c] for c in self.cols) for r in source], self.nation.schema
        ).select(*order)

        stats = merge_into(self.spark, TABLE, src_df, on=tuple(keys), when_matched=when_matched)

        match = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        matched_src = f"EXISTS (SELECT 1 FROM s WHERE {match})"
        matched_tgt = f"EXISTS (SELECT 1 FROM m t WHERE {match})"
        want = {
            "matched": self.duck.execute(f"SELECT count(*) FROM m t WHERE {matched_src}").fetchone()[0],
            "inserted": self.duck.execute(f"SELECT count(*) FROM s WHERE NOT {matched_tgt}").fetchone()[0],
        }
        updated = (
            f"UNION ALL SELECT {self._col_list('s.')} FROM m t JOIN s ON {match}"
            if when_matched == "update" else ""
        )
        self.duck.execute(
            f"CREATE OR REPLACE TABLE m AS "
            f"SELECT {self._col_list('t.')} FROM m t WHERE NOT {matched_src} {updated} "
            f"UNION ALL SELECT {self._col_list('s.')} FROM s WHERE NOT {matched_tgt}"
        )
        assert stats == want
        self._check()

    def teardown(self) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
        self.duck.close()


@pytest.mark.parametrize("partition_by", [(), ("n_regionkey",)], ids=["flat", "partitioned"])
def test_write_verbs_match_duckdb_mirror(spark, sf_dir, tmp_path, partition_by):
    machine = type(
        "WritePathModelRun",
        (WritePathModel,),
        {"spark": spark, "sf_dir": sf_dir, "root": str(tmp_path), "partition_by": partition_by},
    )
    run_state_machine_as_test(
        machine,
        settings=settings(max_examples=6, stateful_step_count=6, deadline=None),
    )
