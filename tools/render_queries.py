#!/usr/bin/env python
"""Render QUERIES.md — the full registered-query inventory — from the registry.

Run after adding/renaming queries:

    python tools/render_queries.py

``tests/test_queries_doc.py`` fails if the rendered file is stale. The table
is the line-by-line index the COVERAGE.md narrative references: every
operator claim maps to a named, oracle-checked query here.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lyft_presto_spark.queries import all_queries  # noqa: E402

HEADER = """\
# QUERIES — the registered operator surface ({n} queries, {n_oracle} oracle-checked)

Rendered by `tools/render_queries.py` from `lyft_presto_spark.queries`
(the registry is the source of truth). Every entry is a callable
``(spark, sf_dir) -> DataFrame`` exposed through ``__spark_entry__.queries()``;
**oracle** = has an equivalent DuckDB SQL checked by the driver at sf0.01 and
by `tests/test_queries_oracle.py` locally (rows-only entries are the
deliberately nondeterministic tail).

Per-family counts (rendered — the registry is the source of truth):
{family_counts}

| # | Query | Oracle | Tags | What it proves |
|---|---|---|---|---|
"""


def _family_order(name: str) -> tuple:
    fams = ["tpch", "op", "fn", "events", "text", "dedup", "sim", "multimodal"]
    fam = name.split("_")[0]
    return (fams.index(fam) if fam in fams else 99, name)


def render() -> str:
    qs = all_queries()
    rows = []
    for i, name in enumerate(sorted(qs, key=_family_order), 1):
        q = qs[name]
        doc = " ".join((q.doc or "").split())
        if len(doc) > 180:
            doc = doc[:177] + "..."
        rows.append(
            f"| {i} | `{name}` | {'yes' if q.oracle else 'rows-only'} | "
            f"{', '.join(q.tags)} | {doc} |\n"
        )
    n_oracle = sum(1 for q in qs.values() if q.oracle)
    fam_counts: dict[str, int] = {}
    for name in qs:
        fam = name.split("_")[0]
        fam_counts[fam] = fam_counts.get(fam, 0) + 1
    family_counts = " · ".join(
        f"`{fam}` {cnt}" for fam, cnt in sorted(fam_counts.items(), key=lambda kv: -kv[1])
    )
    return HEADER.format(n=len(qs), n_oracle=n_oracle, family_counts=family_counts) + "".join(rows)


if __name__ == "__main__":
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out}")
