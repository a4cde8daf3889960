#!/usr/bin/env python
"""Scaling-story demonstration: file layout vs core count (VERDICT r15 #4).

The driver fixtures write each table as ONE parquet row group, so every
fact scan is a single task at any core count — the c8/c32 scaling block
can never show parallelism at sf0.1 and scan-bound queries sit at an
artificial serial floor (guide §2.5 "one huge unsplittable file"; the r15
rejected-repartition experiment measured exactly this). The honest fix is
file layout, which only the fixture generator owns; this harness proves
the engine scales once the layout allows it, WITHOUT touching the
headline bench or its fixtures:

- A one-time DERIVED dataset is written under the staging root: lineitem
  replicated REP times (~9.6M rows at sf0.1) in two layouts — one row
  group ("rg1", the fixture's layout at demo volume) and NPARTS row
  groups ("rgN"). Derivation is deterministic (explode over a literal
  replication index).
- Two representative queries run against each layout at 8 and 32 cores in
  fresh JVMs (master is static per JVM): a q1-class scan aggregation and
  a q36-class join+rollup probe.
- Output: SCALING_r16.json with medians and the c32/c8 speedup per
  (layout, query). Expectation: rgN shows ratio >= 2 on both queries
  (parallel-eligible); rg1 stays ~1 (the serial floor, named).

Usage: python tools/scale_layout_bench.py            # orchestrates all combos
       python tools/scale_layout_bench.py --worker LAYOUT CPUS   # internal
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lyft_presto_spark.operators.staging import artifact_dir, publish_once  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REP = 16  # replication factor: ~9.6M derived lineitem rows at sf0.1
NPARTS = 64  # row groups in the splittable layout
RUNS = 3
CPU_POINTS = ("8", "32")
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "SCALING_r16.json",
)


def ensure_derived(spark) -> dict[str, str]:
    """Write the two derived lineitem layouts once; return their paths."""
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    big = li.selectExpr("*", f"explode(sequence(1, {REP})) AS rep_idx")
    paths = {}
    for layout, n in (("rg1", 1), ("rgN", NPARTS)):
        paths[layout] = artifact_dir(SF_DIR, f"scaledemo_li_{layout}_r{REP}", "1")
        # deterministic split key (guide §2.5: never rand()-derived)
        publish_once(
            paths[layout],
            lambda stage, n=n: big.repartition(n, "l_orderkey", "rep_idx").write.parquet(stage),
        )
    return paths


def queries(spark, li_path: str):
    li = spark.read.parquet(li_path)
    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    cust = spark.read.parquet(os.path.join(SF_DIR, "customer.parquet"))
    nation = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    region = spark.read.parquet(os.path.join(SF_DIR, "region.parquet"))
    li.createOrReplaceTempView("li_big")
    orders.createOrReplaceTempView("o")
    cust.createOrReplaceTempView("c")
    nation.createOrReplaceTempView("n")
    region.createOrReplaceTempView("r")
    return {
        # q1-class: pure scan + decimal aggregation (scan-bound)
        "scan_agg": """
            SELECT l_returnflag, l_linestatus,
                   SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS s,
                   COUNT(*) AS n
            FROM li_big GROUP BY l_returnflag, l_linestatus
        """,
        # q36-class: fact join probe + rollup margin
        "rollup_join": """
            SELECT r_name, n_name,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                       AS margin
            FROM li_big
            JOIN o ON l_orderkey = o_orderkey
            JOIN c ON o_custkey = c_custkey
            JOIN n ON c_nationkey = n_nationkey
            JOIN r ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """,
    }


def worker(layout: str, cpus: str) -> None:
    from lyft_presto_spark.session import build_session

    spark = build_session(app_name=f"scale_layout_{layout}_c{cpus}", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    paths = ensure_derived(spark)
    qs = queries(spark, paths[layout])
    result: dict[str, dict[str, float]] = {}
    for name, sql in qs.items():
        spark.sparkContext.setJobDescription(f"scaledemo {layout} c{cpus} {name}")
        df = spark.sql(sql)
        df.write.format("noop").mode("overwrite").save()  # prewarm
        samples = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            spark.sql(sql).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        result[name] = {
            "median": round(statistics.median(samples), 4),
            "min": round(min(samples), 4),
        }
    spark.stop()
    print(json.dumps({"layout": layout, "cpus": int(cpus), "queries": result}))


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker(sys.argv[2], sys.argv[3])
        return 0
    combos = []
    for layout in ("rg1", "rgN"):
        for cpus in CPU_POINTS:
            env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker", layout, cpus],
                stdout=subprocess.PIPE, env=env, check=True, timeout=1200,
            )
            row = json.loads(proc.stdout.decode().strip().splitlines()[-1])
            combos.append(row)
            print(f"done {layout} c{cpus}: {row['queries']}", file=sys.stderr)
    by = {(r["layout"], r["cpus"]): r["queries"] for r in combos}
    ratios = {
        f"{layout}/{q}": round(
            by[(layout, 8)][q]["median"] / by[(layout, 32)][q]["median"], 3
        )
        for layout in ("rg1", "rgN")
        for q in by[(layout, 8)]
    }
    record = {
        "sf_dir": SF_DIR,
        "rep_factor": REP,
        "nparts": NPARTS,
        "runs_per_point": RUNS,
        "combos": combos,
        "c32_over_c8_speedup": ratios,
        "note": (
            "Derived-layout scaling demo (VERDICT r15 #4). rg1 = one row "
            "group (the fixture's layout at ~16x volume), rgN = 64 row "
            "groups. The headline bench never reads these derived tables."
        ),
    }
    with open(OUT, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(json.dumps(record["c32_over_c8_speedup"]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
