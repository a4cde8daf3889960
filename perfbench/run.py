"""Benchmark entry point: one workload, one closed-loop client, one JSON line.

    python3 perfbench/run.py --workload tpch_power --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The run builds a session on
``local[<cores available>]``, sets up and checks its workload, warms up with
a fixed amount of work, then measures whole passes for at least
``--seconds``. With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics and
the spans go to ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from dataclasses import dataclass  # noqa: E402

import metrics  # noqa: E402
from tracer import Tracer  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

# Environment pins (the cause of the earlier benchmark's noise): the
# session's 32-core default oversubscribes small hosts and its 24g driver
# heap can exceed physical RAM.
DRIVER_MEM = "2g"
# Tail latency percentile: the highest one the shortest window (the
# operator mix) still leaves MIN_BEYOND samples above.
TAIL_Q = 0.75
MIN_SAMPLES = metrics.min_samples_for(TAIL_Q)
MAX_WINDOW_FACTOR = 3  # the window may stretch to reach MIN_SAMPLES, this far


@dataclass
class Sample:
    op_id: int
    name: str
    kind: str
    latency: float
    ok: bool


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("tpch_power", "operator_mix", "ingest", "ingest_merge", "extensions"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str) -> float:
    """High-water resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def child_pids(pid: int) -> list[int]:
    out = subprocess.run(["ps", "-o", "pid=", "--ppid", str(pid)], capture_output=True, text=True)
    return [int(x) for x in out.stdout.split()]


def wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


def pin_environment(run_dir: str) -> None:
    """Everything a run reads from the environment, set before Spark starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # Python workers import the engine's kernels from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Engine temp artifacts (IVF index, staging tables) stay in this run.
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


class LoadTableProbe:
    """Counts and times calls into ``session.load_table`` (traced runs only).

    Set-up calls it from several threads, so it keeps totals under a lock
    instead of opening spans.
    """

    def __init__(self, engine_session) -> None:
        self.calls = 0
        self.seconds = 0.0
        self._lock = threading.Lock()
        inner = engine_session.load_table

        def load_table(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                with self._lock:
                    self.calls += 1
                    self.seconds += time.perf_counter() - t0

        engine_session.load_table = load_table


class ExecCounters:
    """Jobs, stages and tasks of each traced op, via a job group per op."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0

    def begin(self, op_id: int, name: str) -> None:
        self.sc.setJobGroup(f"perfbench-op-{op_id}", name)

    def end(self, op_id: int) -> None:
        # status events arrive through the listener bus; drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(f"perfbench-op-{op_id}"):
            self.jobs += 1
            job = tracker.getJobInfo(job_id)
            for stage_id in job.stageIds if job else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is None:
                    continue  # skipped stage: reused shuffle output
                self.stages += 1
                self.tasks += stage.numTasks
                self.failed_tasks += stage.numFailedTasks


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000


def measure(wl, seconds: float, tracer: Tracer, exec_counters: ExecCounters | None) -> tuple[list[Sample], float]:
    """Run whole passes until ``seconds`` have passed and the tail rule holds."""
    samples: list[Sample] = []
    t0 = time.perf_counter()
    while True:
        t_pass = time.perf_counter()
        for op in wl.next_pass():
            op_id = len(samples)
            if exec_counters:
                t_c = time.perf_counter()
                exec_counters.begin(op_id, op.name)
                tracer.overhead_s += time.perf_counter() - t_c
            err = None
            s = time.perf_counter()
            try:
                with tracer.op(op_id, "op", op.name):
                    err = op.run()
            except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
                err = traceback.format_exc(limit=3)
            latency = time.perf_counter() - s
            if err:
                log(f"op {op.name} failed: {err}")
            if exec_counters:
                t_c = time.perf_counter()
                exec_counters.end(op_id)
                tracer.overhead_s += time.perf_counter() - t_c
            samples.append(Sample(op_id, op.name, op.kind, latency, err is None))
        elapsed = time.perf_counter() - t0
        log(f"pass done in {elapsed - (t_pass - t0):.2f} s, {len(samples)} ops so far")
        if elapsed >= seconds and len(samples) >= MIN_SAMPLES:
            return samples, elapsed
        if elapsed >= seconds * MAX_WINDOW_FACTOR:
            return samples, elapsed


def end_to_end(samples: list[Sample], window_s: float, setup_s: float, rss_mb: float) -> dict:
    from workloads import WRITE_KINDS

    lat = [x.latency for x in samples]
    # Reads of the table just written (ingest read-backs); a workload that
    # never writes only reads, so all its ops count.
    reads = [x.latency for x in samples if x.kind == "read"] or [
        x.latency for x in samples if x.kind not in WRITE_KINDS]
    p = round(TAIL_Q * 100)
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (metrics.ops_per_s(sum(x.ok for x in samples), window_s), "1/s"),
        "latency_p50_s": (metrics.percentile(lat, 0.5), "s"),
        f"latency_p{p}_s": (metrics.tail_percentile(lat, TAIL_Q), "s"),
        "read_p50_s": (metrics.percentile(reads, 0.5), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(wl, tracer: Tracer, samples: list[Sample], window_spans, window_s: float,
              extra: dict) -> tuple[dict, dict]:
    """Per-layer metrics for the JSON line, plus a detail table for the trace report."""
    from workloads import FAMILIES, WRITE_KINDS

    n = len(samples)
    op_time = sum(x.latency for x in samples)
    by_kind: dict[str, list[float]] = defaultdict(list)
    for x in samples:
        by_kind[x.kind].append(x.latency)
    layer_spans: dict[tuple[str, str], list[float]] = defaultdict(list)
    for s in window_spans:
        layer_spans[(s.layer, s.name)].append(s.duration)

    def mean_span(layer: str, name: str) -> float:
        v = layer_spans.get((layer, name), [])
        return sum(v) / len(v) if v else 0.0

    def share(seconds: float) -> float:
        return 100 * seconds / op_time

    exec_spans = [d for (layer, _), v in layer_spans.items() if layer == "exec" for d in v]
    out = {
        **extra,
        "queries.build_s": (mean_span("queries", "build"), "s"),
        "exec.run_s": (sum(exec_spans) / len(exec_spans), "s"),
        "window.samples": (n, "count"),
    }
    for fam in FAMILIES:
        out[f"operators.{fam}.pct"] = (share(sum(by_kind.get(fam, []))), "%")
    for verb in WRITE_KINDS[:3]:  # merge_into runs only in ingest_merge
        out[f"write_path.{verb}.pct"] = (share(sum(layer_spans.get(("write_path", verb), []))), "%")
    self_times = tracer.self_times(window_spans)
    for layer in ("queries", "exec", "write_path"):
        out[f"self.{layer}.pct"] = (share(self_times.get(layer, 0.0)), "%")
    out["trace.overhead_pct"] = (100 * tracer.overhead_s / window_s, "%")

    detail = {f"operators.{fam}.s": statistics.fmean(by_kind[fam]) for fam in FAMILIES if fam in by_kind}
    for verb in WRITE_KINDS:
        if ("write_path", verb) in layer_spans:
            detail[f"write_path.{verb}.s"] = mean_span("write_path", verb)
    inserts = layer_spans.get(("write_path", "insert_into"))
    if inserts:
        detail["write_path.insert_into.p50_s"] = metrics.percentile(inserts, 0.5)
    detail["trace.overhead_s_per_op"] = tracer.overhead_s / n
    detail["self_s_per_op"] = {k: v / n for k, v in sorted(self_times.items())}
    return out, detail


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    kids = child_pids(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    wait_gone(kids, timeout=30)


def run(args: argparse.Namespace, run_dir: str) -> tuple[dict, bool]:
    pin_environment(run_dir)
    from lyft_presto_spark import session as engine_session
    from lyft_presto_spark.operators import staging

    import workloads

    tracer = Tracer(enabled=bool(args.trace))
    probe = LoadTableProbe(engine_session) if args.trace else None
    with tracer.span("session", "start") as start_span:
        spark = engine_session.build_session(
            app_name=f"perfbench-{args.workload}",
            cpus=str(cores()),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                "spark.local.dir": os.path.join(run_dir, "local"),
                # a fixed-size heap: RSS tracks use, not heap-resizing timing
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.environ['TMPDIR']}",
            },
        )
    session_start_s = time.perf_counter() - T_START
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Context(spark, tracer, random.Random(args.seed), run_dir)
        wl = workloads.WORKLOADS[args.workload](ctx)
        checks = workloads.Checks()
        wl.setup(checks)
        wl.warmup()

        staged_before = len(staging._STAGED)
        exec_counters = ExecCounters(spark) if args.trace else None
        first_span = len(tracer.spans)
        gc0, cpu0 = gc_seconds(spark), time.process_time()
        setup_s = time.perf_counter() - T_START
        samples, window_s = measure(wl, args.seconds, tracer, exec_counters)
        gc_s, cpu_s = gc_seconds(spark) - gc0, time.process_time() - cpu0
        staged_builds = len(staging._STAGED) - staged_before
        window_spans = tracer.spans[first_span:]

        wl.final_check(checks)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = vm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        failed_ops = sum(not x.ok for x in samples)
        attempted = len(samples) + checks.attempted
        failed = failed_ops + len(checks.failures)
        for f in checks.failures:
            log(f"check failed: {f}")
        e2e = end_to_end(samples, window_s, setup_s, rss_mb)
        log(
            f"{args.workload}: {len(samples)} ops in {window_s:.2f} s window, "
            f"{checks.attempted} checks, error_rate={metrics.error_rate(failed, attempted):.4f}"
        )
        for k, (v, unit) in e2e.items():
            log(f"  {k:<16} {v:12.4f} {unit}")
        if not args.trace:
            result_metrics = e2e
        else:
            n = len(samples)
            extra = {
                "session.start_s": (start_span.duration, "s"),
                "session.load_table.calls": (probe.calls, "count"),
                "session.load_table.s": (probe.seconds, "s"),
                "exec.jobs_per_op": (exec_counters.jobs / n, "count"),
                "exec.stages_per_op": (exec_counters.stages / n, "count"),
                "exec.tasks_per_op": (exec_counters.tasks / n, "count"),
                "exec.failed_tasks": (exec_counters.failed_tasks, "count"),
                "jvm.gc_s": (gc_s, "s"),
                "driver.py_cpu_s": (cpu_s / n, "s"),
                "operators.staging.builds": (staged_builds, "count"),
                "operators.staging.entries": (len(staging._STAGED), "count"),
            }
            stats = getattr(wl, "optimize_stats", [])
            extra["write_path.files_before_optimize"] = (
                statistics.fmean(f for f, _, _ in stats) if stats else 0.0, "count")
            extra["write_path.bytes_per_user_byte"] = (
                statistics.fmean(b / a for _, b, a in stats if a) if stats else 0.0, "ratio")
            result_metrics, detail = per_layer(wl, tracer, samples, window_spans, window_s, extra)
            os.makedirs(OUT_DIR, exist_ok=True)
            trace_path = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
            tracer.write(trace_path, {
                "workload": args.workload, "seed": args.seed, "window_s": window_s,
                "session_start_to_ready_s": session_start_s,
                "end_to_end_traced": {k: v for k, (v, _) in e2e.items()},
                "per_layer": {k: v for k, (v, _) in result_metrics.items()},
                "detail": detail,
            })
            log(f"spans: {trace_path}")
            for k, (v, unit) in result_metrics.items():
                log(f"  {k:<34} {v:12.4f} {unit}")
            log(f"  detail: {json.dumps(detail, default=float)}")
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in result_metrics.items()},
        }
        return result, failed == 0
    finally:
        shutdown(spark)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lyft_presto_spark", "__init__.py")):
        log(f"engine package lyft_presto_spark not found under {ROOT}; run from a full checkout")
        return 2
    os.makedirs(OUT_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=OUT_DIR)
    try:
        result, ok = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
