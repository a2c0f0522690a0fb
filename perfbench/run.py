"""Benchmark of the webtext validation engine: one command per workload.

    python3 perfbench/run.py --workload webtext-validate --seed 1 \
        --seconds 15 --trace 0

Run from the root of a checkout.  The run starts a local[nproc] Spark
session through the engine's own session factory, builds the workload's
seeded input once, makes untimed warm-up calls, then makes timed calls one
at a time (a closed loop with one client) for ``--seconds``, each between
two timed passes of the workload's reference query.  Set-up time runs from
process start to the first timed call.  The output of every call and
every reference pass is checked after the loop.  The last line of stdout
is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (cost_vs_sql,
setup_s); with ``--trace 1`` they are the per-layer ones, from a run that
alternates traced and untraced calls and then times each layer on its own.
Scratch data lives under .perfbench-work/ (removed at exit); the traced
run's spans go to .perfbench-out/.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")
OUT = os.path.join(ROOT, ".perfbench-out")
# the session factory defaults to a 16 GB heap; the inputs need far less,
# and a bounded heap keeps GC and resident memory alike from run to run
DRIVER_MEMORY = "4g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(cores: int):
    """The engine's session factory, with the benchmark's hygiene: no
    console progress bars, and every scratch file inside the checkout."""
    from json_schema_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(app_name="perfbench", cores=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })


def descendants(pid: int) -> list[int]:
    """Processes below ``pid`` (the JVM's Python workers), from /proc."""
    children: dict[int, list[int]] = {}
    for entry in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # it has just exited
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_session(spark) -> float:
    """Stop Spark and its JVM, wait for the JVM and every process it
    started to exit, and return the JVM's peak resident set in MB."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(map(alive, workers)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(alive, workers):
        os.kill(pid, signal.SIGKILL)
    return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024


def bare_call(ctx, wl, i: int):
    """One call of the workload, timed on its own."""
    from perfbench.workloads import Call

    t0 = time.perf_counter()
    try:
        call = wl.call(ctx, i)
    except Exception:  # a call that raises counts as failed
        traceback.print_exc()
        call = Call(raised=True)
    call.wall = time.perf_counter() - t0
    return call


def reference_pass(wl) -> tuple[float, dict | None]:
    """The workload's reference pass, timed on its own."""
    t0 = time.perf_counter()
    try:
        counts = wl.reference()
    except Exception:  # the check then fails the calls beside it
        traceback.print_exc()
        counts = None
    return time.perf_counter() - t0, counts


def timed_loop(ctx, wl, seconds: float, traced: bool) -> list:
    """Closed loop: the next call starts when the previous one returns.
    A reference pass runs before the first call and after every call, so
    each call sits between two of them.  In a traced run every second call
    is traced: it gets a span and the totals of the Spark stages it ran,
    and its traced wall covers the span and the stage probe too.  Untraced
    calls are bare."""
    calls = []
    before = reference_pass(wl)
    t_end = time.perf_counter() + seconds
    # a traced run needs a traced and an untraced call
    while len(calls) < 1 + traced or time.perf_counter() < t_end:
        i = len(calls)
        if traced and i % 2 == 1:
            t0 = time.perf_counter()
            with ctx.spans.span(f"{wl.name}.call", ctx.trace_id, i=i):
                ctx.probe.mark()
                call = bare_call(ctx, wl, i)
                call.stages = ctx.probe.collect()
            call.traced_wall = time.perf_counter() - t0
        else:
            call = bare_call(ctx, wl, i)
        after = reference_pass(wl)
        call.ref_wall = (before[0] + after[0]) / 2
        call.refs = [before[1], after[1]]
        before = after
        calls.append(call)
    return calls


def run(args: argparse.Namespace, cores: int) -> dict:
    from perfbench.trace import Spans, StageProbe
    from perfbench.workloads import WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]()
    trace_id = f"{args.workload}-seed{args.seed}"
    spans = Spans()
    with spans.span("session.start", trace_id) as sp:
        spark = start_session(cores)
    start_s = sp["end"] - T_PROCESS
    ctx = Ctx(spark, args.seed, WORK, spans, trace_id)
    try:
        with spans.span("setup.prepare", trace_id):
            wl.prepare(ctx)
        with spans.span("setup.warm", trace_id):
            wl.warm(ctx)
        # one cold set-up, as a user pays it: process start to first call
        setup_s = time.perf_counter() - T_PROCESS

        if args.trace:
            ctx.probe = StageProbe(spark)
        calls = timed_loop(ctx, wl, args.seconds, bool(args.trace))
        done = [c for c in calls if not c.raised]
        wl.check(ctx, done)
        layers = wl.layers(ctx) if args.trace else {}
    finally:
        rss_mb = stop_session(spark)

    # a call with a wrong output validated nothing
    rates = [c.docs / c.wall if c.ok else 0.0 for c in calls]
    ok = [c for c in calls if c.ok]
    ref_rate = statistics.median(c.docs / c.ref_wall for c in ok) if ok else 0
    failed = len(calls) - len(ok)
    print(f"[perfbench] {args.workload} seed={args.seed}: {len(calls)} calls,"
          f" {failed} failed, error_rate={failed / len(calls):.4f},"
          f" docs_per_s={statistics.median(rates):.0f},"
          f" reference docs_per_s={ref_rate:.0f},"
          f" walls={[round(c.wall, 3) for c in calls]},"
          f" ref_walls={[round(c.ref_wall, 3) for c in calls]}",
          file=sys.stderr)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        units = {m["name"]: m["unit"]
                 for m in json.load(fh)["per_layer" if args.trace
                                        else "end_to_end"]}
    if not args.trace:
        # each call's wall over the mean wall of the reference passes on
        # either side of it: a change in the host's speed moves both alike
        values = {"cost_vs_sql": statistics.median(c.wall / c.ref_wall
                                                   for c in ok) if ok else 0.0,
                  "setup_s": setup_s}
    else:
        traced = [c for c in calls if c.traced_wall]
        fast = statistics.median(r for r, c in zip(rates, calls)
                                 if not c.traced_wall)
        slow = statistics.median(c.docs / c.traced_wall if c.ok else 0.0
                                 for c in traced)
        busy = sum(c.stages["run_ms"] for c in traced) / 1000
        values = {k: 0 for k in units}
        values.update(layers)
        values.update({
            "session.start_s": start_s,
            "session.jvm_peak_rss_mb": rss_mb,
            "spark.task_busy_frac":
                busy / (sum(c.wall for c in traced) * cores),
            "spark.spill_bytes": sum(c.stages["memory_spilled"]
                                     + c.stages["disk_spilled"]
                                     for c in traced),
            "spark.failed_tasks": sum(c.stages["failed_tasks"]
                                      for c in traced),
            "reference.docs_per_s": ref_rate,
            "trace.docs_per_s": slow,
            "trace.untraced_docs_per_s": fast,
            "trace.overhead_frac": 1 - slow / fast if fast else 0.0,
        })
        os.makedirs(OUT, exist_ok=True)
        spans.write(os.path.join(OUT, f"spans-{trace_id}.json"))
    for name, unit in units.items():
        print(f"[perfbench] {name} = {values[name]} {unit}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": len(calls),
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u}
                        for k, u in units.items()}}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "json_schema_spark")):
        print("perfbench: run from a checkout that holds json_schema_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # pandas-UDF workers import the engine too, and inherit this path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.environ["TMPDIR"])
    try:
        result = run(args, len(os.sched_getaffinity(0)))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
