"""Benchmark of the sqlserver2pgsql_spark migration engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Workloads: query_mix and incremental_sync (see perfbench/README.md). A run
sets up ``SETUPS`` times, warms up, measures whole closed-loop iterations for
``--seconds``, checks the outputs and prints a readable report followed, as
its last stdout line, by one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, measured untraced.
With ``--trace 1`` the run sets up once and measures a third of its time
untraced, a third with spans, job-group counts and Spark's event log on, and a
third untraced again; the metrics are the per-layer ones plus the tracing
overhead, and the spans are written to ``.perfbench_work/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Set-ups per run; ``setup_s`` is their median. The first includes the JVM
#: start, so the median is the slower of the two warm set-ups.
SETUPS = 3
#: Iterations at least in the traced run's traced phase; the untraced phases
#: before and after it run one each, so that both sides have two.
TRACED_MIN_ITERATIONS = 2
#: Spark JVM heap, fixed (-Xms = -Xmx) and touched when the JVM starts: the
#: session factory's 16g default exceeds small machines, and a heap that grows
#: on demand, or whose pages are first touched as the loop allocates, makes
#: peak RSS vary from run to run.
DRIVER_MEM = "2g"

UNITS = {"setup_s": "s", "cpu_s_per_iteration": "s", "peak_rss_mb": "MiB"}

#: Per-layer metrics with their units; a workload that does not exercise a
#: layer reports 0 for it.
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.analysis_ms": "ms", "queries.optimization_ms": "ms", "queries.planning_ms": "ms",
    "queries.exec_s": "s", "queries.exec_jobs": "count", "queries.exec_stages": "count",
    "queries.exec_tasks": "count", "queries.shuffle_write_bytes": "bytes",
    "queries.shuffle_read_bytes": "bytes", "queries.spill_bytes": "bytes",
    "queries.task_busy_s": "s", "queries.stage_gap_s": "s", "queries.core_util": "ratio",
    "operators.graph.rounds": "count",
    "plans.small_table_s": "s", "plans.jobs_per_table": "count",
    "plans.large_table_rows_per_s": "1/s", "plans.scan_bytes": "bytes",
    "plans.core_util": "ratio", "plans.stage_gap_s": "s", "operators.cleanse_s": "s",
    "plans.bytes_written": "bytes", "plans.files_written": "count", "plans.write_amp": "ratio",
    "operators.diff_s": "s", "operators.diff_shuffle_bytes": "bytes",
    "operators.apply_diff_s": "s", "plans.sync_table_s": "s",
    "ddl.parse_s": "s", "catalog.resolve_s": "s", "ddl.emit_before_s": "s",
    "ddl.emit_after_s": "s", "ddl.emit_unsure_s": "s", "plans.build_s": "s", "ddl.objects": "count",
    "trace.overhead_pct": "%",
}


def _environment(work: str) -> None:
    """Settings the session factory and its Python workers read. They must be
    in place before the Spark JVM starts."""
    # half the cores: Spark's task threads then leave room for the JVM's JIT
    # compiler (about one core throughout a run), its GC, the Python driver
    # and the Python workers. On a shared 4-core machine, passes at local[2]
    # took as long on average as at local[4], and varied a third as much.
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        # Python workers import the package from wherever the JVM starts them
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # no progress bars; JVM temp files inside the work directory, no
        # hsperfdata files in the system temp directory, a fixed, pre-touched
        # heap, and JIT compiler threads that live as long as the JVM, so
        # that their CPU time can be told apart
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                                     "-XX:-UseDynamicNumberOfCompilerThreads",
            "pyspark-shell",
        ]),
    })


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sqlserver2pgsql_spark")):
        print(f"perfbench: no sqlserver2pgsql_spark package under {ROOT}", file=sys.stderr)
        return 2
    # the package, __spark_entry__, and the scripts whose parsers are reused
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    from sqlserver2pgsql_spark.sources.tables import DEFAULT_SF_DIR

    # read-only sf0.1 fixture, beside the package's default (sf0.001) one
    sf_dir = os.environ.get(
        "PERFBENCH_SF_DIR", os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.1"))
    if not os.path.isdir(sf_dir):
        print(f"perfbench: fixture directory {sf_dir} not found", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    ctx = workloads.Context(work=work, seed=args.seed, sf_dir=sf_dir,
                            cores=int(os.environ["SPARK_GRAFT_CPUS"]))
    wl = workloads.WORKLOADS[args.workload](ctx)
    try:
        out = _run(wl, ctx, args, base)
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


def _stop_jvm() -> None:
    """End the Spark JVM and wait for it: it exits when its stdin closes."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def _run(wl, ctx, args, base: str) -> dict:
    import tracing
    from workloads import least_cpu_s, measure

    phases = {}
    t_start = time.perf_counter()
    setup_times = []
    # the traced run reports no setup_s, so it sets up once
    for _ in range(1 if args.trace else SETUPS):
        if ctx.spark is not None:
            ctx.spark.stop()  # tearing the last session down is not set-up
        t0 = time.perf_counter()
        ctx.start_spark()
        wl.setup()
        setup_times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    phases["set-up"] = t0 - t_start
    wl.warm()
    phases["warm"] = time.perf_counter() - t0

    tracer = tracing.Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}")
    t0 = time.perf_counter()
    if not args.trace:
        # peak memory of the measured loop only: set-up, warm pass and checks
        # (DuckDB runs in this process) are left out
        pids = [os.getpid(), ctx.jvm_pid]
        tracing.reset_peak_rss(pids)
        run = measure(wl, args.seconds, tracer, "main", wl.min_iterations)
        rss = tracing.peak_rss_mb(pids)
        failures = wl.check()
        metrics = {
            "setup_s": statistics.median(setup_times),
            # each operation's least CPU: contention on the host only ever
            # adds CPU time (spinning threads, cache misses)
            "cpu_s_per_iteration": least_cpu_s(run.ops),
            "peak_rss_mb": sum(rss),
        }
        units = UNITS
        self_times = None
        ops = run.ops
        wl.notes.append("peak RSS (MiB) of " + ", ".join(
            f"{name} {mb:.1f}" for name, mb in zip(("python", "Spark JVM"), rss)))
    else:
        run, ops, failures, metrics, self_times = _traced(wl, ctx, args, tracer)
        units = PER_LAYER
        spans_dir = os.path.join(base, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.write(os.path.join(spans_dir, f"{tracer.run_id}.json"), self_times)

    phases["measure and check"] = time.perf_counter() - t0

    failed = sum(1 for o in ops if o.error or o.name in failures)
    _report(args, wl, run, ops, setup_times, phases, failures, failed, metrics, units, self_times)
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _traced(wl, ctx, args, tracer):
    """Untraced, traced, untraced again: a third of ``--seconds`` each, the
    traced phase at least ``TRACED_MIN_ITERATIONS`` iterations, so that it is
    neither the coldest nor the warmest. Spans and Spark's event log are on
    only in the traced phase and its probes."""
    import tracing
    from workloads import best_per_item_s, measure

    log_dir = os.path.join(ctx.work, "eventlog")
    third = args.seconds / 3
    before = measure(wl, third, tracer, "untraced", 1)
    with tracing.event_log(ctx.spark, log_dir):
        tracer.enabled = True
        run = measure(wl, third, tracer, "traced", TRACED_MIN_ITERATIONS)
        probed = wl.probe(tracer)
        tracer.enabled = False
    stages, scanned = tracing.read_event_log(log_dir, ctx.spark.sparkContext.applicationId)
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    metrics.update(wl.layers(run, stages, scanned))
    after = measure(wl, third, tracer, "untraced-again", 1)
    # each operation's best run, traced against untraced before or after
    untraced_s = best_per_item_s(before.ops + after.ops)
    metrics["trace.overhead_pct"] = (best_per_item_s(run.ops) / untraced_s - 1.0) * 100.0
    ops = before.ops + run.ops + probed + after.ops
    return run, ops, wl.check(), metrics, tracer.self_times()


def _report(args, wl, run, ops, setup_times, phases, failures, failed, metrics, units,
            self_times) -> None:
    """Readable summary on stdout, ahead of the JSON line."""
    def secs(xs):
        return ", ".join(f"{x:.3f}" for x in xs)

    mode = "traced" if args.trace else "untraced"
    print(f"== {args.workload} seed={args.seed} {mode}: {len(run.ops)} operations in "
          f"{len(run.walls)} iterations, {sum(run.walls):.2f} s measured ({len(ops)} attempted in all)")
    print(f"  set-up runs (s): {secs(setup_times)}")
    print(f"  iterations (s): wall {secs(run.walls)}; CPU {secs(run.cpu)}; JIT compilation CPU "
          f"{secs(run.jit)}; JVM GC {secs(run.gc)}; "
          f"CPU stolen by the hypervisor {secs(run.steal)}")
    print("  run phases (s): " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
    rows = [(k, v, units[k]) for k, v in metrics.items()]
    if not args.trace:
        rows += wl.report(run)
        rows.append(("failed_ratio", failed / len(ops), "ratio"))
    for name, value, unit in rows:
        print(f"  {name:<32} {value:>16.6g} {unit}")
    if self_times:
        print("  self time per span (s):")
        for name, secs in sorted(self_times.items(), key=lambda kv: -kv[1]):
            print(f"    {name:<40} {secs:10.3f}")
    for op in ops:
        if op.error:
            print(f"  FAILED {op.name}: {op.error}")
    for name, reason in failures.items():
        print(f"  FAILED {name}: {reason}")
    for note in wl.notes:
        print(f"  note: {note}")


if __name__ == "__main__":
    raise SystemExit(main())
