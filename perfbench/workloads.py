"""The benchmark workloads.

Each workload is driven in a closed loop by one client: the next iteration
starts when the previous one returns. A workload only calls the package's
public functions; the benchmark's own spans and job groups wrap those calls.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd

import inputs
import tracing
from check_correctness import _normalize


@dataclass
class Op:
    """One operation: a query, a table sync, or a probe call of one layer."""

    name: str
    seconds: float
    items: int
    error: str | None = None
    #: CPU seconds of the benchmark's process tree during the operation,
    #: without JIT compilation (``tracing.engine_cpu_s``)
    cpu: float = 0.0
    attrs: dict = field(default_factory=dict)


@dataclass
class Context:
    work: str
    seed: int
    sf_dir: str
    cores: int
    spark: object = None
    jvm_pid: int = 0

    def start_spark(self) -> None:
        from sqlserver2pgsql_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def cpu_s(self) -> float:
        return tracing.engine_cpu_s(os.getpid(), self.jvm_pid)

    def job_count(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _dir_stats(root: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``root``."""
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return size, files


class Workload:
    #: Timed iterations at least, whatever ``--seconds`` says. A burst of CPU
    #: stolen by the hypervisor slows single operations: each operation's
    #: best of two is steadier than any one pass.
    min_iterations = 2

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.notes: list[str] = []

    @property
    def spark(self):
        return self.ctx.spark

    def setup(self) -> None:
        """Generate the inputs; runs, timed as set-up, after each session start."""

    def warm(self) -> None:
        """Untimed, between set-up and measurement: one iteration, because
        the first in a JVM runs far slower than those that follow."""
        self.reset()
        self.iteration(tracing.Tracer("warm"), "warm")

    def reset(self) -> None:
        """Untimed, before each timed iteration."""

    def iteration(self, tracer: tracing.Tracer, tag: str) -> list[Op]:
        raise NotImplementedError

    def check(self) -> dict[str, str]:
        """Failure reason per operation name; empty when outputs are right."""
        return {}

    def probe(self, tracer: tracing.Tracer) -> list[Op]:
        """Traced run only: direct calls into single layers, as operations
        whose ``error`` says why an output was wrong."""
        return []

    def layers(self, run: "Measured", stages: dict[int, dict],
               scanned: dict[str, int]) -> dict[str, float]:
        """Per-layer metrics of the traced phase; ``stages`` and ``scanned``
        come from the event log."""
        return {}

    def report(self, run: "Measured") -> list[tuple[str, float, str]]:
        return []


@dataclass
class Measured:
    """What one measured phase of the closed loop produced."""

    ops: list[Op]
    walls: list[float]
    windows: list[tuple[float, float]]
    tags: list[str]
    tracer: tracing.Tracer
    #: per iteration: JVM garbage-collection seconds and CPU seconds stolen
    #: by the hypervisor, to tell machine drift from the workload's own
    gc: list[float] = field(default_factory=list)
    steal: list[float] = field(default_factory=list)
    #: per iteration: CPU seconds of this process and its descendants
    #: without JIT compilation, and of JIT compilation
    cpu: list[float] = field(default_factory=list)
    jit: list[float] = field(default_factory=list)


# Timings use each operation's best run because the noise on a shared machine
# is one-sided: CPU stolen by other guests slows an operation down and never
# speeds one up, and a burst seldom hits every run of one operation, while it
# often hits some operation of every iteration.

def best_ops(ops: list[Op]) -> list[Op]:
    """Each operation's fastest run."""
    best: dict[str, Op] = {}
    for o in ops:
        if o.name not in best or o.seconds < best[o.name].seconds:
            best[o.name] = o
    return list(best.values())


def best_per_item_s(ops: list[Op]) -> float:
    """Wall seconds per item of a pass made of each operation's fastest run."""
    best = best_ops(ops)
    return sum(o.seconds for o in best) / max(1, sum(o.items for o in best))


def least_cpu_s(ops: list[Op]) -> float:
    """CPU seconds of a pass made of each operation's least-CPU run."""
    least: dict[str, float] = {}
    for o in ops:
        least[o.name] = min(o.cpu, least.get(o.name, o.cpu))
    return sum(least.values())


def measure(wl: Workload, seconds: float, tracer: tracing.Tracer, phase: str,
            min_iterations: int) -> Measured:
    """Run whole iterations until ``seconds`` of iteration time have passed
    and at least ``min_iterations`` have run."""
    run = Measured([], [], [], [], tracer)
    while len(run.walls) < min_iterations or sum(run.walls) < seconds:
        wl.reset()
        tag = f"pb:{phase}:{len(run.walls)}"
        gc0, steal0 = tracing.gc_s(wl.spark), tracing.steal_s()
        cpu0, jit0 = wl.ctx.cpu_s(), tracing.jit_cpu_s(wl.ctx.jvm_pid)
        t0 = time.time()
        with tracer.span(f"{type(wl).__name__}.iteration", tag=tag):
            ops = wl.iteration(tracer, tag)
        t1 = time.time()
        run.ops.extend(ops)
        run.walls.append(t1 - t0)
        run.windows.append((t0, t1))
        run.tags.append(tag)
        run.gc.append(tracing.gc_s(wl.spark) - gc0)
        run.steal.append(tracing.steal_s() - steal0)
        run.cpu.append(wl.ctx.cpu_s() - cpu0)
        run.jit.append(tracing.jit_cpu_s(wl.ctx.jvm_pid) - jit0)
    return run


# -- query_mix ------------------------------------------------------------------

#: A fixed panel of registered queries: one or more from each query module,
#: covering a graph loop (q188, min-label connected components, on similarity
#: pairs), dedup (q17), text ranking (q147), streaming (q32), T-SQL scalar
#: functions (q12) and plain relational work. Loop queries whose DuckDB oracle takes over
#: 20 s at sf0.1 (q51, q87, q90, q232, q379) would not fit a run's time limit.
#: A per-seed random sample of this size spreads by 30-50% between seeds
#: because query cost is heavy-tailed (0.1-9.8 s per query), so the seed sets
#: the execution order instead.
PANEL = (
    "q12_tsql_scalars",
    "q17_dedup_exact",
    "q32_stream_window_agg",
    "q147_bm25_ranking",
    "q188_entity_resolution",
    "q334_gini_lorenz",
    "q393_collation_parity",
)


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """The oracle gate of ``scripts/check_correctness.py``: exact values
    after its normalisation, and no float-vs-int dtype divergence."""
    s, o = _normalize(spark_pdf), _normalize(oracle_pdf)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != {list(o.columns)}"
    mixed = [
        c for c in s.columns
        if (pd.api.types.is_float_dtype(s[c]) and pd.api.types.is_integer_dtype(o[c]))
        or (pd.api.types.is_integer_dtype(s[c]) and pd.api.types.is_float_dtype(o[c]))
    ]
    if mixed:
        return f"float-vs-int dtype divergence on {mixed}"
    if len(s) != len(o):
        return f"rowcount {len(s)} != {len(o)}"
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "value mismatch: " + " ".join(str(e).split())[:300]
    return None


class QueryMix(Workload):
    def __init__(self, ctx: Context):
        super().__init__(ctx)
        import __spark_entry__ as entry

        self.fns = entry.queries()
        self.oracles = entry.oracle_sql()
        rng = np.random.default_rng(ctx.seed)
        self.order = [PANEL[i] for i in rng.permutation(len(PANEL))]
        self.failures: dict[str, str] = {}

    def setup(self) -> None:
        """Reads the queries start from: the two largest fixture tables, all
        columns, scanned into the noop sink."""
        for t in ("lineitem", "orders"):
            df = self.spark.read.parquet(os.path.join(self.ctx.sf_dir, f"{t}.parquet"))
            df.write.format("noop").mode("overwrite").save()

    def _release_blocks(self) -> None:
        # storage blocks of finished queries linger until a JVM GC; drop them
        # so later queries do not measure memory pressure (as bench.py does)
        for jrdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)

    def warm(self) -> None:
        """Every panel query against its DuckDB oracle. This pass, the first
        in the JVM, also warms every query up."""
        from sqlserver2pgsql_spark.sources.tables import TABLE_NAMES

        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.ctx.sf_dir}/{t}.parquet')"
            )
        for name in self.order:
            self._release_blocks()
            try:
                got = self.fns[name](self.spark, self.ctx.sf_dir).toPandas()
                want = con.execute(self.oracles[name]).fetchdf()
                reason = compare_frames(got, want)
            except Exception as e:  # noqa: BLE001 — a failing query is a result
                reason = f"{type(e).__name__}: {str(e)[:300]}"
            if reason:
                self.failures[name] = reason
        con.close()

    def iteration(self, tracer: tracing.Tracer, tag: str) -> list[Op]:
        from sqlserver2pgsql_spark.operators import graph

        sc = self.spark.sparkContext
        ops = []
        for name in self.order:
            self._release_blocks()
            graph.LAST_ROUNDS.clear()
            op = Op(name, 0.0, 1)
            cpu0 = self.ctx.cpu_s()
            t0 = time.time()
            with tracer.span("query", query=name) as qspan:
                try:
                    sc.setJobGroup(f"{tag}:{name}:build", name)
                    with tracer.span("queries.build"):
                        df = self.fns[name](self.spark, self.ctx.sf_dir)
                    if tracer.enabled:
                        with tracer.span("queries.plan"):
                            qe = df._jdf.queryExecution()
                            qe.executedPlan()
                            phases = qe.tracker().phases()
                            for p in ("analysis", "optimization", "planning"):
                                phase = phases.get(p)
                                if phase.isDefined():
                                    op.attrs[f"{p}_ms"] = phase.get().durationMs()
                    sc.setJobGroup(f"{tag}:{name}:exec", name)
                    with tracer.span("queries.exec"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 — counted as a failed operation
                    op.error = f"{type(e).__name__}: {str(e)[:300]}"
                finally:
                    sc.setJobGroup("", "")
            op.seconds = time.time() - t0
            op.cpu = self.ctx.cpu_s() - cpu0
            op.attrs["rounds"] = sum(graph.LAST_ROUNDS.values())
            if qspan is not None:
                op.attrs["window"] = (qspan["start"], time.time())
            ops.append(op)
        return ops

    def check(self) -> dict[str, str]:
        return dict(self.failures)

    def layers(self, run: Measured, stages: dict[int, dict],
               scanned: dict[str, int]) -> dict[str, float]:
        n = max(1, len(run.ops))
        tr = run.tracer
        out = {
            "queries.build_s": sum(s["end"] - s["start"] for s in tr.named("queries.build")) / n,
            "queries.exec_s": sum(s["end"] - s["start"] for s in tr.named("queries.exec")) / n,
            "operators.graph.rounds": sum(o.attrs["rounds"] for o in run.ops) / len(run.walls),
        }
        for p in ("analysis", "optimization", "planning"):
            out[f"queries.{p}_ms"] = sum(o.attrs.get(f"{p}_ms", 0) for o in run.ops) / n
        build_jobs = exec_jobs = 0
        for tag in run.tags:
            for name in self.order:
                build_jobs += self.ctx.job_count(f"{tag}:{name}:build")
                exec_jobs += self.ctx.job_count(f"{tag}:{name}:exec")
        out["queries.build_jobs"] = build_jobs / n
        out["queries.exec_jobs"] = exec_jobs / n
        ex = tracing.stage_totals([s for s in tracing.in_groups(stages, "pb:") if s["group"].endswith(":exec")])
        al = tracing.stage_totals(tracing.in_groups(stages, "pb:"))
        walls = sum(o.seconds for o in run.ops)
        gaps = sum(tracing.stage_gap_s(stages, *o.attrs["window"]) for o in run.ops)
        out.update({
            "queries.exec_stages": ex["stages"] / n,
            "queries.exec_tasks": ex["tasks"] / n,
            "queries.shuffle_write_bytes": al["shuffle_write"] / n,
            "queries.shuffle_read_bytes": al["shuffle_read"] / n,
            "queries.spill_bytes": al["spill"] / n,
            "queries.task_busy_s": al["busy_s"] / n,
            "queries.stage_gap_s": gaps / n,
            "queries.core_util": al["busy_s"] / (walls * self.ctx.cores),
        })
        return out

    def report(self, run: Measured) -> list[tuple[str, float, str]]:
        secs = [o.seconds for o in best_ops(run.ops)]
        return [
            ("queries_per_min", 60.0 / best_per_item_s(run.ops), "1/min"),
            ("query_p50_s", _median(secs), "s"),
            ("query_p90_s", percentile(secs, 90), "s"),
        ]


# -- incremental_sync --------------------------------------------------------------

class IncrementalSync(Workload):
    """Sync a changed source into a pre-loaded target: the fixture tables plus
    the small NUL tables, each with a seeded change set."""

    #: The JVM still compiles 4-7 CPU-seconds of code in the second sync, and
    #: the engine's own CPU time falls with it; a third sync lets each table
    #: run once more warmly.
    min_iterations = 3

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.src_root = os.path.join(ctx.work, "source")
        self.tgt_root = os.path.join(ctx.work, "target")
        self.preloaded_root = os.path.join(ctx.work, "preloaded")

    def setup(self) -> None:
        from sqlserver2pgsql_spark.ddl import parse_text
        from sqlserver2pgsql_spark.plans import ParquetStore, build_transfer_plans

        rng = np.random.default_rng(self.ctx.seed)
        base = inputs.read_fixture(self.ctx.sf_dir)
        base.update(inputs.small_tables(rng))
        inputs.check_keys_unique(base)
        rows, distinct = inputs.lineitem_fanout(base["lineitem"])
        self.notes = [
            f"lineitem (l_orderkey, l_linenumber) is not a key: {rows} rows, "
            f"{distinct} distinct pairs; l_linekey is declared instead"
        ]
        self.tables, self.changes = inputs.change_set(rng, base)
        inputs.check_keys_unique(self.tables)
        inputs.write_store(self.src_root, self.tables)
        # the target as a previous full load left it: NUL bytes already gone
        inputs.write_store(self.preloaded_root, {n: inputs.strip_nul(t) for n, t in base.items()})

        self.plans = build_transfer_plans(parse_text(inputs.catalog_ddl(self.tables)), incremental=True)
        self.source = ParquetStore(self.spark, self.src_root)
        self.target = ParquetStore(self.spark, self.tgt_root)

    def reset(self) -> None:
        shutil.rmtree(self.tgt_root, ignore_errors=True)
        shutil.copytree(self.preloaded_root, self.tgt_root)

    def iteration(self, tracer: tracing.Tracer, tag: str) -> list[Op]:
        from sqlserver2pgsql_spark.plans import Orchestrator

        # one run per table, which the orchestrator's sequential loop makes
        # the same work as one run over all of them, so that each table's CPU
        # time is known
        orchestrator = Orchestrator(self.source, self.target)
        sc = self.spark.sparkContext
        sc.setJobGroup(tag, "orchestrator")
        ops = []
        try:
            for plan in self.plans:
                op = Op(f"{plan.schema}.{plan.table.name}", 0.0, 0)
                cpu0 = self.ctx.cpu_s()
                try:
                    with tracer.span("plans.Orchestrator.run", table=plan.table.name):
                        (m,) = orchestrator.run([plan])
                    op.seconds, op.items = m.seconds, m.rows
                except Exception as e:  # noqa: BLE001 — counted as a failed operation
                    op.error = f"{type(e).__name__}: {str(e)[:300]}"
                op.cpu = self.ctx.cpu_s() - cpu0
                ops.append(op)
        finally:
            sc.setJobGroup("", "")
        return ops

    def check(self) -> dict[str, str]:
        """The target equals the changed source with NUL bytes stripped,
        duplicates counted: DuckDB EXCEPT ALL in both directions."""
        failures = {}
        con = duckdb.connect()
        for name, table in self.tables.items():
            con.register("want", inputs.strip_nul(table))
            got = f"read_parquet('{inputs.store_path(self.tgt_root, name)}/*.parquet')"
            try:
                extra, missing = (
                    con.execute(f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})").fetchone()[0]
                    for a, b in ((got, "want"), ("want", got))
                )
            except duckdb.Error as e:
                failures[f"{inputs.SCHEMA}.{name}"] = f"{type(e).__name__}: {str(e)[:300]}"
                continue
            finally:
                con.unregister("want")
            if extra or missing:
                failures[f"{inputs.SCHEMA}.{name}"] = (
                    f"target has {extra} unexpected and lacks {missing} expected rows")
        con.close()
        return failures

    def write_amp(self) -> float:
        """Bytes written into the target over the source bytes of the rows
        that changed (each table's share of its source file bytes)."""
        changed = 0.0
        for name, t in self.tables.items():
            share = sum(self.changes[name].values()) / t.num_rows
            changed += _dir_stats(inputs.store_path(self.src_root, name))[0] * share
        return _dir_stats(self.tgt_root)[0] / changed

    def probe(self, tracer: tracing.Tracer) -> list[Op]:
        """Direct calls on the sync's inputs: cleanse on the table with the
        most string bytes, then diff and apply_diff per table; the diff must
        flag exactly the generated change set. Then the schema conversion
        that a migration starts from, at the size of a large real schema."""
        from pyspark.sql import functions as F

        from sqlserver2pgsql_spark.operators.cleanse import cleanse_strings
        from sqlserver2pgsql_spark.operators.diff import DIFF_FLAG_COL, diff
        from sqlserver2pgsql_spark.operators.merge import apply_diff

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        with tracer.span("operators.cleanse_strings", table="documents"):
            noop(cleanse_strings(self.source.read(inputs.SCHEMA, "documents")))
        sc = self.spark.sparkContext
        ops = []
        for p in self.plans:
            name = p.table.name
            src = cleanse_strings(self.source.read(p.schema, name))
            tgt = self.spark.read.parquet(inputs.store_path(self.preloaded_root, name))
            keys = p.table.primary_key.cols
            sc.setJobGroup(f"probe:diff:{name}", name)
            t0 = time.time()
            with tracer.span("operators.diff", table=name):
                noop(diff(src, tgt, keys))
            op = Op(f"diff:{p.schema}.{name}", time.time() - t0, self.tables[name].num_rows)
            sc.setJobGroup(f"probe:apply:{name}", name)
            with tracer.span("operators.apply_diff", table=name):
                noop(apply_diff(diff(src, tgt, keys)))
            sc.setJobGroup("", "")
            flags = dict(diff(src, tgt, keys).groupBy(DIFF_FLAG_COL).agg(F.count(F.lit(1))).collect())
            got = {k: flags.get(k, 0) for k in ("changed", "new", "deleted")}
            if got != self.changes[name]:
                op.error = f"diff flagged {got}, change set is {self.changes[name]}"
            ops.append(op)
        ops.append(convert_probe(self.ctx.work, self.ctx.seed, tracer))
        return ops

    def layers(self, run: Measured, stages: dict[int, dict],
               scanned: dict[str, int]) -> dict[str, float]:
        tr = run.tracer

        def span_s(name):
            return _median([s["end"] - s["start"] for s in tr.named(name)])

        written, files = _dir_stats(self.tgt_root)
        synced = tracing.stage_totals(tracing.in_groups(stages, "pb:"))
        small = [o.seconds for o in run.ops if o.name.startswith(f"{inputs.SCHEMA}.nul_")]
        large = [o for o in run.ops if o.items >= 100_000]
        out = {
            "plans.sync_table_s": _median([o.seconds for o in run.ops]),
            "plans.small_table_s": _median(small),
            "plans.large_table_rows_per_s": sum(o.items for o in large) / sum(o.seconds for o in large),
            "plans.jobs_per_table": sum(self.ctx.job_count(t) for t in run.tags) / len(run.ops),
            "plans.bytes_written": float(written),
            "plans.files_written": float(files),
            "plans.write_amp": self.write_amp(),
            "operators.cleanse_s": span_s("operators.cleanse_strings"),
            "operators.diff_s": sum(s["end"] - s["start"] for s in tr.named("operators.diff")),
            "operators.apply_diff_s": sum(s["end"] - s["start"] for s in tr.named("operators.apply_diff")),
            "ddl.parse_s": span_s("ddl.parse_text"),
            "catalog.resolve_s": span_s("catalog.resolve_name_conflicts"),
            "ddl.emit_before_s": span_s("ddl.emit_before"),
            "ddl.emit_after_s": span_s("ddl.emit_after"),
            "ddl.emit_unsure_s": span_s("ddl.emit_unsure"),
            "plans.build_s": span_s("plans.build_transfer_plans"),
            "ddl.objects": float(sum(s["attrs"]["objects"] for s in tr.named("cli.convert"))),
            "plans.scan_bytes": sum(v for g, v in scanned.items() if g.startswith("pb:")) / len(run.walls),
            "plans.core_util": synced["busy_s"] / (sum(run.walls) * self.ctx.cores),
            "plans.stage_gap_s": _median([tracing.stage_gap_s(stages, *w) for w in run.windows]),
            "operators.diff_shuffle_bytes": float(
                tracing.stage_totals(tracing.in_groups(stages, "probe:diff:"))["shuffle_write"]),
        }
        return out

    def report(self, run: Measured) -> list[tuple[str, float, str]]:
        secs = [o.seconds for o in best_ops(run.ops)]
        return [
            ("sync_rows_per_s", 1.0 / best_per_item_s(run.ops), "1/s"),
            ("table_p50_s", _median(secs), "s"),
            ("table_p90_s", percentile(secs, 90), "s"),
            ("write_amp", self.write_amp(), "ratio"),
        ]


# -- schema conversion, probed in the traced run ---------------------------------

#: Tables in the generated dump: the size of a large real schema.
N_DUMP_TABLES = 2000


def _convert_counts_wrong(out: dict[str, str], n: dict[str, int]) -> list[str]:
    """Object kinds whose count in the converted scripts differs from the
    dump's."""
    def read(k):
        with open(out[k]) as fh:
            return fh.read()

    before, after, unsure = read("before"), read("after"), read("unsure")
    index = re.compile(r"^CREATE (UNIQUE )?INDEX", re.M)
    expect = {
        "tables": (before.count("CREATE TABLE "), n["tables"]),
        "sequences": (before.count("CREATE SEQUENCE "), n["sequences"] + n["identity"]),
        "primary_keys": (after.count(" PRIMARY KEY ("), n["primary_keys"]),
        "uniques": (after.count(" UNIQUE ("), n["uniques"]),
        "foreign_keys": (after.count(" FOREIGN KEY ("), n["foreign_keys"]),
        "defaults": (after.count(" SET DEFAULT "), n["defaults"] + n["identity"]),
        "indexes": (len(index.findall(after)), n["indexes"]),
        "comments": (after.count("COMMENT ON "), n["comments"]),
        "checks": (unsure.count(" CHECK ("), n["checks"]),
        "partial_indexes": (len(index.findall(unsure)), n["partial_indexes"]),
        "views": (unsure.count("CREATE VIEW "), n["views"]),
    }
    return [f"{k}: {got} emitted, {want} in dump" for k, (got, want) in expect.items() if got != want]


def convert_probe(work: str, seed: int, tracer: tracing.Tracer) -> Op:
    """``cli convert`` on a seeded 2,000-table SQL Server dump, checked
    against the dump's object counts, then the convert pipeline called stage
    by stage under spans."""
    from sqlserver2pgsql_spark import cli
    from sqlserver2pgsql_spark.catalog.conflicts import resolve_name_conflicts
    from sqlserver2pgsql_spark.ddl import parse_text
    from sqlserver2pgsql_spark.ddl.emit_pg import emit_after, emit_before, emit_unsure
    from sqlserver2pgsql_spark.plans import build_transfer_plans

    text, counts = inputs.sqlserver_dump(np.random.default_rng(seed), N_DUMP_TABLES)
    dump = os.path.join(work, "dump.sql")
    with open(dump, "w") as fh:
        fh.write(text)
    out = {k: os.path.join(work, f"{k}.sql") for k in ("before", "after", "unsure")}
    argv = ["convert", "-f", dump, "-b", out["before"], "-a", out["after"], "-u", out["unsure"],
            "--plan-out", os.path.join(work, "plans.json")]
    op = Op("convert", 0.0, sum(counts.values()))
    t0 = time.time()
    with tracer.span("cli.convert", objects=op.items), contextlib.redirect_stdout(io.StringIO()):
        rc = cli.main(argv)
    op.seconds = time.time() - t0
    wrong = _convert_counts_wrong(out, counts) if rc == 0 else [f"exit code {rc}"]
    op.error = "; ".join(wrong) or None

    with tracer.span("ddl.parse_text"):
        catalog = parse_text(text)
    with tracer.span("catalog.resolve_name_conflicts"):
        resolve_name_conflicts(catalog)
    for name, fn in (("before", emit_before), ("after", emit_after), ("unsure", emit_unsure)):
        with tracer.span(f"ddl.emit_{name}"):
            fn(catalog)
    with tracer.span("plans.build_transfer_plans"):
        build_transfer_plans(catalog)
    return op


def percentile(xs: list[float], p: int) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


WORKLOADS = {
    "query_mix": QueryMix,
    "incremental_sync": IncrementalSync,
}
