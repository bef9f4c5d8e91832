"""The benchmark's workloads, their correctness gates and their metrics.

Load model: a closed loop with one driver thread.  Each operation (one
``SQLInput.run_once(drain=False)`` tick, or one headline query run to a
full ``collect()``) starts as soon as the previous one returns; the
``select_interval`` sleep is configuration, not cost, so it is skipped.
"""

from __future__ import annotations

import json
import os
import random
import time
import traceback
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Any

import datagen
from spans import Tracer, group_counts, job_group, wait_for_listener_bus


# set-up runs SETUP_REPS times; the first also launches the JVM, so
# setup_s is the median of the others.  analytics_headline's set-up is
# short (no warm-up ticks), so it repeats more often for a steadier median
SETUP_REPS = 3
ANALYTICS_SETUP_REPS = 5
MIN_IDLE_TICKS = 16
# analytics_headline runs over tables at half the sf0.1 size, so that a
# run stays under a minute; one pass takes about PASS_S on a 4-core
# box, and a run makes round(seconds / PASS_S) passes (at least one), a
# count that does not depend on speed
ANALYTICS_SCALE = 0.5
PASS_S = 5.0
# a run that has not finished its scheduled work after this long is cut
# and fails its correctness gate (a hung or looping program)
DEADLINE_S = 90.0

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "top3_orders_per_customer",
    "tumbling_window_counts",
    "session_windows",
    "asof_join_purchase_click",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_bruteforce_top5",
    "text_stats",
    "incremental_scan",
]
# tables each headline query reads: rows_per_s for analytics_headline is
# the summed row count of these tables over the summed query time
HEADLINE_TABLES = {
    "q1_pricing_summary": ["lineitem"],
    "q3_shipping_priority": ["lineitem", "orders", "customer"],
    "q5_local_supplier_volume": [
        "lineitem", "orders", "supplier", "nation", "region", "customer",
    ],
    "q6_forecast_revenue": ["lineitem"],
    "top3_orders_per_customer": ["orders"],
    "tumbling_window_counts": ["events"],
    "session_windows": ["events"],
    "asof_join_purchase_click": ["events"],
    "dedup_exact": ["documents"],
    "dedup_minhash_lsh": ["documents"],
    "ann_bruteforce_top5": ["embeddings"],
    "text_stats": ["documents"],
    "incremental_scan": ["events"],
}

CLOCK_TICKS = os.sysconf("SC_CLK_TCK")
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
EVENTS_DDL = (
    '"event_id" BIGINT, "ts" TIMESTAMP, "user_id" BIGINT, '
    '"event_type" VARCHAR(16), "value" DOUBLE, "props" VARCHAR(64)'
)
EVENTS_MAPPING = "event_id,user_id,event_type,value,props,time:event_time"
ORDERS_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
]


@dataclass
class Op:
    kind: str  # busy | idle | failed (ticks); query | idle_query (analytics)
    name: str
    seconds: float
    traced: bool
    group: str
    rows: int = 0
    ok: bool = True
    counts: dict[str, int] = field(default_factory=dict)
    cpu: float = 0.0  # CPU seconds of the JVM and Python during the op
    jit: float = 0.0  # CPU seconds of the JVM's JIT compilers, left out of cpu


@dataclass
class Ctx:
    """State of one benchmark run."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    data_root: str
    new_session: Callable[[], Any]
    spark: Any = None
    tracer: Tracer | None = None
    ops: list[Op] = field(default_factory=list)
    checks: dict[str, bool] = field(default_factory=dict)
    setup: dict[str, list[float]] = field(default_factory=dict)
    report: dict[str, Any] = field(default_factory=dict)
    fixture_s: float = 0.0
    jvm_pid: int | None = None

    def note(self, key: str, value: float) -> None:
        self.setup.setdefault(key, []).append(value)

    def restart_session(self) -> float:
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = self.new_session()
        return time.perf_counter() - t0

    def cpu_sample(self) -> tuple[float, float]:
        """``(cpu, jit)``: CPU seconds used so far by the driver JVM, every
        process it started (PySpark's Python daemon and workers) and this
        Python process, at 10 ms resolution, less the JVM's JIT compiler
        threads; and those compiler threads' own CPU seconds.

        Unlike wall time, CPU time leaves out the time the host took the
        CPUs away.  The JIT compilers are left out because they compile in
        the background on their own schedule: in a run they use about half
        of the JVM's CPU, and which operation they overlap is chance."""
        if self.jvm_pid is None:
            self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
        jit = jit_ticks(self.jvm_pid) / CLOCK_TICKS
        total = tree_cpu_ticks(self.jvm_pid) / CLOCK_TICKS + time.process_time()
        return total - jit, jit

    def run_op(self, kind: str, name: str, fn: Callable[[], Any]) -> tuple[Op, Any]:
        """Time ``fn`` as one operation under a job group of its own.  An
        exception fails the operation; the loop keeps going, as a poller
        would."""
        op = Op(kind, name, 0.0, bool(self.tracer and self.tracer.enabled),
                f"perfbench-op-{len(self.ops)}")
        sc = self.spark.sparkContext
        out = None
        cpu0, jit0 = self.cpu_sample()
        with job_group(sc, op.group):
            if self.tracer is not None:
                self.tracer.op = op.group
            span = self.tracer.span(name) if self.tracer else nullcontext()
            t0 = time.perf_counter()
            try:
                with span:
                    out = fn()
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                traceback.print_exc()
                op.ok = False
            op.seconds = time.perf_counter() - t0
        cpu1, jit1 = self.cpu_sample()
        op.cpu, op.jit = cpu1 - cpu0, jit1 - jit0
        self.ops.append(op)
        return op, out

    def op_counts(self) -> None:
        """Attach each op's Spark job/stage/task counts (its own group plus
        every span inside it) once the listener bus has drained."""
        sc = self.spark.sparkContext
        wait_for_listener_bus(sc)
        by_op: dict[str, list[dict]] = {}
        if self.tracer is not None:
            self.tracer.attach_counts()
            for s in self.tracer.spans:
                by_op.setdefault(s["op"], []).append(s)
        for op in self.ops:
            c = group_counts(sc, op.group)
            for s in by_op.get(op.group, []):
                for k in c:
                    c[k] += s[k]
            op.counts = c
            if c["tasks_failed"]:
                op.ok = False


# ------------------------------------------------------------------ helpers


def tree_cpu_ticks(root: int) -> int:
    """Clock ticks of CPU used by ``root`` and its live descendants, each
    with the time of the children it has reaped (so a worker that exits
    keeps counting, through its parent)."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name (field 2) may hold spaces; count after it
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # u/s time, cu/cs time
    if root not in ticks:
        raise RuntimeError(f"process {root} is gone")
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p != root and p in parent and p > 1:
            p = parent[p]
        if p == root:
            total += t
    return total


def jit_ticks(pid: int) -> int:
    """Clock ticks of CPU used by the JIT compiler threads of JVM ``pid``.
    The JVM runs with a fixed set of compiler threads, so none exits and
    takes its time out of this sum."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the thread ended while the table was read
            continue
        total += int(fields[11]) + int(fields[12])
    return total


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of files that are new or replaced between two snapshots."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def write_state(path: str, table: str, record: dict) -> None:
    with open(path, "w") as f:
        json.dump({"last_records": {table: record}}, f)


def read_watermark(path: str, table: str, column: str) -> Any:
    with open(path) as f:
        return json.load(f)["last_records"][table][column]


def same_rows(a, b) -> bool:
    """Multiset equality of two DataFrames: equal counts and exceptAll
    empty in both directions."""
    return (
        a.count() == b.count()
        and a.exceptAll(b).limit(1).count() == 0
        and b.exceptAll(a).limit(1).count() == 0
    )


def jdbc_exec(spark, url: str, sql: str) -> None:
    """Run one DDL statement over a fresh JDBC connection."""
    jvm = spark._jvm  # noqa: SLF001
    jvm.java.lang.Class.forName(
        DERBY_DRIVER, True, jvm.java.lang.Thread.currentThread().getContextClassLoader()
    )
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.createStatement()
        stmt.execute(sql)
        stmt.close()
    finally:
        conn.close()


def tick_outcome(rows: int, remaining: int) -> str:
    """Classify one tick's ``run_once`` result for the table.

    ``-1`` is how ``SQLInput.run_once`` reports a poll that raised; it is
    a failed poll, never zero rows.  An empty poll while rows are still
    due, or more rows than are due, is a wrong result and fails too."""
    if rows < 0 or rows > remaining or (rows == 0 and remaining > 0):
        return "failed"
    return "busy" if rows > 0 else "idle"


def drive_ticks(ctx: Ctx, pipe, table: str, phases: list[tuple[Callable, int]]) -> None:
    """Closed-loop ticks: for each phase run its set-up callable, then tick
    until the phase's rows have been emitted; then poll the caught-up
    table until ``seconds`` have passed and at least MIN_IDLE_TICKS empty
    polls ran.  A failed poll is retried by the next tick, as the
    poller would; a wrong row count ends the run.  With tracing on,
    ticks alternate traced / untraced."""
    tracer = ctx.tracer
    t_start = time.perf_counter()

    def tick(remaining: int) -> tuple[str, int]:
        if tracer is not None:
            tracer.enabled = len(ctx.ops) % 2 == 1
        op, out = ctx.run_op("tick", "tick", lambda: pipe.run_once(drain=False))
        if tracer is not None:
            tracer.enabled = False
        rows = out.get(table, -1) if out is not None else -1
        op.kind = tick_outcome(rows, remaining)
        op.rows = max(rows, 0)
        op.ok = op.ok and op.kind != "failed"
        return op.kind, rows

    def overdue() -> bool:
        late = time.perf_counter() - t_start > DEADLINE_S
        if late:
            ctx.checks["finished_before_deadline"] = False
        return late

    for before, due in phases:
        before()
        while due > 0 and not overdue():
            kind, rows = tick(due)
            if kind == "busy":
                due -= rows
            elif rows >= 0:
                ctx.checks["rows_as_expected"] = False
                return
    idle = 0
    while (time.perf_counter() - t_start < ctx.seconds or idle < MIN_IDLE_TICKS) and not overdue():
        kind, rows = tick(0)
        if kind == "failed" and rows > 0:
            ctx.checks["rows_as_expected"] = False
            return
        idle += kind == "idle"


def setup_reps(
    ctx: Ctx, build_and_warm: Callable[[int], None], reps: int = SETUP_REPS
) -> None:
    """Set up ``reps`` times: (re)start the session, then build and warm
    on warm-up inputs.  Rep 0's session start launches the JVM and is
    recorded apart (setup.cold_s); fixture loading is not set-up time."""
    for i in range(reps):
        t0 = time.perf_counter()
        fixture0 = ctx.fixture_s
        ctx.note("session.get_spark_s", ctx.restart_session())
        build_and_warm(i)
        dt = time.perf_counter() - t0 - (ctx.fixture_s - fixture0)
        ctx.note("setup_s" if i else "setup.cold_s", dt)


def warm_ticks(ctx: Ctx, pipe, max_ticks: int = 6) -> None:
    """Tick a warm-up pipeline until a poll comes back empty."""
    t0 = time.perf_counter()
    for _ in range(max_ticks):
        got = pipe.run_once(drain=False)
        if any(v < 0 for v in got.values()):
            raise RuntimeError(f"warm-up poll failed: {got}")
        if not any(got.values()):
            break
    ctx.note("setup.warmup_s", time.perf_counter() - t0)


def build_pipeline(ctx: Ctx, cfg: dict):
    from fluent_plugin_sql_spark.pipeline import Pipeline

    t0 = time.perf_counter()
    pipe = Pipeline(ctx.spark, cfg)
    ctx.note("pipeline.build_s", time.perf_counter() - t0)
    return pipe


def timed_fixture(ctx: Ctx, fn: Callable[[], Any]) -> Any:
    """Load inputs; the time goes to setup.fixture_s, not setup_s."""
    t0 = time.perf_counter()
    out = fn()
    ctx.fixture_s += time.perf_counter() - t0
    return out


# ------------------------------------------------------------ tick workloads


def events_config(source: dict, sink: dict, table: str, tag: str, state: str) -> dict:
    """``events``-shaped poll at the reference default select_limit 500
    into a two-route sink: a pattern route with a column_mapping (takes
    every row) and the default route (gets none)."""
    return {
        "source": {
            **source,
            "tag_prefix": "db",
            "select_limit": 500,
            "state_file": state,
            "tables": [{"table": table, "tag": "events",
                        "update_column": "event_id", "time_column": "ts"}],
        },
        "sink": {
            **sink,
            "remove_tag_prefix": "db",
            "tables": [
                {"table": f"{tag}_mapped", "pattern": "events",
                 "column_mapping": EVENTS_MAPPING},
                {"table": f"{tag}_default"},
            ],
        },
    }


def mapped_events(df):
    from pyspark.sql import functions as F

    return df.select(
        "event_id", "user_id", "event_type", "value", "props",
        F.col("ts").cast("timestamp").alias("event_time"),
    )


def run_jdbc_500(ctx: Ctx) -> None:
    from fluent_plugin_sql_spark.io import load_table
    from fluent_plugin_sql_spark.sources.jdbc import read_jdbc

    data = datagen.ensure_dataset(ctx.data_root, 1.0)
    n_events = datagen.sizes(1.0)["events"]
    sl = datagen.slices(ctx.seed, n_events, datagen.sizes(1.0)["orders"])
    url = f"jdbc:derby:{os.path.join(ctx.run_dir, 'derby')};create=true"
    props = {"driver": DERBY_DRIVER}
    lo, hi = sl["jdbc_start"], sl["jdbc_start"] + datagen.JDBC_ROWS
    # the warm-up table (three busy ticks per set-up) holds other rows than
    # the measured slice
    w_lo = (hi + 1000) % (n_events - 2000)

    def load(table: str, a: int, b: int) -> None:
        # Derby's bulk import, into a table shaped like the one Spark's
        # JDBC writer creates (quoted lower-case columns), indexed on the
        # update column as a deployment's source table would be
        csv = os.path.join(ctx.run_dir, f"{table}.csv")
        datagen.write_csv(data, csv, "events", "event_id", a - 1, b - 1)
        jdbc_exec(ctx.spark, url, f"CREATE TABLE {table} ({EVENTS_DDL})")
        jdbc_exec(
            ctx.spark, url,
            "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE("
            f"null, '{table.upper()}', '{csv}', ',', '\"', 'UTF-8', 0)",
        )
        jdbc_exec(ctx.spark, url, f'CREATE INDEX {table}_upd ON {table}("event_id")')

    def cfg(tag: str, table: str, state: str):
        source = {"url": url, "driver": DERBY_DRIVER, "dialect": "derby",
                  "quote_identifiers": True}
        sink = {"url": url, "driver": DERBY_DRIVER, "pool": 1}
        return events_config(source, sink, table, tag, state)

    def warm(i: int) -> None:
        if i == 0:
            timed_fixture(ctx, lambda: load("warm_events", w_lo, w_lo + 1500))
        state = os.path.join(ctx.run_dir, f"warm{i}.json")
        pipe = build_pipeline(ctx, cfg(f"warm{i}", "warm_events", state))
        warm_ticks(ctx, pipe)

    setup_reps(ctx, warm)
    timed_fixture(ctx, lambda: load("events", lo, hi))
    state = os.path.join(ctx.run_dir, "state.json")
    install_tick_tracer(ctx)
    pipe = build_pipeline(ctx, cfg("main", "events", state))
    trace_writer(ctx, pipe, None)
    drive_ticks(ctx, pipe, "events", [(lambda: None, datagen.JDBC_ROWS)])
    finish_tracing(ctx)

    spark = ctx.spark
    src = load_table(spark, data, "events").where(
        f"event_id >= {lo} AND event_id < {hi}"
    )
    out = read_jdbc(spark, url, "main_mapped", props)
    ctx.checks["sink_equals_slice"] = same_rows(out, mapped_events(src))
    ctx.checks["watermark_is_slice_end"] = (
        read_watermark(state, "events", "event_id") == hi - 1
    )


def run_backfill_upsert(ctx: Ctx) -> None:
    from fluent_plugin_sql_spark.io import load_table

    data = datagen.ensure_dataset(ctx.data_root, 1.0)
    tiny = datagen.ensure_dataset(ctx.data_root, 0.01)
    n_orders = datagen.sizes(1.0)["orders"]
    sl = datagen.slices(ctx.seed, datagen.sizes(1.0)["events"], n_orders)

    def cfg(src_dir: str, tag: str, state: str):
        return {
            "source": {
                "path": src_dir,
                "tag_prefix": "db",
                "select_limit": 25_000,
                "state_file": state,
                "tables": [{"table": "orders", "update_column": "o_orderkey"}],
            },
            "sink": {
                "path": os.path.join(ctx.run_dir, tag, "lake"),
                "mode": "upsert",
                "merge_keys": ["o_orderkey"],
                "remove_tag_prefix": "db",
                "tables": [
                    {"table": "orders_lake", "pattern": "orders",
                     "column_mapping": ",".join(ORDERS_COLS)},
                    {"table": "orders_default"},
                ],
            },
        }

    def warm(i: int) -> None:
        # a first write, then a replay through the merge path; then
        # resolve the measured source table once (schema cache)
        load_table(ctx.spark, data, "orders")
        pipe = build_pipeline(
            ctx, cfg(tiny, f"warm{i}", os.path.join(ctx.run_dir, f"warm{i}.json"))
        )
        warm_ticks(ctx, pipe)
        pipe.input.reset_to("orders", None)
        warm_ticks(ctx, pipe)

    setup_reps(ctx, warm)
    state = os.path.join(ctx.run_dir, "state.json")
    install_tick_tracer(ctx)
    pipe = build_pipeline(ctx, cfg(data, "main", state))
    lake = os.path.join(ctx.run_dir, "main", "lake")
    trace_writer(ctx, pipe, lake)
    rewind = sl["rewind_key"]
    drive_ticks(
        ctx,
        pipe,
        "orders",
        [
            (lambda: None, n_orders),
            (lambda: pipe.input.reset_to("orders", {"o_orderkey": rewind}),
             n_orders - 1 - rewind),
        ],
    )
    finish_tracing(ctx)

    spark = ctx.spark
    out = spark.read.parquet(os.path.join(lake, "orders_lake")).select(*ORDERS_COLS)
    src = load_table(spark, data, "orders").select(*ORDERS_COLS)
    # the source keys are unique, so a lake equal to the source as a
    # multiset holds exactly one row per key, with the source payload
    ctx.checks["lake_equals_source"] = same_rows(out, src)
    ctx.checks["watermark_is_table_end"] = (
        read_watermark(state, "orders", "o_orderkey") == n_orders - 1
    )


def install_tick_tracer(ctx: Ctx) -> None:
    """Wrap the layer entry points a tick passes through.  Runs before the
    measured ``Pipeline`` is built: its readers bind ``io.load_table`` when
    they are made."""
    if not ctx.trace:
        return
    import fluent_plugin_sql_spark.io as fio
    from fluent_plugin_sql_spark.sinks.router import SQLOutput
    from fluent_plugin_sql_spark.sources.incremental import IncrementalScan, SQLInput
    from fluent_plugin_sql_spark.sources.jdbc import JdbcIncrementalScan
    from fluent_plugin_sql_spark.state import StateStore

    tr = ctx.tracer = Tracer(ctx.spark.sparkContext)
    tr.patch(SQLInput, "poll_table", "sources.incremental.poll_table")
    tr.patch(IncrementalScan, "batch_plan", "sources.incremental.plan")
    tr.patch(JdbcIncrementalScan, "batch_plan", "sources.jdbc.plan")
    tr.patch(StateStore, "update", "state.update")
    last: dict[tuple, Any] = {}

    def loaded(rec, args, out):
        # a cache hit returns the very DataFrame an earlier call with the
        # same arguments returned; a key's first call is left unknown
        key = tuple(a if isinstance(a, (str, bool)) else id(a) for a in args)
        prev = last.get(key)
        rec["cache_hit"] = None if prev is None else prev is out
        last[key] = out

    tr.patch_function("fluent_plugin_sql_spark", fio.load_table, "io.load_table", loaded)

    def routed(rec, args, out):
        rec["routes"] = len(out)
        rec["nonempty_routes"] = sum(1 for v in out.values() if v)
        rec["rows"] = sum(out.values())

    tr.patch(SQLOutput, "write_batch", "sinks.router", on_exit=routed)


def trace_writer(ctx: Ctx, pipe, sink_dir: str | None) -> None:
    """Wrap the writer callable ``build_writer`` returned; for a directory
    sink, record the bytes of files each write adds or replaces."""
    if ctx.tracer is None:
        return
    write = pipe.output.write
    snap: dict[str, dict] = {}

    def writer(df, table):
        path = os.path.join(sink_dir, table) if sink_dir else None
        before = dir_files(path) if path else {}
        write(df, table)
        if path:
            snap["bytes"] = written_bytes(before, dir_files(path))

    def wrote(rec, args, out):
        rec["bytes"] = snap.pop("bytes", 0)

    pipe.output.write = ctx.tracer.wrap(writer, "sinks.write", on_exit=wrote)


def finish_tracing(ctx: Ctx) -> None:
    if ctx.tracer is not None:
        ctx.tracer.enabled = False
        ctx.tracer.unpatch()


# ---------------------------------------------------------------- analytics


def run_analytics_headline(ctx: Ctx) -> None:
    import __spark_entry__ as entry
    from fluent_plugin_sql_spark.io import load_table

    data = datagen.ensure_dataset(ctx.data_root, ANALYTICS_SCALE)
    tiny = datagen.ensure_dataset(ctx.data_root, 0.01)
    empty = datagen.ensure_dataset(ctx.data_root, 1.0, empty=True)
    queries = entry.queries()
    rng = random.Random(ctx.seed)

    def one_pass(sf_dir: str, kind: str, n: int) -> list[tuple[Op, Any]]:
        order = list(HEADLINE)
        rng.shuffle(order)
        out = []
        for name in order:
            if ctx.tracer is not None:
                # traced and untraced runs of each query alternate
                ctx.tracer.enabled = (n + HEADLINE.index(name)) % 2 == 0
            out.append(run_query(ctx, queries[name], name, sf_dir, kind))
        if ctx.tracer is not None:
            ctx.tracer.enabled = False
        return out

    def resolve_tables(i: int) -> None:
        # resolve every table once (schema and lazy-plan caches); each
        # query still builds its plan when it runs
        for sf_dir in (data, empty):
            for t in datagen.TABLES:
                load_table(ctx.spark, sf_dir, t)

    setup_reps(ctx, resolve_tables, ANALYTICS_SETUP_REPS)
    # JIT warm-up of the data paths: one pass over small tables, once per
    # process, so it is not part of setup_s
    t0 = time.perf_counter()
    for name in HEADLINE:
        queries[name](ctx.spark, tiny).collect()
    ctx.note("setup.warmup_s", time.perf_counter() - t0)
    if ctx.trace:
        ctx.tracer = Tracer(ctx.spark.sparkContext)
    # with tracing, at least two passes: each query runs traced once and
    # untraced once
    passes = max(round(ctx.seconds / PASS_S), 2 if ctx.trace else 1)
    results: list[tuple[Op, Any, str]] = []
    for n in range(passes):
        results += [(op, rows, data) for op, rows in one_pass(data, "query", n)]
    for n in range(passes):
        results += [(op, rows, empty) for op, rows in one_pass(empty, "idle_query", n)]

    ctx.report["oracle_mismatches"] = check_results(results, OracleCheck(entry.oracle_sql()))
    ctx.report["headline_input_rows"] = sum(
        datagen.sizes(ANALYTICS_SCALE)[t] for q in HEADLINE for t in HEADLINE_TABLES[q]
    )


def check_results(results: list[tuple[Op, Any, str]], oracle: "OracleCheck") -> list[str]:
    """Fail every op whose result does not hash-match its oracle; returns
    the names of the mismatching queries."""
    bad = []
    for op, rows, sf_dir in results:
        if op.ok and not oracle.matches(op.name, sf_dir, rows):
            op.ok = False
            bad.append(op.name)
    return bad


def run_query(ctx: Ctx, fn, name: str, sf_dir: str, kind: str):
    tr = ctx.tracer

    def body():
        with tr.span("plans.build") if tr else nullcontext():
            df = fn(ctx.spark, sf_dir)
        with tr.span("plans.exec") if tr else nullcontext():
            rows = df.collect()
        return list(df.columns), [tuple(r) for r in rows]

    return ctx.run_op(kind, name, body)


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: the repository's oracle-check
    multiset (columns sorted by name, values normalised, rows sorted)."""
    import hashlib

    from tools.oracle_check import rows_to_multiset

    h = hashlib.sha256("|".join(sorted(columns)).encode())
    for line in rows_to_multiset(rows, columns):
        h.update(b"\n" + line.encode())
    return h.hexdigest()


class OracleCheck:
    """Compares a Spark result with its DuckDB ``oracle_sql()`` twin over
    the same parquet files; queries without a twin pass.  Expected hashes
    are cached next to the (immutable) dataset, keyed by the oracle SQL."""

    def __init__(self, oracles: dict[str, str]):
        self.oracles = oracles

    def expected(self, name: str, sf_dir: str) -> str | None:
        import hashlib

        sql = self.oracles.get(name)
        if sql is None:
            return None
        cache_path = sf_dir.rstrip("/") + ".oracle.json"
        try:
            with open(cache_path) as f:
                cache = json.load(f)
        except FileNotFoundError:
            cache = {}
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in cache:
            cache[key] = self._run(sql, sf_dir)
            tmp = f"{cache_path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(cache, f)
            os.replace(tmp, cache_path)
        return cache[key]

    @staticmethod
    def _run(sql: str, sf_dir: str) -> str:
        import duckdb

        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                path = os.path.join(sf_dir, f"{t}.parquet")
                if os.path.exists(path):
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM '{path.replace(chr(39), chr(39) * 2)}'"
                    )
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            return result_hash(cols, res.fetchall())
        finally:
            con.close()

    def matches(self, name: str, sf_dir: str, result) -> bool:
        want = self.expected(name, sf_dir)
        if want is None:
            return True
        cols, rows = result
        return result_hash(cols, rows) == want


WORKLOADS = {
    "backfill_upsert": run_backfill_upsert,
    "jdbc_500": run_jdbc_500,
    "analytics_headline": run_analytics_headline,
}
