"""Turn a finished run (ops, spans, set-up samples) into metrics."""

from __future__ import annotations

from typing import Any

import stats
from workloads import HEADLINE, Ctx, Op

END_TO_END_UNITS = {
    "op_cpu_s": "s",
    "idle_cpu_s": "s",
    "rows_per_cpu_s": "rows/s",
    "setup_s": "s",
}

TICK_LAYERS = {
    # metric: (span name, "self" or "dur" time)
    "sources.incremental.plan_s": ("sources.incremental.plan", "self"),
    "io.load_table_s": ("io.load_table", "dur"),
    "sources.incremental.self_s": ("sources.incremental.poll_table", "self"),
    "sinks.router.self_s": ("sinks.router", "self"),
    "sinks.write_s": ("sinks.write", "dur"),
    "sources.jdbc.plan_s": ("sources.jdbc.plan", "self"),
    "state.update_s": ("state.update", "dur"),
    "tick.other_s": ("tick", "self"),
}
LAYER_JOBS = {
    "sources.incremental.jobs": "sources.incremental.poll_table",
    "sinks.router.jobs": "sinks.router",
    "sinks.write.jobs": "sinks.write",
}

PER_LAYER_UNITS: dict[str, str] = {
    **{k: "s" for k in TICK_LAYERS},
    **{k: "count" for k in LAYER_JOBS},
    "io.table_cache_hit_frac": "ratio",
    "sinks.router.nonempty_route_frac": "ratio",
    "sinks.write.rows": "rows",
    "sinks.lake.bytes_rewritten": "bytes",
    "sinks.lake.bytes_per_row": "bytes/row",
    "spark.jobs_per_tick": "count",
    "spark.stages_per_tick": "count",
    "spark.tasks_per_tick": "count",
    "spark.jobs_per_idle_tick": "count",
    "spark.tasks_failed": "count",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.jobs": "count",
    **{f"plans.{q}_s": "s" for q in HEADLINE},
    "jvm.peak_rss_mb": "MB",
    "jvm.jit_cpu_s": "s",
    "session.get_spark_s": "s",
    "session.first_start_s": "s",
    "setup.cold_s": "s",
    "pipeline.build_s": "s",
    "setup.warmup_s": "s",
    "setup.fixture_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.layers_sum_s": "s",
    "trace.untraced_s": "s",
}


def failure_counts(ctx: Ctx) -> tuple[int, int]:
    """(attempted, failed): every op is attempted; an op fails on an
    exception, a ``-1`` poll, a wrong row count, a Spark task failure or
    an oracle mismatch; each failed run-level check adds one failure."""
    failed = sum(1 for op in ctx.ops if not op.ok)
    failed += sum(1 for ok in ctx.checks.values() if not ok)
    return len(ctx.ops), failed


def _vals(ops: list[Op], kind: str, attr: str = "seconds") -> list[float]:
    return [getattr(o, attr) for o in ops if o.kind == kind]


def per_query_medians(
    ops: list[Op], kind: str, traced: bool | None = None, attr: str = "seconds"
) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for o in ops:
        if o.kind == kind and (traced is None or o.traced == traced):
            by.setdefault(o.name, []).append(getattr(o, attr))
    return {q: stats.median(v) for q, v in by.items()}


def end_to_end(ctx: Ctx, peak_rss_mb: float) -> tuple[dict[str, float], dict[str, Any]]:
    """The gated metrics (CPU seconds per operation, set-up time) and a
    report of every metric by name, wall-clock ones included."""
    ops = ctx.ops
    setup_s = stats.median(ctx.setup.get("setup_s", []))
    attempted, failed = failure_counts(ctx)
    report: dict[str, Any] = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "failed_frac": (failed / max(attempted, 1), "ratio"),
    }
    if ctx.workload == "analytics_headline":
        wall = per_query_medians(ops, "query")
        cpu = per_query_medians(ops, "query", attr="cpu")
        idle = per_query_medians(ops, "idle_query")
        idle_cpu = per_query_medians(ops, "idle_query", attr="cpu")
        total, total_cpu = sum(wall.values()), sum(cpu.values())
        rows = ctx.report["headline_input_rows"]
        e2e = {
            "op_cpu_s": stats.geomean(list(cpu.values())),
            "idle_cpu_s": stats.geomean(list(idle_cpu.values())),
            "rows_per_cpu_s": rows / total_cpu if total_cpu else 0.0,
        }
        report["headline_total_s"] = (total, "s")
        report["headline_geomean_s"] = (stats.geomean(list(wall.values())), "s")
        report["headline_idle_geomean_s"] = (stats.geomean(list(idle.values())), "s")
        report["headline_rows_per_s"] = (rows / total if total else 0.0, "rows/s")
        report["headline_total_cpu_s"] = (total_cpu, "s")
    else:
        busy = [o for o in ops if o.kind == "busy"]
        secs = [o.seconds for o in busy]
        cpu = [o.cpu for o in busy]
        rows = sum(o.rows for o in busy)
        pct, tail = stats.tail(secs)
        # means and sums over every busy tick, so that each tick (in
        # backfill_upsert also the replay ticks, the most costly) counts
        e2e = {
            "op_cpu_s": stats.mean(cpu),
            "idle_cpu_s": stats.median(_vals(ops, "idle", "cpu")),
            "rows_per_cpu_s": rows / sum(cpu) if sum(cpu) else 0.0,
        }
        report["tick_mean_s"] = (stats.mean(secs), "s")
        report["tick_p50_s"] = (stats.median(secs), "s")
        report["tick_tail_s"] = (tail, "s")
        report["tick_tail_percentile"] = (pct, "percentile")
        report["busy_ticks"] = (len(busy), "count")
        report["idle_tick_p50_s"] = (stats.median(_vals(ops, "idle")), "s")
        report["idle_ticks"] = (len(_vals(ops, "idle")), "count")
        report["rows_per_s"] = (rows / sum(secs) if secs else 0.0, "rows/s")
    for k in ("op_cpu_s", "idle_cpu_s", "rows_per_cpu_s"):
        report[k] = (e2e[k], END_TO_END_UNITS[k])
    e2e["setup_s"] = setup_s
    return e2e, report


def per_layer(ctx: Ctx, peak_rss_mb: float) -> dict[str, float]:
    """Per-layer numbers from the traced ops (every name is always
    present; a layer a workload never enters reads 0)."""
    out = {k: 0.0 for k in PER_LAYER_UNITS}
    out["jvm.peak_rss_mb"] = peak_rss_mb
    out["jvm.jit_cpu_s"] = sum(o.jit for o in ctx.ops)
    out["setup.cold_s"] = ctx.setup.get("setup.cold_s", [0.0])[0]
    for key, src in (
        ("session.get_spark_s", "session.get_spark_s"),
        ("pipeline.build_s", "pipeline.build_s"),
        ("setup.warmup_s", "setup.warmup_s"),
    ):
        out[key] = stats.median(ctx.setup.get(src, []))
    out["session.first_start_s"] = ctx.setup.get("session.get_spark_s", [0.0])[0]
    out["setup.fixture_s"] = ctx.fixture_s
    out["spark.tasks_failed"] = float(sum(o.counts.get("tasks_failed", 0) for o in ctx.ops))
    spans = ctx.tracer.spans if ctx.tracer is not None else []
    selfs = stats.self_times(spans)
    by_op: dict[str, list[tuple[dict, float]]] = {}
    for s, st in zip(spans, selfs):
        by_op.setdefault(s["op"], []).append((s, st))

    if ctx.workload == "analytics_headline":
        _analytics_layers(ctx, out, by_op)
    else:
        _tick_layers(ctx, out, by_op)
    return out


def _tick_layers(ctx: Ctx, out: dict, by_op: dict) -> None:
    busy = [o for o in ctx.ops if o.kind == "busy"]
    idle = [o for o in ctx.ops if o.kind == "idle"]
    traced = [o for o in busy if o.traced]
    per_tick: dict[str, list[float]] = {k: [] for k in (*TICK_LAYERS, *LAYER_JOBS)}
    per_tick["sinks.write.rows"] = []
    per_tick["sinks.lake.bytes_rewritten"] = []
    routes = nonempty = rows_total = bytes_total = 0
    for op in traced:
        spans = by_op.get(op.group, [])
        for metric, (name, how) in TICK_LAYERS.items():
            per_tick[metric].append(sum(
                (st if how == "self" else s["end"] - s["start"])
                for s, st in spans if s["name"] == name
            ))
        for metric, name in LAYER_JOBS.items():
            per_tick[metric].append(sum(s["jobs"] for s, _ in spans if s["name"] == name))
        routers = [s for s, _ in spans if s["name"] == "sinks.router"]
        writes = [s for s, _ in spans if s["name"] == "sinks.write"]
        tick_rows = sum(s.get("rows", 0) for s in routers)
        tick_bytes = sum(s.get("bytes", 0) for s in writes)
        per_tick["sinks.write.rows"].append(tick_rows)
        per_tick["sinks.lake.bytes_rewritten"].append(tick_bytes)
        routes += sum(s.get("routes", 0) for s in routers)
        nonempty += sum(s.get("nonempty_routes", 0) for s in routers)
        rows_total += tick_rows
        bytes_total += tick_bytes
    for metric, vals in per_tick.items():
        out[metric] = float(stats.median(vals))
    out["sinks.router.nonempty_route_frac"] = nonempty / routes if routes else 0.0
    out["sinks.lake.bytes_per_row"] = bytes_total / rows_total if rows_total else 0.0
    loads = [s for spans in by_op.values() for s, _ in spans if s["name"] == "io.load_table"]
    known = [s["cache_hit"] for s in loads if s.get("cache_hit") is not None]
    out["io.table_cache_hit_frac"] = sum(known) / len(known) if known else 0.0
    for key, ops in (("", busy), ("idle_", idle)):
        if ops:
            out[f"spark.jobs_per_{key}tick"] = float(stats.median([o.counts["jobs"] for o in ops]))
    out["spark.stages_per_tick"] = float(stats.median([o.counts["stages"] for o in busy]))
    out["spark.tasks_per_tick"] = float(stats.median([o.counts["tasks"] for o in busy]))
    # the first tick carries one-time costs (sink creation); leave it out
    t_on = stats.median([o.seconds for o in busy[1:] if o.traced])
    t_off = stats.median([o.seconds for o in busy[1:] if not o.traced])
    out["trace.overhead_s"] = t_on - t_off
    out["trace.overhead_frac"] = (t_on - t_off) / t_off if t_off else 0.0
    out["trace.untraced_s"] = t_off
    # every layer's self time in a traced tick; the tick's own self time
    # (run_once around poll_table) is what the layers do not account for
    out["trace.layers_sum_s"] = float(stats.median([
        sum(st for s, st in by_op.get(op.group, []) if s["name"] != "tick")
        for op in traced
    ]))


def _analytics_layers(ctx: Ctx, out: dict, by_op: dict) -> None:
    queries = [o for o in ctx.ops if o.kind == "query"]
    traced = [o for o in queries if o.traced]
    build: dict[str, list[float]] = {}
    exe: dict[str, list[float]] = {}
    for op in traced:
        for s, _ in by_op.get(op.group, []):
            d = s["end"] - s["start"]
            if s["name"] == "plans.build":
                build.setdefault(op.name, []).append(d)
            elif s["name"] == "plans.exec":
                exe.setdefault(op.name, []).append(d)
    out["plans.build_s"] = sum(stats.median(v) for v in build.values())
    out["plans.exec_s"] = sum(stats.median(v) for v in exe.values())
    jobs: dict[str, list[int]] = {}
    for op in queries:
        jobs.setdefault(op.name, []).append(op.counts.get("jobs", 0))
    out["plans.jobs"] = float(sum(stats.median(v) for v in jobs.values()))
    on = per_query_medians(ctx.ops, "query", traced=True)
    off = per_query_medians(ctx.ops, "query", traced=False)
    for q, v in on.items():
        out[f"plans.{q}_s"] = v
    t_on, t_off = sum(on.values()), sum(off.values())
    out["trace.overhead_s"] = t_on - t_off
    out["trace.overhead_frac"] = (t_on - t_off) / t_off if t_off else 0.0
    out["trace.untraced_s"] = t_off
    out["trace.layers_sum_s"] = out["plans.build_s"] + out["plans.exec_s"]
