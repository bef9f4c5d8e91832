"""Benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload jdbc_500 --seed 1 --seconds 5 --trace 0

It builds nothing: the package is imported from the checkout it runs in.
Generated tables are cached under ``.perfbench/`` in that checkout; each
run works in its own directory there and removes it when done.  With
``--trace 0`` the last line of standard output carries the end-to-end
metrics, with ``--trace 1`` the per-layer metrics (and the spans are
written to ``.perfbench/traces/``).  The line before it reports every
metric by name, with units, including the wall-clock ones that are not
gated.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import sys
import tempfile
import time
import traceback

import metrics
import workloads


def rss_peak_mb(pid: int | str) -> float:
    """High-water resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "fluent_plugin_sql_spark", "pipeline.py")):
        print(
            "perfbench: fluent_plugin_sql_spark/ not found; run from the "
            "repository root",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    logging.basicConfig(level=logging.WARNING, stream=sys.stderr)
    work = os.path.join(root, ".perfbench")
    os.makedirs(work, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=work)
    # collected timestamps come back in the process time zone; the DuckDB
    # oracles compare them as UTC
    os.environ["TZ"] = "UTC"
    time.tzset()
    # local[nproc], a modest heap, and Spark's scratch space inside the run
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # keep temporary files (PySpark's gateway handshake, the JVM's) in the run
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # the JVM inherits this as its working directory: derby.log and any
    # warehouse directory land in the run directory
    os.chdir(run_dir)

    from fluent_plugin_sql_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no /tmp/hsperfdata entry; JVM temp files under the run directory;
        # JIT compiler threads that never exit (the CPU metrics leave their
        # time out, which needs each of them alive)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if args.trace:
        # keep every job and stage of the run for span attribution
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})

    ctx = workloads.Ctx(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        run_dir=run_dir,
        data_root=os.path.join(work, "data"),
        new_session=lambda: get_spark("perfbench", extra_conf=conf),
    )
    t0 = time.perf_counter()
    try:
        workloads.WORKLOADS[args.workload](ctx)
        ctx.op_counts()
        ctx.cpu_sample()  # resolves the JVM's pid
        peak = rss_peak_mb(ctx.jvm_pid) + rss_peak_mb("self")
    except Exception:  # noqa: BLE001 — any error means no result
        traceback.print_exc()
        return 1
    finally:
        os.chdir(root)
        stop_spark(ctx)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = metrics.failure_counts(ctx)
    e2e, report = metrics.end_to_end(ctx, peak)
    report["run_s"] = (time.perf_counter() - t0, "s")
    report["checks"] = ctx.checks
    report["setup_samples"] = ctx.setup
    if args.trace:
        layer = metrics.per_layer(ctx, peak)
        out = {k: {"value": v, "unit": metrics.PER_LAYER_UNITS[k]} for k, v in layer.items()}
        write_spans(work, args, ctx)
    else:
        out = {k: {"value": v, "unit": metrics.END_TO_END_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "report": {
        k: v if isinstance(v, dict) else {"value": v[0], "unit": v[1]}
        for k, v in report.items()
    }}))
    print(json.dumps({
        "correct": failed == 0 and all(ctx.checks.values()),
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0


def write_spans(work: str, args: argparse.Namespace, ctx: workloads.Ctx) -> None:
    path = os.path.join(work, "traces")
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump({
            "ops": [vars(o) for o in ctx.ops],
            "spans": ctx.tracer.spans if ctx.tracer else [],
        }, f)


def stop_spark(ctx: workloads.Ctx) -> None:
    """Stop the session, then shut the JVM down and wait for it to exit."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    ctx.spark.stop()
    ctx.spark = None
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


if __name__ == "__main__":
    sys.exit(main())
