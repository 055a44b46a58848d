#!/usr/bin/env python3
"""Benchmark of the engine: the E1 bag pipeline and the headline queries.

    python3 perfbench/run.py --workload bag_backlog --seed 1 --seconds 20 --trace 0

Workloads (see e1.py and headline.py): ``bag_backlog``, ``bag_trickle``,
``headline_queries``. One process, one closed-loop client: the next tick
or query starts only after the previous one returns. The session is
``session.get_spark`` at ``local[N]``, N = the CPUs this process may use.

The run prints a human-readable report (every metric by name, unit and
sample count), then, as its last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
metrics are the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run, whose spans and status-store counts are also
written to ``.bench_work/traces/<workload>-<seed>.json``.

Everything the run writes stays under ``.bench_work/`` of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("bag_backlog", "bag_trickle", "headline_queries")

# (name, unit, better) — BENCHMARK.json lists the same metrics.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
)
PER_LAYER = (
    ("registry.import_s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("warmup_s", "s", "lower"),
    ("rosbag_format.messages_per_s", "1/s", "higher"),
    ("rosbag_format.frames_per_s", "1/s", "higher"),
    ("png.encode_mb_per_s", "MB/s", "higher"),
    ("png.decode_mb_per_s", "MB/s", "higher"),
    ("annotate.detect_frames_per_s", "1/s", "higher"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.stages_per_op", "count", "lower"),
    ("spark.tasks_per_op", "count", "lower"),
    ("spark.sql_executions_per_op", "count", "lower"),
    ("spark.executor_run_s_per_op", "s", "lower"),
    ("spark.input_bytes_per_op", "B", "lower"),
    ("spark.shuffle_write_bytes_per_op", "B", "lower"),
    ("spark.spill_bytes_per_op", "B", "lower"),
    ("trace.op_p50_s", "s", "lower"),
    ("trace.harvest_s", "s", "lower"),
)


def _isolate(work: str) -> None:
    """Environment the session and its Python workers need: the package
    importable on the workers (E1's ``mapInPandas`` imports it), ``local[N]``
    with N = usable CPUs, and every temporary file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # a 1 GB driver heap committed up front (-Xms = -Xmx): the JVM's
    # resident size then no longer depends on when the GC chose to grow it
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options '-Xms{heap} -Djava.io.tmpdir={tmp}' pyspark-shell"
    )


class Context:
    """Run state shared with the workload: session, tracer, op records."""

    def __init__(self, seed: int, work: str, traced: bool):
        from measure import Tracer

        self.seed = seed
        self.work = work
        self.tracer = Tracer(traced)
        self.spark = None
        self.acct = None
        self.latencies: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.failures: list[str] = []  # failed checks outside the timed ops
        self.spark_ops: list[dict] = []
        self.harvest_s = 0.0
        self.warmup_s = 0.0

    def record_op(self, wall: float, attempted: int, failed: int, errors: list[str]) -> None:
        self.latencies.append(wall)
        self.attempted += attempted
        self.failed += failed
        self.errors += errors

    def record_spark(self, acct: dict) -> None:
        self.spark_ops.append({
            **{k: v for k, v in acct.items() if k != "executions"},
            "sql_executions": len(acct["executions"]),
        })


def make_workload(name: str, ctx: Context, args):
    if name == "headline_queries":
        from headline import Headline

        only = args.queries.split(",") if args.queries else None
        return Headline(ctx, only=only, perturb_first=args.inject == "perturb-result")
    from e1 import Backlog, Trickle

    if name == "bag_backlog":
        return Backlog(ctx)
    return Trickle(ctx, corrupt_first=args.inject == "corrupt-bag")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    children = []
    try:
        for task in os.listdir(f"/proc/{proc.pid}/task"):
            with open(f"/proc/{proc.pid}/task/{task}/children") as f:
                children += [int(p) for p in f.read().split()]
    except OSError:
        pass
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _fmt(value) -> str:
    return f"{value:.6g}" if isinstance(value, float) else str(value)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", help="comma-separated subset (headline_queries only)")
    ap.add_argument("--inject", choices=("corrupt-bag", "perturb-result"),
                    help="self-test fault: a corrupt bag (bag_trickle) or a "
                         "perturbed result (headline_queries)")
    args = ap.parse_args(argv)

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from measure import SparkAccounting, median, percentile, vm_hwm_mb

    ctx = Context(args.seed, work, bool(args.trace))
    tracer = ctx.tracer

    with tracer.span("plans.registry.import", "setup"):
        t = time.perf_counter()
        from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.plans import (  # noqa: F401
            registry,
        )
        from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.session import (
            get_spark,
        )

        import_s = time.perf_counter() - t
    wl = make_workload(args.workload, ctx, args)
    t = time.perf_counter()
    inputs = wl.prepare()
    gen_s = time.perf_counter() - t

    with tracer.span("session.get_spark", "setup"):
        t = time.perf_counter()
        ctx.spark = get_spark("perfbench")
        session_s = time.perf_counter() - t
    try:
        ctx.spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            ctx.acct = SparkAccounting(ctx.spark)
        check_s = 0.0
        if hasattr(wl, "compute_oracle"):
            t = time.perf_counter()
            wl.compute_oracle()
            check_s = time.perf_counter() - t
        with tracer.span("warmup", "setup"):
            wl.warmup()
        setup_s = import_s + session_s + ctx.warmup_s

        t0 = time.perf_counter()
        while True:
            wl.op()
            if time.perf_counter() - t0 >= args.seconds and wl.can_stop():
                break
        measured_s = time.perf_counter() - t0

        layers: dict[str, float] = {}
        if args.trace:
            layers.update(wl.probes())
            layers.update(wl.layer_metrics())
        jvm_pid = ctx.spark.sparkContext._gateway.proc.pid
        rss = {"rss.jvm_mb": vm_hwm_mb(jvm_pid), "rss.driver_mb": vm_hwm_mb()}
        peak_rss_mb = sum(rss.values())
    finally:  # the JVM and its Python workers end with the run, whatever happens
        stop_spark(ctx.spark)

    lat = ctx.latencies
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": median(lat),
        "ops_per_s": ctx.attempted / sum(lat),
        "peak_rss_mb": peak_rss_mb,
    }
    report = {
        "gen_s": (gen_s, "s", 1),
        "check_setup_s": (check_s, "s", 1),
        "measured_s": (measured_s, "s", 1),
        "setup_s": (setup_s, "s", 1),
        "op_p50_s": (e2e["op_p50_s"], "s", len(lat)),
        "ops_per_s": (e2e["ops_per_s"], "1/s", len(lat)),
        "peak_rss_mb": (peak_rss_mb, "MB", 1),
        "error_rate": (ctx.failed / ctx.attempted, "ratio", ctx.attempted),
        **{k: (v, "MB", 1) for k, v in rss.items()},
        **wl.summary(),
    }
    p90 = percentile(lat, 0.9)
    if p90 is not None:
        report["op_p90_s"] = (p90, "s", len(lat))

    if args.trace:
        n = max(len(ctx.spark_ops), 1)
        for key in ("jobs", "stages", "tasks", "sql_executions", "executor_run_s",
                    "input_bytes", "shuffle_write_bytes", "spill_bytes"):
            layers[f"spark.{key}_per_op"] = sum(o[key] for o in ctx.spark_ops) / n
        layers.update({
            "registry.import_s": import_s, "session.start_s": session_s,
            "warmup_s": ctx.warmup_s, "trace.op_p50_s": median(lat),
            "trace.harvest_s": ctx.harvest_s, "trace.spans": len(tracer.spans),
        })
        trace_path = os.path.join(WORK_ROOT, "traces", f"{args.workload}-{args.seed}.json")
        tracer.write(trace_path, {"workload": args.workload, "seed": args.seed,
                                  "inputs": inputs, "layers": layers,
                                  "spark_ops": ctx.spark_ops})

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("inputs " + " ".join(f"{k}={v}" for k, v in inputs.items()))
    for name, (value, unit, n) in report.items():
        print(f"{name:36s} {_fmt(value):>14s} {unit:6s} n={n}")
    units = {n: u for n, u, _ in PER_LAYER}
    for name in sorted(layers):
        print(f"{name:36s} {_fmt(layers[name]):>14s} {units.get(name, ''):6s} (traced)")
    for err in (ctx.failures + ctx.errors)[:20]:
        print(f"FAILED {err}")
    for name in getattr(wl, "tolerated", []):
        print(f"TOLERATED {name}: matches its oracle only up to float rounding")

    if args.trace:
        metrics = {n: {"value": layers[n], "unit": u} for n, u, _ in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u, _ in END_TO_END}
    print(json.dumps({
        "correct": ctx.failed == 0 and not ctx.failures,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
