#!/usr/bin/env python3
"""Benchmark of the ETL engine: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The workload's inputs are generated from
``--seed``; operations run in a closed loop for ``--seconds`` seconds (at least
one); every operation's output is checked.
Human-readable lines come first; the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). Spans of a traced run are written to
``.perfbench/traces/``. The exit code is 0 only when every check passed.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Flags that switch the engine to the shared-stage paths of ``bench.py``.
SHARED_FLAG_PREFIX = "SPARK_GRAFT_SHARED_"
TELEGRAM_VARS = ("TELEGRAM_TOKEN", "TELEGRAM_CHAT_ID")
#: Engine parallelism: ``local[N]`` with N = min(nproc, MAX_CORES). The
#: engine's work at the benchmark's scale is bound by the driver, and two
#: task threads leave cores for it, the JIT compiler and the collector.
MAX_CORES = 2


def refuse_environment() -> str | None:
    """The benchmark runs the cold path and sends no report anywhere."""
    flags = sorted(k for k in os.environ if k.startswith(SHARED_FLAG_PREFIX))
    if flags:
        return f"shared-stage flags set: {flags}; the benchmark measures the cold path"
    creds = [k for k in TELEGRAM_VARS if os.environ.get(k)]
    if creds:
        return f"{creds} set; unset them so the report is not sent"
    return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def summary(name: str, values: list[float], unit: str) -> str:
    """Median with sample count; p90 only when ten samples lie beyond it."""
    line = f"{name:16s} median {median(values):.4f} {unit} (n={len(values)})"
    if len(values) >= 100:
        line += f", p90 {statistics.quantiles(values, n=10)[-1]:.4f} {unit}"
    return line


def heap_pools(jvm) -> list:
    management = jvm.java.lang.management
    return [
        p for p in management.ManagementFactory.getMemoryPoolMXBeans()
        if p.getType() == management.MemoryType.HEAP
    ]


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    refusal = refuse_environment()
    if refusal:
        print(f"perfbench: {refusal}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "python_sql_etl_project_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2

    # everything the run writes stays under the checkout and is removed
    out_dir = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(out_dir, f"run-{os.getpid()}")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # the JVMs' perf-counter files would otherwise go to /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
    )
    sys.path[:0] = [ROOT, HERE]
    try:
        return run(args, out_dir, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(args, out_dir: str, tmp: str) -> int:
    from probe import Tracer
    import metrics
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    from python_sql_etl_project_spark import registry
    from python_sql_etl_project_spark.session import build_spark

    cores = min(os.cpu_count() or 1, MAX_CORES)
    t0 = time.perf_counter()
    spark = build_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
            # a fixed, pre-touched heap: the collector's sizing does not
            # vary from run to run
            "spark.driver.extraJavaOptions": f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
        },
    )
    registry.load_all()
    session_build_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    try:
        # spans are recorded only inside traced operations
        tracer = Tracer(spark, enabled=False)
        wl = workloads.WORKLOADS[args.workload](spark, tracer, tmp, args.seed)
        print(f"perfbench {wl.name} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace} master=local[{cores}]", flush=True)
        wl.setup()
        setup_s = session_build_s + sum(wl.setup_parts.values())
        t_verify = time.perf_counter()
        verify_problems = wl.verify()
        verify_s = time.perf_counter() - t_verify

        jvm_system = spark.sparkContext._jvm.java.lang.System
        pools = heap_pools(spark.sparkContext._jvm)

        def run_op(i: int, traced: bool) -> workloads.Op:
            jvm_system.gc()  # no operation inherits the previous one's garbage
            for p in pools:
                p.resetPeakUsage()
            tracer.op_id = i
            tracer.enabled = traced
            t_op = time.perf_counter()
            try:
                op = wl.op(i)
            except Exception:
                op = workloads.Op(time.perf_counter() - t_op, {}, True,
                                  [traceback.format_exc(limit=5)])
            tracer.enabled = False
            op.traced = traced
            op.heap_peak_mb = sum(p.getPeakUsage().getUsed() for p in pools) / 2**20
            return op

        # warm-up operations are checked and count as set-up, not in op_s
        warmup = [run_op(i, False) for i in range(wl.warmup_ops)]
        setup_s += sum(op.wall for op in warmup)
        # a traced run alternates untraced and traced operations, so it
        # measures its own overhead against the engine alone
        ops: list[workloads.Op] = []
        min_ops = 2 if args.trace else 1
        deadline = time.perf_counter() + args.seconds
        while len(ops) < min_ops or time.perf_counter() < deadline:
            i = wl.warmup_ops + len(ops)
            if wl.max_ops is not None and i >= wl.max_ops:
                break
            ops.append(run_op(i, bool(args.trace) and len(ops) % 2 == 1))
        rss = peak_rss_mb([os.getpid(), gateway.proc.pid])
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    problems = dict(verify_problems)
    for i, op in enumerate(warmup + ops):
        op.failed |= bool(verify_problems)  # every operation ran the failing code
        for j, p in enumerate(op.problems):
            problems[f"op {i}.{j}"] = p
    attempted = len(warmup) + len(ops)
    failed = sum(op.failed for op in warmup + ops)
    correct = not problems
    good = [op for op in ops if not op.failed]

    for k, v in sorted(problems.items()):
        print(f"CHECK FAILED {k}: {v}", file=sys.stderr)
    untraced = [op for op in good if not op.traced]
    for part in sorted({p for op in untraced for p in op.parts}):
        print(summary(part, [op.parts[part] for op in untraced], "s"))
    op_s = median([op.wall for op in untraced])
    print(summary("op_s", [op.wall for op in untraced], "s"))
    print(f"{'ops':16s} " + " ".join(f"({op.wall:.3f})" for op in warmup) + " "
          + " ".join(f"{op.wall:.3f}{'t' if op.traced else ''}" for op in ops) + " s")
    if verify_s > 0.01:
        print(f"{'verify_s':16s} {verify_s:.4f} s (oracle checks, untimed)")
    print(f"{'setup_s':16s} {setup_s:.4f} s (session.build_s {session_build_s:.4f}"
          + "".join(f", {k} {v:.4f}" for k, v in wl.setup_parts.items())
          + f", warmup_ops_s {sum(op.wall for op in warmup):.4f})")
    if wl.warehouse_mb:
        print(summary("warehouse_mb", wl.warehouse_mb, "MB"))
    print(f"{'peak_rss_mb':16s} {rss:.1f} MB")
    print(summary("heap_peak_mb", [op.heap_peak_mb for op in untraced], "MB"))
    print(f"{'failed_ratio':16s} {failed}/{attempted} = {failed / attempted:.4f}")
    print(f"{'correct':16s} {str(correct).lower()}")

    if args.trace:
        traced = [i for i, op in enumerate(ops) if op.traced and not op.failed]
        per_op = [metrics.layer_values(tracer.spans, wl.warmup_ops + i) for i in traced]
        values = {k: median([p[k] for p in per_op]) for k in metrics.PER_LAYER}
        values["session.build_s"] = session_build_s
        values["jvm.heap_peak_mb"] = median([ops[i].heap_peak_mb for i in traced])
        values["trace.op_s"] = median([ops[i].wall for i in traced])
        values["trace.untraced_op_s"] = median([op.wall for op in untraced])
        values["trace.op_diff_s"] = values["trace.op_s"] - values["trace.untraced_op_s"]
        print(f"{'trace.op_diff_s':16s} {values['trace.op_diff_s']:.4f} s (traced op"
              f" {values['trace.op_s']:.4f} s, untraced op {values['trace.untraced_op_s']:.4f} s)")
        units = metrics.PER_LAYER
        os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
        trace_path = os.path.join(out_dir, "traces", f"{wl.name}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump([s.as_json() for s in tracer.spans], f, indent=1)
        print(f"spans written to {os.path.relpath(trace_path, ROOT)}")
    else:
        values = {"op_s": op_s, "setup_s": setup_s, "peak_rss_mb": rss}
        units = metrics.END_TO_END
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
