"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload etl_daily_batches --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run starts a ``local[nproc]``
Spark session, builds the workload's inputs from ``--seed`` (set-up,
repeated ``setup_repeats`` times and reported in CPU seconds as the
median plus the one-time session start and warm-up), then drives the
workload as a closed loop with one client for ``--seconds`` and at
least its gated operations, runs the workload's once-per-run pass when
tracing, checks every output against the generator's planted truth,
and prints one JSON line last:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (Spark UI on, a job group per layer call, spans written
to ``.perfbench_out/``). Exits non-zero when any check fails.

Everything the run writes stays under the checkout: inputs, tables and
Spark's scratch space in ``.perfbench_work/`` (removed at exit), span
files and result records in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(workdir: str, trace: bool):
    from pyspark.sql import SparkSession

    from sqltask_spark.session import DEFAULT_CONF

    cores = len(os.sched_getaffinity(0))
    conf = {
        **DEFAULT_CONF,
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.local.dir": f"{workdir}/spark-local",
        "spark.sql.warehouse.dir": f"{workdir}/warehouse",
        "spark.driver.extraJavaOptions": f"-XX:TieredStopAtLevel=1 -Djava.io.tmpdir={workdir}/tmp -Dderby.system.home={workdir}/tmp",
    }
    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) of this
    process and every descendant: the Spark JVM and its Python
    workers. Unlike wall time, this does not grow when the host's
    hypervisor steals the CPUs."""
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += stats[pid][1]
        stack.extend(children[pid])
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the Spark JVM plus this process."""
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return (hwm(jvm_pid) + hwm("self")) / 1024.0


def run(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "sqltask_spark", "__init__.py")):
        print(f"perfbench: no sqltask_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    outdir = os.path.join(ROOT, ".perfbench_out")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(workdir, d), exist_ok=True)
    os.makedirs(outdir, exist_ok=True)
    # Python workers import the package from the checkout, and every
    # temp file (pyspark's, the package's tempfile use) lands inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(workdir, bool(args.trace))
        # CPU since this process started: interpreter, imports, JVM start
        session = (time.perf_counter() - t0, tree_cpu_s())
        return measure(args, spark, workdir, outdir, session)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)


def timed(fn) -> tuple[float, float]:
    """(wall seconds, CPU seconds) of ``fn()``."""
    w, c = time.perf_counter(), tree_cpu_s()
    fn()
    return time.perf_counter() - w, tree_cpu_s() - c


def measure(args, spark, workdir: str, outdir: str, session: tuple[float, float]) -> int:
    from perfbench import report
    from perfbench.gen import digest
    from perfbench.trace import ONCE, Tracer, check_nesting
    from perfbench.workloads import WORKLOADS, persisted_rdds

    tracer = Tracer(spark, args.workload, enabled=False)
    setups = []
    for k in range(WORKLOADS[args.workload].setup_repeats):
        wl = WORKLOADS[args.workload](spark, args.seed, tracer)
        setups.append(timed(lambda: wl.setup(os.path.join(workdir, f"setup{k}"))))
    warm = timed(wl.warmup)
    tracer.enabled = bool(args.trace)
    # (wall, CPU) of session start + warm-up + the median set-up
    setup = [session[i] + warm[i] + statistics.median(x[i] for x in setups) for i in (0, 1)]

    steps: list[list] = []
    step_cpu: list[float] = []
    raised = 0
    t0 = time.perf_counter()
    deadline = t0 + args.seconds
    # the window, and at least the gated operations however slow the host
    while time.perf_counter() < deadline or len(steps) < wl.gated_steps:
        tracer.op_id = len(steps)
        # a result a previous operation left cached must not serve this one
        spark.catalog.clearCache()
        c0 = tree_cpu_s()
        try:
            ops = wl.step()
            step_cpu.append(tree_cpu_s() - c0)
        except Exception:
            traceback.print_exc()
            raised = 1
            break
        tracer.count("session.persisted_rdds_after", persisted_rdds(spark))
        steps.append(ops)
    loop_s = time.perf_counter() - t0
    once = (0.0, 0.0)
    if args.trace:
        # layers too slow for every run; after the loop, so that the
        # loop runs as in an untraced run
        tracer.op_id = ONCE
        try:
            once = timed(lambda: wl.once(os.path.join(workdir, "once")))
        except Exception:
            traceback.print_exc()
            raised += 1
    tracer.enabled = False
    ops = [o for step in steps for o in step]

    if steps:
        out = wl.verify()
        checks = wl.check(out)
        extras = wl.layer_extras(out)
    else:
        checks, extras = {"ran_an_operation": False}, {}
    if args.trace:
        checks["trace.spans_nest"] = not check_nesting(tracer.spans)
    extras["peak_rss_mb"] = peak_rss_mb(spark)
    extras["setup_wall_s"] = setup[0]
    # the same operations in every run: how many more fit the window
    # depends on the host's speed, and later ones run warmer
    gated = step_cpu[: wl.gated_steps]
    e2e = {"setup_s": setup[1], "op_cpu_s.p50": statistics.median(gated) if gated else 0.0}
    wall = report.op_stats(ops, loop_s)
    # an operation that raised ended the loop (or the once-per-run
    # pass); every other operation's outcome is judged by the checks
    attempted = len(ops) + raised + len(checks)
    failed = raised + sum(not ok for ok in checks.values())
    correct = failed == 0

    record = os.path.join(outdir, f"{args.workload}-seed{args.seed}")
    if args.trace:
        tracer.collect_jobs()
        stages = tracer.stage_metrics()
        metrics = report.per_layer(tracer, stages, ops, loop_s, extras)
        tracer.dump(record + "-spans.json")
        units = {k: u for k, (u, _) in report.PER_LAYER.items()}
    else:
        metrics = e2e
        units = {k: u for k, (u, _, _) in report.END_TO_END.items()}
        with open(record + "-untraced.json", "w") as f:
            json.dump({**e2e, **wall}, f)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"steps {len(steps)}  loop {loop_s:.2f} s  inputs sha256 {digest(*wl.inputs.frames())[:16]}")
    for i, kind in enumerate(("wall", "CPU")):
        print(f"set-up {kind}: session {session[i]:.2f} s, warm-up {warm[i]:.2f} s, "
              f"inputs and state {' / '.join(f'{x[i]:.2f}' for x in setups)} s")
    if args.trace:
        print(f"once-per-run pass: wall {once[0]:.2f} s, CPU {once[1]:.2f} s")
    print("per-step wall s:", " ".join(f"{sum(o.seconds for o in st):.2f}" for st in steps))
    print("per-step CPU s: ", " ".join(f"{c:.2f}" for c in step_cpu))
    for name, ok in checks.items():
        print(f"check {name:32s} {'ok' if ok else 'FAILED'}")
    print_named(args.workload, e2e, ops, extras, wall, attempted, failed)
    if args.trace:
        base = record + "-untraced.json"
        if os.path.exists(base):
            with open(base) as f:
                plain = json.load(f)
            for k, traced in (("op_cpu_s.p50", e2e["op_cpu_s.p50"]), ("op_s.p50", wall["op_s.p50"])):
                print(f"tracing overhead on {k}: {traced / plain[k] - 1:+.1%} "
                      f"(traced {traced:.4f} s, untraced {plain[k]:.4f} s, same seed)")
        print_layer_table(metrics)
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(result))
    return 0 if correct else 1


def print_named(workload, e2e, ops, extras, wall, attempted, failed) -> None:
    """The workload's figures under their own names, timings with the
    sample count and the tail percentile."""
    from perfbench.report import tail

    def timing(label, kinds):
        xs = [o.seconds for o in ops if o.kind in kinds]
        if xs:
            tv, pct = tail(xs)
            print(f"{label + '.p50':28s} {statistics.median(xs):10.4f} s    "
                  f"{label}.p{pct} {tv:.4f} s    n={len(xs)}")

    print(f"{'setup_s':28s} {e2e['setup_s']:10.4f} s (CPU; wall {extras['setup_wall_s']:.4f} s)")
    print(f"{'op_cpu_s.p50':28s} {e2e['op_cpu_s.p50']:10.4f} s")
    print(f"{'error_rate':28s} {failed / attempted:10.4f}      ({failed}/{attempted})")
    print(f"{'peak_rss_mb':28s} {extras['peak_rss_mb']:10.1f} MB")
    if workload == "etl_daily_batches":
        timing("batch_s", {"batch"})
    else:
        timing("epoch_s", {"epoch"})
        timing("read_s", {"read"})
        print(f"{'bytes_per_live_byte':28s} {extras.get('bytes_per_live_byte', 0):10.4f}")
    print(f"{'rows_per_s':28s} {wall['rows_per_s']:10.1f} rows/s")


def print_layer_table(metrics: dict) -> None:
    from perfbench.report import PER_LAYER

    print("per-layer (median per operation unless noted):")
    for k, v in metrics.items():
        if v:
            print(f"  {k:70s} {v:14.4f} {PER_LAYER[k][0]}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
