"""Benchmark of the package's public functions on seeded workloads.

    python3 perfbench/run.py --workload walmart --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. One run is one Python process on
``local[2]``: it writes the workload's seeded inputs under
``.perfbench_work/``, starts the session, sets the workload up
``SETUP_REPEATS`` times (a new SparkContext and its first job over the
inputs), does the workload's unmeasured warm-up (the work its
operations start from, then warm-up operations), then runs operations
in a closed loop until ``--seconds`` have passed, checks every output,
stops the JVM and prints one JSON line last.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
protocol with Spark's event log on (uncompressed, non-rolling) and prints
the per-layer metrics parsed from it, using the job group the benchmark
sets around each stage of each operation. README.md defines every metric
and the layer it belongs to.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import re
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import eventlog  # noqa: E402
from workloads import WORKLOADS, Op  # noqa: E402

from dbda_big_data_walmart_stores_analysis_prediction_spark import get_spark  # noqa: E402

SETUP_REPEATS = 4
# Two task slots on a 4-vCPU machine leave room for the driver, the JIT
# and the garbage collector: with four, a host that takes CPU from the VM
# stalls every thread an operation waits on.
CORES = 2
ERROR_LINE = re.compile(r"^\S+ \S+ ERROR ")


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The machine's CPU time by state (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


@contextlib.contextmanager
def captured_stderr(path: str):
    """Send fd 2 (ours and the JVM's, which inherits it) to ``path``;
    replay it to the real stderr afterwards."""
    saved = os.dup(2)
    with open(path, "w") as f:
        os.dup2(f.fileno(), 2)
    try:
        yield
    finally:
        sys.stderr.flush()
        os.dup2(saved, 2)
        os.close(saved)
        with open(path, errors="replace") as f:
            shutil.copyfileobj(f, sys.stderr)


class Session:
    """The run's SparkSession: started once in a fresh JVM, then restarted
    (a new SparkContext in the same JVM) for each set-up repeat and for
    the final read-back check. ``conf`` goes to every context."""

    def __init__(self, work: str, conf: dict[str, str]):
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            **conf,
        }
        self.spark = None

    def start(self):
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES, extra_conf=self.conf,
        )
        return self.spark

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the context and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        self.spark = None


def tail(values: list[float]) -> tuple[float, str]:
    """The median of the slowest quarter of ``values`` (at least one), and
    its label. A run holds too few operations for a percentile with ten
    samples beyond it to lie above the median."""
    k = math.ceil(len(values) / 4)
    return statistics.median(sorted(values)[-k:]), f"median of the slowest {k} of {len(values)}"


def report(op: Op) -> None:
    if op.end is not None:
        stages = " ".join(f"{k}={v:.3f}" for k, v in op.times.items())
        print(f"op {op.index}: {op.latency_s:.3f} s cpu={op.cpu_s:.2f} {stages}", flush=True)


def run_loop(workload, spark, first: int, seconds: float, min_ops: int) -> list:
    """Closed loop in whole rounds of ``workload.round_ops`` operations,
    until ``seconds`` have passed and at least ``min_ops`` ran, so every
    run holds the same mix of operation kinds, but never past operation
    ``workload.max_ops``. Returns (op, problems) pairs; an operation that
    raises counts as failed."""
    ops, t0 = [], time.perf_counter()
    while first + len(ops) != workload.max_ops and (
        len(ops) < min_ops
        or len(ops) % workload.round_ops
        or time.perf_counter() - t0 < seconds
    ):
        spark.catalog.clearCache()
        op = Op(spark, first + len(ops))
        try:
            found = workload.op(spark, op)
        except Exception as e:  # a failed operation is a result, not a crash
            found = [f"op {op.index} raised {type(e).__name__}: {e}"]
        ops.append((op, found))
        report(op)
    return ops


def finished(ops: list) -> list[Op]:
    """The operations that ran to the end of their last stage."""
    return [op for op, _ in ops if op.end is not None and "output_bytes" in op.stats]


def end_to_end(workload, setup: list[float], ops: list) -> dict:
    """name -> (value, unit, how it was taken)."""
    done = finished(ops)
    cpu = [op.cpu_s for op in done]
    tail_s, label = tail(cpu)
    return {
        "setup_s": (statistics.median(setup), "s", f"median of {len(setup)} set-ups"),
        "op_cpu_s": (statistics.median(cpu), "s", f"median of {len(done)} operations"),
        "op_tail_cpu_s": (tail_s, "s", f"{label} operations"),
        "write_amp": (workload.write_amp(done), "ratio", "bytes written per input byte"),
    }


def per_layer(log: eventlog.Log, ops: list) -> dict:
    """Means over the timed operations of each per-operation number."""
    rows = []
    for op in finished(ops):
        row = eventlog.op_metrics(log, op.groups, op.latency_s)
        s = op.stats
        row["plans.build_s"] = s.get("build_s", 0.0)
        row["sources.output_mb"] = s.get("output_bytes", 0) / 1e6
        row["sources.files_written"] = s.get("files_written", 0)
        row["operators.maintenance.commit_s"] = op.times.get("commit", 0.0)
        row["operators.maintenance.files_live"] = s.get("files_live", 0)
        row["operators.maintenance.space_amp"] = s.get("space_amp", 0.0)
        rows.append(row)
    return {k: statistics.fmean(r[k] for r in rows) for k in rows[0]}


UNITS = {"_s": "s", "_mb": "MB", "_rows": "count", "jobs": "count", "stages": "count",
         "tasks": "count", "_lines": "count", "_written": "count", "_live": "count"}


def unit(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "ratio")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # -XX:-UsePerfData: the JVM would write /tmp/hsperfdata_<user> whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    stderr_log = os.path.join(work, "stderr.log")
    try:
        with captured_stderr(stderr_log):
            result = measure(args, work)
        with open(stderr_log, errors="replace") as f:
            error_lines = sum(1 for line in f if ERROR_LINE.match(line))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(work))
    metrics = result["metrics"]
    if args.trace:
        metrics["session.error_lines"] = (error_lines, "count", "Spark ERROR lines on stderr")
    for k, (v, u, how) in sorted(metrics.items()):
        print(f"{k:34s} {v:14.4f} {u:6s} {how}")
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u, _) in sorted(metrics.items())}
    print(json.dumps(result), flush=True)
    return 0


def measure(args, work: str) -> dict:
    workload = WORKLOADS[args.workload](work, args.seed)
    say = lambda *a: print(*a, flush=True)  # noqa: E731
    t = time.perf_counter()
    say("inputs", json.dumps(workload.generate()), f"gen_s={time.perf_counter() - t:.3f}")

    events = os.path.join(work, "events")
    session = Session(work, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": events,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    } if args.trace else {})
    try:
        session.start().range(1).count()
        start_s = process_age_s()
        setup, setup_problems = [], []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            setup_problems += workload.prepare(session.start())
            setup.append(time.perf_counter() - t)
        say(f"session.start_s={start_s:.3f} setup_s=" + ",".join(f"{x:.3f}" for x in setup))
        spark = session.spark

        t = time.perf_counter()
        workload.warm(spark)
        warm = run_loop(workload, spark, 0, 0, workload.warmup_ops)
        warmup_s = time.perf_counter() - t
        before = cpu_ticks()
        ops = run_loop(workload, spark, workload.warmup_ops, args.seconds, workload.min_ops)
        ticks = [b - a for a, b in zip(before, cpu_ticks())]
        # CPU time the host took from this VM while the timed loop ran: a
        # run with a large share reads slow whatever the program does.
        say(f"host_steal_share={ticks[7] / sum(ticks):.4f}")
        say(f"op_wall_p50_s={statistics.median(op.latency_s for op in finished(ops)):.4f}")
        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(session.jvm_pid)
        app_id = spark.sparkContext.applicationId
        t = time.perf_counter()
        checked = workload.check(session.start())
        say(f"check_s={time.perf_counter() - t:.3f}")
    finally:
        session.shutdown()
    say(f"run_s={process_age_s():.3f}")

    # A failed check fails the first operation, whose outputs it reads;
    # so does a failed set-up, which it starts from.
    done = warm + ops
    done[0][1].extend(setup_problems + checked)
    problems = [p for _, found in done for p in found]
    for p in problems:
        say("problem:", p)
    result = {
        "correct": not problems,
        "attempted": len(done),
        "failed": sum(1 for _, found in done if found),
    }
    if not args.trace:
        return dict(result, metrics=end_to_end(workload, setup, ops))
    metrics = {
        k: (v, unit(k), f"mean of {len(ops)} traced operations")
        for k, v in per_layer(eventlog.parse(os.path.join(events, app_id)), ops).items()
    }
    metrics["session.start_s"] = (start_s, "s", "process start to first job")
    metrics["session.warmup_s"] = (warmup_s, "s", f"warm-up work and {workload.warmup_ops} operations")
    metrics["plans.walmart_etl_s"] = (getattr(workload, "etl_s", 0.0), "s", "the ETL in the warm-up")
    metrics["session.peak_rss_mb"] = (rss_mb, "MB", "VmHWM of driver plus JVM after the timed loop")
    metrics["trace.op_p50_s"] = (
        statistics.median(op.latency_s for op in finished(ops)), "s", f"median wall time of {len(ops)} traced operations",
    )
    metrics["trace.op_cpu_s"] = (
        statistics.median(op.cpu_s for op in finished(ops)), "s", f"median CPU time of {len(ops)} traced operations",
    )
    return dict(result, metrics=metrics)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
