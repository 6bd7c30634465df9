"""Run one benchmark workload of the eventstream-spark engine.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 20 --trace 0

Run from the repository root. The run makes its inputs, computes the
expected answers with duckdb, starts a session on every core of the host,
warms it up, then runs as many whole timed passes over the workload's
operations as ``--seconds`` asks for (at least two) and checks every output. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Everything the run writes lives in its own directory under
``.perfbench_run/`` and is removed at exit. See README.md.
"""

from __future__ import annotations

import time

_T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from typing import Any  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _process_age() -> float:
    """Seconds since this process started (0 where /proc is absent)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
    except (OSError, IndexError, ValueError):
        return 0.0
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


_AGE0 = _process_age()


@dataclass
class OpRecord:
    name: str
    t0: float  # call into the engine
    tm: float  # plan built
    t1: float  # result fetched
    t2: float  # cached intermediates released
    released: int
    out: Any
    rows: int = 0
    backlog: int = 0


@dataclass
class PassRecord:
    t0: float
    t1: float
    ops: list[OpRecord] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


def deployment(run_dir: str) -> dict[str, str]:
    """The only settings the benchmark chooses: cores, heap, temp and local
    dirs, and the workers' import path. Everything else is the engine's
    own default."""
    from perfbench.trace import cpus

    with open("/proc/meminfo") as f:
        mem_mb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1]) // 1024
    return {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4096, mem_mb // 4)}m",
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }


def run_pass(ops, tracer, want) -> PassRecord:
    from eventstream_spark.cache import release_cached

    from perfbench.workloads import WIRE_QUERY

    if tracer is not None:
        tracer.recording = True
    p = PassRecord(time.time(), 0.0)
    for op in ops:
        t0 = time.time()
        marks = []
        try:
            out = op.run(lambda: marks.append(time.time()))
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            out = None
        t1 = time.time()
        released = release_cached()
        t2 = time.time()
        p.ops.append(OpRecord(op.name, t0, marks[0] if marks else t1, t1, t2, released, out))
    p.t1 = time.time()
    if tracer is not None:
        tracer.recording = False
    for r in p.ops:
        if r.out is not None and r.name == WIRE_QUERY:
            r.backlog = want["published"] - r.out[1]
    return p


def check_pass(p: PassRecord, ops) -> int:
    """Operations of one pass that raised or whose output is wrong."""
    from perfbench.workloads import output_rows

    failed = 0
    for op, r in zip(ops, p.ops):
        if r.out is None:
            failed += 1
            continue
        problems = op.check(r.out)
        if problems:
            failed += 1
            print(f"{op.name}: " + "; ".join(problems), file=sys.stderr)
        r.rows = output_rows(op.name, r.out)
    return failed


def verdict(passes: list[PassRecord], ops) -> dict:
    """Checks every output of every pass. An operation that raised counts
    as failed just as a wrong output does, and any failure makes the run
    not correct: its time up to the exception is no result."""
    failed = sum(check_pass(p, ops) for p in passes)
    return {"correct": failed == 0, "attempted": len(ops) * len(passes), "failed": failed}


def measure(args, run_dir: str) -> dict:
    from perfbench import fixtures, trace
    from perfbench.workloads import WORKLOADS, build_ops, oracle_answers, route_stats, write_chunks

    import eventstream_spark

    if not os.path.abspath(eventstream_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"eventstream_spark is not this checkout's: {eventstream_spark.__file__}")
    wl = WORKLOADS[args.workload]
    t = time.monotonic()
    data_dir = os.path.join(run_dir, "data")
    fixtures.generate(data_dir, wl.scale)
    want = oracle_answers(wl, data_dir)
    chunks = write_chunks(data_dir, os.path.join(run_dir, "chunks"), wl.chunks, args.seed) if wl.chunks else []
    harness_s = time.monotonic() - t

    from eventstream_spark.session import get_spark

    t = time.monotonic()
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if args.trace:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=conf)
    gateway = spark.sparkContext._gateway
    start_s = time.monotonic() - t
    try:
        tracer = trace.Tracer(spark) if args.trace else None
        ops = build_ops(wl, spark, data_dir, os.path.join(run_dir, "work"), want, chunks)
        random.Random(args.seed).shuffle(ops)

        t = time.monotonic()
        for _ in range(wl.warm_passes):
            run_pass(ops, None, want)
        warmup_s = time.monotonic() - t
        setup_s = _AGE0 + (time.monotonic() - _T0) - harness_s

        steal0 = trace.read_steal_ticks()
        untraced: list[PassRecord] = []
        traced: list[PassRecord] = []
        # a traced run alternates untraced and traced passes, as many of each
        for i in range(wl.timed_passes(args.seconds) * (2 if args.trace else 1)):
            trace_this = tracer is not None and i % 2 == 1
            p = run_pass(ops, tracer if trace_this else None, want)
            (traced if trace_this else untraced).append(p)
        steal_s = (trace.read_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
        outcome = verdict(untraced + traced, ops)
        _report(untraced + traced, harness_s, start_s, warmup_s)

        if args.trace:
            tracer.settle()
            metrics = {
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "session.peak_rss_mb": trace.jvm_peak_rss_mb(spark),
                **tracer.metrics(traced, untraced, trace.cpus(), route_stats),
                "host.steal_s": steal_s,
                "host.cpus": trace.cpus(),
            }
            units = {k: unit for k, (unit, _) in trace.METRICS.items()}
        else:
            op_median = [
                statistics.median(p.ops[i].t1 - p.ops[i].t0 for p in untraced)
                for i in range(len(ops))
            ]
            metrics = {
                "setup_s": setup_s,
                "pass_s": statistics.median(p.wall for p in untraced),
                "op_geomean_s": math.exp(sum(math.log(x) for x in op_median) / len(op_median)),
            }
            units = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s"}
    finally:
        t = time.monotonic()
        spark.stop()
        _stop_jvm(gateway)
        print(f"stop {time.monotonic() - t:.2f}s  total {time.monotonic() - _T0:.2f}s", file=sys.stderr)
    return {
        **outcome,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _report(passes: list[PassRecord], harness_s: float, start_s: float, warmup_s: float) -> None:
    """Per-pass and per-operation timings, on stderr."""
    print(f"inputs+oracles {harness_s:.2f}s  session start {start_s:.2f}s  warm-up {warmup_s:.2f}s",
          file=sys.stderr)
    print("pass walls: " + " ".join(f"{p.wall:.2f}" for p in passes), file=sys.stderr)
    for i, r in enumerate(passes[0].ops):
        times = " ".join(f"{p.ops[i].t1 - p.ops[i].t0:.3f}" for p in passes)
        print(f"  {r.name:32s} {times}", file=sys.stderr)


def _stop_jvm(gateway) -> None:
    """End the driver JVM and wait for it: it exits when its stdin closes,
    and its Python workers exit with it."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="eventstream-spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    try:
        os.environ.update(deployment(run_dir))
        tempfile.tempdir = None  # re-read TMPDIR
        result = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still owns it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
