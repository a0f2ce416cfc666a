#!/usr/bin/env python3
"""KG-build benchmark: one workload per process, timed after a fixed warm-up.

    python3 perfbench/run.py --workload crawl_build --seed 1 --seconds 30 --trace 0

Set-up (timed as ``setup_s``) starts the Spark session, writes the
seeded corpus, prepares the workload's starting state and runs a
fixed number of untimed warm-up ops. The window ``--seconds`` is then
turned into a fixed number of timed ops, ``ceil(seconds / op_s)`` with
the workload's nominal op time ``op_s``: the JIT is still improving
after the warm-up, so every run times the same ops of that curve
rather than as many as happen to fit. Each op starts from the same
state (reset outside the timer) and is checked after the timer stops.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` times half
the ops untraced and half traced (at least one each), then runs the
lazy-operator staircase, and prints the per-layer metrics. The last
line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.

Everything the run writes (corpus, stage tables, checkpoints, Spark
local dirs, JVM temp files) lives under ``perfbench/_work/`` and is
removed on exit. Exits non-zero without a result if the program
sources are missing.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def drift_ratio(times: list[float]) -> float:
    """Median of the second half of the timed ops over the median of the
    first half; 1.0 means no trend (an odd middle op is left out)."""
    h = len(times) // 2
    if h == 0:
        return 1.0
    return statistics.median(times[-h:]) / statistics.median(times[:h])


def _status_kb(pid: int, field: str) -> int:
    """A ``/proc/<pid>/status`` memory field in kB (0 once the process
    has ended)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssPeak:
    """Peak resident memory of the Spark JVM (its ``VmHWM``) plus the
    largest total RSS its Python workers held at once (sampled after
    every op; workers are reused, so they are alive between ops)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.workers_kb = 0

    def sample(self) -> None:
        now = sum(_status_kb(p, "VmRSS") for p in _descendants(self.jvm_pid))
        self.workers_kb = max(self.workers_kb, now)

    @property
    def mb(self) -> float:
        return (_status_kb(self.jvm_pid, "VmHWM") + self.workers_kb) / 1024.0


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and size the
    session to the cores this process may use (the program's own
    ``SPARK_GRAFT_CPUS`` convention)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(work)


class Run:
    def __init__(self, wl, spark, rss: RssPeak):
        self.wl = wl
        self.spark = spark
        self.rss = rss
        self.attempted = 0
        self.failed = 0

    def warm_up(self) -> None:
        """One untimed, unchecked op; raises if the op does."""
        self.wl.reset()
        self.wl.op()

    def one_op(self, tracer=None, op_id: int = 0):
        """Reset, run and check one op -> (seconds, OpTrace | None), or
        None if it raised or its check failed."""
        self.wl.reset()
        self.attempted += 1
        trace = None
        try:
            if tracer is not None:
                tracer.begin_op(op_id)
            t0 = time.perf_counter()
            out = self.wl.op()
            dt = time.perf_counter() - t0
            if tracer is not None:
                trace = tracer.end_op()
                dt = trace.op_s
            ok = self.wl.check(out)
        except Exception as e:  # an op that raises is a failed op
            print(f"op {self.attempted} raised: {e!r}", file=sys.stderr)
            ok = False
        self.rss.sample()
        if not ok:
            self.failed += 1
            return None
        return dt, trace

    def timed(self, n_ops: int, tracer=None) -> tuple[list[float], list]:
        times, traces = [], []
        for i in range(n_ops):
            r = self.one_op(tracer, i)
            if r is not None:
                times.append(r[0])
                traces.append(r[1])
        return times, traces


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _metric(name: str, value: float, unit: str) -> tuple[str, dict]:
    return name, {"value": value, "unit": unit}


def _per_layer(run: Run, times: list[float], traces: list, base_times: list[float]) -> dict:
    import spans

    m = spans.median_metrics([spans.op_layer_metrics(t) for t in traces])
    lazy = {f"{layer}.{f}": 0.0 for layer in spans.LAZY_LAYERS
            for f in spans.LAYER_FIELDS + ["self_s"]}
    steps = run.wl.staircase_steps()
    if steps:
        lazy.update(spans.staircase(run.spark, steps))
    m.update(lazy)
    m["op.trace_overhead_s"] = statistics.median(times) - statistics.median(base_times)
    m["op.drift_ratio"] = drift_ratio(base_times)
    m["op.samples"] = float(len(times))
    return dict(_metric(name, float(m[name]), spans.metric_unit(name))
                for name in spans.layer_metric_names())


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [REPO, HERE]
    try:
        from multiomics_biocypher_kg_spark.session import build_session
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    t_setup = time.perf_counter()
    _prepare_env(work)
    spark = None
    try:
        spark = build_session(app_name=f"perfbench-{args.workload}",
                              master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
        rss = RssPeak(spark.sparkContext._gateway.proc.pid)
        _log(f"session up {time.perf_counter() - t_setup:.2f} s")
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed)
        wl.setup()
        _log(f"workload state ready {time.perf_counter() - t_setup:.2f} s")
        run = Run(wl, spark, rss)
        for _ in range(wl.warmup):
            t0 = time.perf_counter()
            run.warm_up()
            _log(f"warm-up op {time.perf_counter() - t0:.2f} s")
        wl.after_warmup()
        setup_s = time.perf_counter() - t_setup
        n_ops = max(1, math.ceil(args.seconds / wl.op_s))

        if args.trace:
            import spans

            base_times, _ = run.timed(math.ceil(n_ops / 2))
            tracer = spans.Tracer(spark)
            with spans.installed(tracer):
                times, traces = run.timed(math.ceil(n_ops / 2), tracer)
            if not times:
                raise RuntimeError("no traced op passed its check")
            metrics = _per_layer(run, times, traces, base_times)
        else:
            times, _ = run.timed(n_ops)
            if not times:
                raise RuntimeError("no timed op passed its check")
            p50 = statistics.median(times)
            metrics = dict([
                _metric("setup_s", setup_s, "s"),
                _metric("op_p50_s", p50, "s"),
                _metric("triples_per_s", wl.work_rows / p50, "1/s"),
                _metric("op_ok_ratio", (run.attempted - run.failed) / run.attempted, "ratio"),
                _metric("peak_rss_mb", rss.mb, "MB"),
            ])
        _log(f"{args.workload}: {len(times)} timed ops, {run.failed} failed, python "
             f"workers {rss.workers_kb / 1024:.0f} MB, peak {rss.mb:.0f} MB")
        _log(f"op times {json.dumps([round(t, 3) for t in times])}")
        result = {
            "correct": run.failed == 0 and bool(times),
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            _stop(spark)
        os.chdir(REPO)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _stop(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in workers):
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
