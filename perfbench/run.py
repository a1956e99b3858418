"""Benchmark entry point.

    python3 perfbench/run.py --workload search_serve --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  Builds a Spark session at
``local[nproc]``, makes the workload's inputs from ``--seed``, sets it
up, warms it up until its per-op latency has settled, then runs the
closed loop for ``--seconds`` and checks the outputs.  Everything
before the timed window is ``setup_s``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The
line before it is a JSON detail record: sample counts, per-op-type
percentiles, set-up breakdown, peak memory and run provenance.  With
``--trace 1`` the spans are written to ``.perfbench_out/`` in the
checkout.

All scratch state lives under ``.perfbench_work/`` in the checkout and
is removed at exit; the Spark JVM is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _isolate(work: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    the checkout."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM the launch starts: no /tmp/hsperfdata_* files
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def _spark_conf(work: str) -> dict[str, str]:
    """Scratch locations only; memory and every other setting are the
    program's own defaults."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def _host_calibration_ms() -> float:
    """Wall time of a fixed pure-Python loop: a reading of how fast the
    host is running, for the provenance record only."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i & 7
    return (time.perf_counter() - t) * 1000.0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (PySpark's JVM exits
    on EOF) and wait for the process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Run:
    """The op loop of one run: warm-up, timed window, and the extra
    traced ops of a traced run, with their latencies and counts."""

    def __init__(self, wl, tracer) -> None:
        from perfbench.stats import OpLatencies

        self.wl = wl
        self.tr = tracer
        self.lat = OpLatencies()
        self.traced_primary: list[float] = []
        self.untraced_primary: list[float] = []
        self.warm: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.items = 0
        self.next_op = 0

    def _one(self, traced: bool):
        """Run the next op; returns (kind, items, ok, ms)."""
        from perfbench.trace import Tracer

        i = self.next_op
        self.next_op += 1
        tr = self.tr if traced else Tracer(None, False)
        if traced:
            # per-layer probes of the op's layers, outside its span and
            # its latency
            self.wl.aside(i, tr)
        t0 = time.perf_counter()
        try:
            with tr.span("op", i) as span:
                kind, items, ok = self.wl.op(i, tr)
                if span is not None:
                    span.attrs["kind"] = kind
        except Exception as exc:  # an op that raises is a failed op
            print(f"op {i} failed: {exc!r}", file=sys.stderr)
            return "error", 0, False, (time.perf_counter() - t0) * 1000.0
        ms = (time.perf_counter() - t0) * 1000.0
        if traced:
            self.tr.flush_counts()
        return kind, items, ok, ms

    def warm_up(self, window: int, tol: float, budget_s: float) -> None:
        """Untimed primary ops until their latency has settled: the
        median of the last ``window`` is no more than ``tol`` below the
        median of the ``window`` before them.  Stops early only if the
        time budget is spent.  Ops of other kinds are skipped, never
        run: the workload's set-up has warmed their path."""
        from perfbench.stats import median

        t0 = time.perf_counter()
        while time.perf_counter() - t0 < budget_s:
            if self.wl.kind_at(self.next_op) != self.wl.primary:
                self.next_op += 1
                continue
            kind, _items, ok, ms = self._one(False)
            self.attempted += 1
            self.failed += not ok
            if kind != self.wl.primary:  # an op that raised
                continue
            self.warm.append(ms)
            if len(self.warm) >= 2 * window and median(self.warm[-window:]) >= (1 - tol) * median(
                self.warm[-2 * window : -window]
            ):
                break
        # the window starts at the start of a cycle; the ops skipped to
        # get there are never run
        self.next_op += -self.next_op % self.wl.cycle

    def timed(self, seconds: float) -> float:
        """The measured closed loop, in whole cycles of op kinds, for at
        least ``seconds``; with tracing on, every odd-numbered op is
        traced, so traced and untraced latencies share one run."""
        t0 = time.perf_counter()
        start = self.next_op
        while (self.next_op - start) % self.wl.cycle or time.perf_counter() - t0 < seconds:
            traced = self.tr.enabled and self.next_op % 2 == 1
            kind, items, ok, ms = self._one(traced)
            self.attempted += 1
            self.failed += not ok
            if kind == "error":
                continue
            self.lat.add(kind, ms)
            if kind == self.wl.primary:
                self.items += items
                (self.traced_primary if traced else self.untraced_primary).append(ms)
        return time.perf_counter() - t0

    def trace_missing_kinds(self) -> None:
        """After the window of a traced run: run, traced, the next op of
        each kind the window did not trace (say, a write that fell on an
        untraced position), so every layer gets spans."""
        seen = {s.attrs.get("kind") for s in self.tr.named("op")}
        for kind in self.wl.kinds:
            if kind in seen:
                continue
            # the ops skipped to get there are never run
            while self.wl.kind_at(self.next_op) != kind:
                self.next_op += 1
            _kind, _items, ok, _ms = self._one(True)
            self.attempted += 1
            self.failed += not ok

    def trace_layers(self) -> None:
        """After the window of a traced run: the workload's per-layer
        ops, which split an op into its layers' calls, each materialised
        in its own span; they are kept apart from the window's ops."""
        for _ in range(self.wl.layer_ops):
            ok = self.wl.layer_op(self.next_op, self.tr)
            self.next_op += 1
            self.tr.flush_counts()
            self.attempted += 1
            self.failed += not ok


def main() -> int:
    args = _parse()
    sys.path.insert(0, ROOT)
    # measure the program in this checkout; without it, exit non-zero
    # and print no result
    import cloud_native_reddit_data_pipeline_spark as program

    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"the program under test is not in {ROOT}: {program.__file__}")

    from perfbench.stats import TooFewSamples, median, percentile
    from perfbench.trace import SparkCounters, Tracer, vm_hwm_kb
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    calib_start = _host_calibration_ms()
    steal_start, ticks_start = _cpu_ticks()

    from cloud_native_reddit_data_pipeline_spark.session import build_session

    t = time.perf_counter()
    spark = build_session("perfbench", cpus=nproc, extra_conf=_spark_conf(work))
    session_build_s = time.perf_counter() - t
    wl = None
    try:
        counters = SparkCounters(spark)
        tracer = Tracer(counters, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        t = time.perf_counter()
        wl.prepare(tracer)
        tracer.flush_counts()
        prepare_s = time.perf_counter() - t
        run = Run(wl, tracer)
        t = time.perf_counter()
        run.warm_up(wl.warm_window, wl.warm_tol, wl.warm_budget_s)
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START

        gc0 = counters.gc_ms()
        window_s = run.timed(args.seconds)
        gc_ms = counters.gc_ms() - gc0
        if tracer.enabled:
            run.trace_missing_kinds()
            run.trace_layers()

        t = time.perf_counter()
        checks, mismatches = wl.check()
        check_s = time.perf_counter() - t
        run.attempted += checks
        run.failed += mismatches
        jvm_hwm_mb = vm_hwm_kb(counters.jvm_pid()) / 1024.0
        driver_maxrss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

        primary = run.lat.samples(wl.primary)
        steal_end, ticks_end = _cpu_ticks()
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "provenance": {
                "nproc": nproc,
                "loadavg_start_1_15": [load_start[0], load_start[2]],
                "loadavg_end_1_15": [os.getloadavg()[0], os.getloadavg()[2]],
                # a slower loop or a larger steal share marks a noisy host
                "host_calibration_ms_start_end": [calib_start, _host_calibration_ms()],
                "cpu_steal_share": (steal_end - steal_start) / max(1, ticks_end - ticks_start),
                "spark_version": spark.version,
                "java_version": counters.java_version(),
                "python_version": sys.version.split()[0],
            },
            "setup": {
                "session_build_s": session_build_s,
                "prepare_s": prepare_s,
                "warmup_s": warm_s,
                "warmup_primary_ops": len(run.warm),
                "warmup_primary_ms": run.warm,
            },
            "window_s": window_s,
            # detail only, not a bounded metric: with the program's own
            # heap settings the JVM's peak follows when the collector
            # chose to grow its heap, and its run-to-run spread is wider
            # than any bound the benchmark may fix
            "peak_rss_mb": jvm_hwm_mb + driver_maxrss_mb,
            "peak_rss_parts_mb": {"jvm_vmhwm": jvm_hwm_mb, "driver_ru_maxrss": driver_maxrss_mb},
            "ops": run.lat.summary(),
            "ops_attempted": run.attempted,
            "ops_failed": run.failed,
            "checks": checks,
            "check_failures": mismatches,
            "check_s": check_s,
            "primary_ms": primary,
            # the first samples after warm-up against the rest of the window
            "first3_over_rest_p50": (
                median(primary[:3]) / median(primary[3:]) if len(primary) >= 6 else None
            ),
        }
        if args.workload == "search_serve":
            writes = [k for k in ("append", "delete") if run.lat.count(k)]
            detail["write_p50_ms"] = {k: median(run.lat.samples(k)) for k in writes}
        try:
            detail["latency_p90_ms"] = percentile(primary, 90)
        except TooFewSamples:
            detail["latency_p90_ms"] = None

        if not args.trace:
            metrics = {
                "latency_p50_ms": (median(primary), "ms"),
                # primary-op items over the whole window, interleaved
                # writes included, so a slower write path lowers it
                "throughput_per_s": (run.items / window_s, "1/s"),
                "setup_s": (setup_s, "s"),
            }
            detail["samples"] = {"latency_p50_ms": len(primary), "throughput_per_s": run.items}
        else:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
            metrics = _layer_metrics(run, tracer, wl, session_build_s, gc_ms)
            detail["untraced_primary_ms"] = run.untraced_primary
            detail["traced_primary_ms"] = run.traced_primary
        print(json.dumps(detail, sort_keys=True))
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if wl is not None:
            wl.close()
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


def _layer_metrics(run: Run, tracer, wl, session_build_s: float, gc_ms: int) -> dict:
    """Every per-layer metric; a layer the workload never calls reads 0."""
    from perfbench.stats import fewest, median
    from perfbench.workloads import LAYER_METRICS

    ops = [s for s in tracer.named("op") if s.attrs.get("kind") == wl.primary]
    med = lambda xs: median(xs) if xs else 0.0  # noqa: E731
    overhead = (
        med(run.traced_primary) - med(run.untraced_primary)
        if run.traced_primary and run.untraced_primary
        else 0.0
    )
    metrics = {name: (0.0, unit) for name, unit in LAYER_METRICS}
    metrics.update(
        {
            "spark.jobs_per_op": (fewest([s.jobs for s in ops]), "count"),
            "spark.tasks_per_op": (fewest([s.tasks for s in ops]), "count"),
            "spark.failed_tasks": (
                sum(s.failed_tasks for s in tracer.spans if s.parent is None),
                "count",
            ),
            "jvm.gc_ms": (gc_ms, "ms"),
            "session.build_s": (session_build_s, "s"),
            "trace.overhead_ms": (overhead, "ms"),
        }
    )
    metrics.update(wl.layer_metrics(tracer))
    unknown = set(metrics) - {name for name, _ in LAYER_METRICS}
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from LAYER_METRICS: {sorted(unknown)}")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
