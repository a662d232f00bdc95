"""Genomics-engine benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One process, one closed-loop client, one
Spark session on ``local[nproc / 2]``.  Set-up writes the workload's seeded
inputs with the engine's sinks and runs the workload's warm-up
operations; the run then repeats the workload's operation for ``--seconds`` (at least
``MIN_OPS`` times), checks every result, and prints one JSON line:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  Workloads, metrics and the predictions linking them are
described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metric -> unit (``--trace 0``)
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_p50_ms": "ms",
    "krec_s": "krec/s",
    "out_bytes_per_rec": "B/rec",
}
#: per-layer metric -> unit (``--trace 1``).  A layer a workload does not
#: exercise reads 0.
PER_LAYER = {
    "formats.bam_vec.iter_body_batches_mb_s": "MB/s",
    "formats.bam_vec.decode_span_krec_s": "krec/s",
    "formats.vcf_vec.parse_vcf_chunk_krec_s": "krec/s",
    "formats.vcf_vec.parse_vcf_chunk_fallbacks": "count",
    "formats.bam_venc.encode_batch_krec_s": "krec/s",
    "formats.bgzf.compress_block_mb_s": "MB/s",
    "formats.bai.read_bai_ms": "ms",
    "formats.tabix.read_tabix_ms": "ms",
    "sources.bam_source.plan_ms": "ms",
    "sources.bam_source.partitions": "count",
    "sources.bam_source.planned_bytes_frac": "ratio",
    "sources.vcf_source.plan_ms": "ms",
    "sources.vcf_source.partitions": "count",
    "sources.vcf_source.planned_bytes_frac": "ratio",
    "operators.interval_coverage.build_s": "s",
    "operators.interval_coverage.build_jobs": "count",
    "operators.interval_coverage.exec_s": "s",
    "spark.jobs": "count/op",
    "spark.stages": "count/op",
    "spark.tasks": "count/op",
    "spark.executor_run_s": "s/op",
    "spark.executor_cpu_s": "s/op",
    "spark.gc_s": "s/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.shuffle_read_bytes": "B/op",
    "spark.spill_bytes": "B/op",
    "spark.peak_exec_mem_bytes": "B",
    "spark.task_skew": "ratio",
    "sinks.write_bam_s": "s",
    "sinks.write_bam.job_s": "s",
    "sinks.write_bam.driver_s": "s",
    "session.get_spark_s": "s",
    "process.tree_cpu_s": "s/op",
    "bench.ops": "count",
    "bench.op_p75_ms": "ms",
    "trace.overhead_frac": "ratio",
}
#: span name -> the per-layer metric holding its median duration
SPAN_METRICS = {
    "operators.interval_coverage.build": "operators.interval_coverage.build_s",
    "operators.interval_coverage.exec": "operators.interval_coverage.exec_s",
    "sinks.write_bam": "sinks.write_bam_s",
}
#: fewest measured operations per run, however long each takes
MIN_OPS = 3
#: a run stops starting operations after this many seconds of measuring
MAX_MEASURE_S = 90


class PeakRss:
    """Peak resident set of this process and all its descendants (driver,
    JVM, Python workers), sampled from /proc while an operation runs.
    ``begin``/``end`` bracket one operation and ``end`` returns its peak.
    The benchmark's own checks (DuckDB, readback) run between operations
    and stay out of it."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self._cur = 0
        self._window = 0  # bumped by begin(): a sample only counts in its own window
        self._lock = threading.Lock()
        self._active = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", "rb") as fh:
                    rest = fh.read().rsplit(b")", 1)[-1].split()
            except OSError:
                continue
            parent[int(entry)] = int(rest[1])
        tree = {os.getpid()}
        grew = True
        while grew:
            kids = {p for p, pp in parent.items() if pp in tree} - tree
            tree |= kids
            grew = bool(kids)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm", "rb") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _sample(self) -> None:
        window = self._window
        rss = self._tree_rss()
        with self._lock:
            if window == self._window:
                self._cur = max(self._cur, rss)

    def _loop(self):
        while not self._stop.is_set():
            if self._active.is_set():
                self._sample()
            self._stop.wait(self.interval)

    def begin(self) -> None:
        with self._lock:
            self._window += 1
            self._cur = 0
        self._sample()
        self._active.set()

    def end(self) -> int:
        self._active.clear()
        self._sample()
        with self._lock:
            return self._cur

    def start(self):
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use a tiny one)")
    return ap.parse_args(argv)


def setup_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work`` and
    let Spark's Python workers import the engine from the repository."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # session.py defaults to 32g, more than a small machine has; the
    # inputs need far less, and the heap is pre-touched (start_spark)
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    # Spark task slots on half the CPUs: the JVM's own threads, the driver
    # and the Python workers beside each task then never wait for a CPU,
    # and the run measures the engine rather than the scheduler
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(max(1, len(os.sched_getaffinity(0)) // 2)))


def start_spark(work: str, traced: bool):
    import tracing

    from hadoop_bam_spark.session import get_spark
    from hadoop_bam_spark.sources import register_all

    # a fixed, pre-touched heap: otherwise the JVM's resident size follows
    # the collector's heap-sizing decisions, which differ by hundreds of
    # MB from one run of the same work to the next
    heap = os.environ["SPARK_DRIVER_MEM"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Xms{heap} -XX:+AlwaysPreTouch",
    }
    if traced:
        conf.update(tracing.event_log_conf(os.path.join(work, "events")))
    spark = get_spark("perfbench", extra_conf=conf)
    register_all(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args, work: str, rss: PeakRss) -> dict:
    import tracing
    import workloads

    from bench import tree_cpu_monotone

    wl = workloads.WORKLOADS[args.workload]()
    traced = bool(args.trace)
    t0 = time.perf_counter()
    spark = start_spark(work, traced)
    try:
        session_s = time.perf_counter() - t0
        tracer = tracing.Tracer(spark)
        ctx = workloads.Ctx(spark, work, args.seed, args.scale, tracer)
        wl.build(ctx)
        build_s = time.perf_counter() - t0
        wl.expect(ctx)
        attempted = failed = 0
        times: list[float] = []
        records: list[int] = []
        is_traced: list[bool] = []
        cpu_s: list[float] = []
        peaks: list[int] = []
        done: list = []  # (op index, result), checked after measuring

        def one(i: int, measured: bool, with_trace: bool) -> float:
            nonlocal attempted, failed
            attempted += 1
            tracer.enabled = with_trace
            # the CPU monitor samples /proc from a thread: traced runs only
            cpu0 = tree_cpu_monotone() if traced else 0.0
            rss.begin()
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    result, nrec = wl.op(ctx, i)
            except Exception:  # a failed op is counted, and the loop goes on
                tracer.enabled = False
                failed += 1
                traceback.print_exc()
                return time.perf_counter() - t
            finally:
                peak = rss.end()
            dt = time.perf_counter() - t
            cpu = tree_cpu_monotone() - cpu0 if traced else 0.0
            tracer.enabled = False
            if measured:
                times.append(dt)
                records.append(nrec)
                is_traced.append(with_trace)
                cpu_s.append(cpu)
                peaks.append(peak)
            done.append((i, result))
            if with_trace:
                wl.plan_replay(ctx, i)
            return dt

        warm_s = sum(one(i, measured=False, with_trace=False)
                     for i in range(wl.warmup))
        setup_s = build_s + warm_s
        print(f"perfbench: session {session_s:.2f} s, inputs "
              f"{build_s - session_s:.2f} s, warm-up {warm_s:.2f} s", file=sys.stderr)
        start = time.perf_counter()
        i = wl.warmup
        while True:
            elapsed = time.perf_counter() - start
            measured = i - wl.warmup
            if elapsed >= MAX_MEASURE_S or (
                    elapsed >= args.seconds and measured >= MIN_OPS
                    and measured % wl.cycle == 0):
                break
            # the traced run alternates traced and untraced operations so
            # the tracing overhead is measured inside one session
            one(i, measured=True, with_trace=traced and i % 2 == 1)
            i += 1
        for i, result in done:
            try:
                problems = wl.check(ctx, i, result)
            except Exception as e:  # a check that cannot run is a failed op
                traceback.print_exc()
                problems = [repr(e)]
            if problems:
                failed += 1
                print(f"{wl.name} op {i} failed its check: {problems}",
                      file=sys.stderr)
            wl.cleanup(ctx, i)
        if not times:
            raise RuntimeError("no operation completed")
        print("perfbench: op seconds " + " ".join(f"{t:.3f}" for t in times),
              file=sys.stderr)
        metrics = {
            "setup_s": setup_s,
            "peak_rss_mb": statistics.median(peaks) / 1e6,
            "op_p50_ms": statistics.median(times) * 1e3,
            "krec_s": sum(records) / sum(times) / 1e3,
            "out_bytes_per_rec": wl.out_bytes_per_rec(ctx),
        }
        if traced:
            layer = traced_layers(wl, ctx, times, is_traced, cpu_s, session_s)
    finally:
        stop_spark(spark)
    if traced:
        layer.update(event_log_layers(ctx, work, is_traced))
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.write(os.path.join(
            ROOT, ".perfbench_out", f"spans-{wl.name}-{args.seed}.json"))
        metrics = layer
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def traced_layers(wl, ctx, times, is_traced, cpu_s, session_s) -> dict:
    out = {name: 0.0 for name in PER_LAYER}
    for name, vals in ctx.layer.items():
        out[name] = statistics.median(vals)
    out.update(wl.replay())
    on = [t for t, tr in zip(times, is_traced) if tr]
    off = [t for t, tr in zip(times, is_traced) if not tr]
    if on and off:
        out["trace.overhead_frac"] = statistics.median(on) / statistics.median(off) - 1
    out["session.get_spark_s"] = session_s
    out["process.tree_cpu_s"] = statistics.median(cpu_s)
    out["bench.ops"] = float(len(times))
    out["bench.op_p75_ms"] = statistics.quantiles(times, n=4)[2] * 1e3
    for span, metric in SPAN_METRICS.items():
        durs = ctx.tracer.durations(span)
        if durs:
            out[metric] = statistics.median(durs)
    return out


def event_log_layers(ctx, work, is_traced) -> dict:
    """Numbers read back from Spark's event log, which is complete only
    after the session stopped."""
    import tracing

    log = tracing.read_event_log(os.path.join(work, "events"))
    tracer = ctx.tracer
    groups = {tracer.group(sid) for sid in range(len(tracer.spans))}
    out = tracing.spark_metrics(log, groups, sum(is_traced))
    by_group: dict[str, list] = {}
    for j in log[0].values():
        by_group.setdefault(j.group, []).append(j)
    build_jobs, job_s, driver_s = [], [], []
    for sid, span in enumerate(tracer.spans):
        mine = by_group.get(tracer.group(sid), [])
        if span.name == "operators.interval_coverage.build":
            build_jobs.append(len(mine))
        elif span.name == "sinks.write_bam":
            js = tracing.job_seconds(mine)
            job_s.append(js)
            driver_s.append(span.end - span.start - js)
    if build_jobs:
        out["operators.interval_coverage.build_jobs"] = statistics.median(build_jobs)
    if job_s:
        out["sinks.write_bam.job_s"] = statistics.median(job_s)
        out["sinks.write_bam.driver_s"] = statistics.median(driver_s)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in ("hadoop_bam_spark/__init__.py", "bench.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    setup_env(work)
    rss = PeakRss()
    rss.start()
    try:
        result = run(args, work, rss)
    finally:
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": float(result["metrics"][k]), "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
