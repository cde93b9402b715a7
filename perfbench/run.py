"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_jobs --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout.  It builds inputs from ``--seed``,
starts one Spark session on ``local[<cores>]``, sets up, measures for
``--seconds`` seconds with one closed-loop client, checks every output
against the generators' ground truth and prints, as its last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` measures half the time untraced and half traced, reports
the per-layer metrics of BENCHMARK.json and writes every span with its
Spark metrics to ``.bench_work/results/``.

The line before the result holds the details: host load and calibration,
sample counts, the set-up breakdown and latencies the metrics summarise.
A wrong answer sets ``correct`` to false and the exit code to 1.
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
PACKAGE = "buildkite_logs_parquet_spark"
DRIVER_MEMORY = "2g"
#: how often the memory sampler reads Spark's memory manager
MEMORY_SAMPLE_S = 0.01


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _calibration_ms() -> float:
    """A fixed pure-Python loop: slow readings flag a busy host."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return (time.perf_counter() - t0) * 1e3


def _hwm_mb(pid: int | str) -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


#: the tracer reads jobs and queries back from the status store
TRACE_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


class MemorySampler:
    """Peak heap memory that Spark holds for data: persisted blocks plus
    the memory manager's execution buffers (sorts, aggregations, joins).

    The heap itself is pinned and pre-touched, so RSS cannot show a change
    that keeps more data on the heap; this can.  Broadcast blocks are left
    out: the driver keeps each query's copy until a garbage collection
    lets the context cleaner drop it, so they pile up by GC timing.  A
    thread samples every ``MEMORY_SAMPLE_S`` seconds; ``take_peak``
    returns the peak since the last call.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._mm = spark._jvm.org.apache.spark.SparkEnv.get().memoryManager()
        self._peak = 0
        self._lock = threading.Lock()
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(MEMORY_SAMPLE_S):
            used = self._mm.executionMemoryUsed() + sum(
                rdd.memSize() for rdd in self._sc.getRDDStorageInfo()
            )
            with self._lock:
                self._peak = max(self._peak, used)
            self.samples += 1

    def take_peak(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _session(work: str, cores: int, trace: bool):
    from buildkite_logs_parquet_spark import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.ui.showConsoleProgress": "false",
            # the heap starts at its maximum, every page touched: with a
            # growing heap, when G1 expands it depends on timing, and the
            # peak RSS of one input varied by 20% between runs.  Heap use
            # is measured by MemorySampler instead.  Keep session.py's
            # code-cache size; keep the JVM's temp files in the work
            # directory.
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:ReservedCodeCacheSize=512m "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            **(TRACE_CONF if trace else {}),
        },
    )


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    def __init__(self, spark, workload, tracer):
        self.spark = spark
        self.w = workload
        self.tr = tracer
        self.mem: MemorySampler | None = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _op(self, i: int):
        self.spark.catalog.clearCache()
        if not self.tr.enabled:
            self.spark.sparkContext.setJobGroup(f"perfbench-op-{i}", self.w.name)
        self.attempted += 1
        try:
            return self.w.op(i)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None

    def warmup(self) -> float:
        """Run the workload's warm-up operations; returns their wall time."""
        t = time.perf_counter()
        try:
            self.attempted += len(self.w.warmup())
        except Exception:
            self.attempted += 1
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
        return time.perf_counter() - t

    def measure(self, seconds: float, first: int):
        ops = []
        i = first
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            if self.mem is not None:
                self.mem.take_peak()
            op = self._op(i)
            if op is not None:
                if self.mem is not None:
                    op.mem_peak_bytes = self.mem.take_peak()
                ops.append(op)
            i += 1
        return ops, time.perf_counter() - t0, i

    def verify(self) -> None:
        try:
            self.errors += self.w.verify()
        except Exception:
            self.errors.append(traceback.format_exc(limit=3))


def _carry(spark, cls, work: str, seed: int, cores: int, parent: Runner):
    """Trace one operation of a workload whose layers ride on this one's
    traced run: set-up and cold warm-up untraced, then one traced
    operation, checked like the workload's own.  Returns the workload and
    its tracer."""
    from tracing import Tracer

    tracer = Tracer(spark, enabled=False)
    w = cls(spark, work, seed, tracer, cores)
    r = Runner(spark, w, tracer)
    w.prepare()
    w.ground_truth()
    r.warmup()
    r.verify()
    tracer.enabled = True
    r._op(0)
    tracer.enabled = False
    r.verify()
    tracer.finish()
    parent.attempted += r.attempted
    parent.failed += r.failed
    parent.errors += r.errors
    return w, tracer


def _latency_summary(ops) -> dict:
    job = [o.seconds * 1e3 for o in ops if not o.lake]
    lake = [o.seconds * 1e3 for o in ops if o.lake]
    out = {
        "n_ops": len(ops),
        "n_primary": len(job),
        "n_lake": len(lake),
        "ms": [round(o.seconds * 1e3, 1) for o in ops],
    }
    if job:
        out["p50_ms"] = statistics.median(job)
        if len(job) >= 100:  # at least ten samples beyond the p90
            out["p90_ms"] = statistics.quantiles(job, n=10)[-1]
    if lake:
        out["lake_p50_ms"] = statistics.median(lake)
    kinds = sorted({o.kind for o in ops})
    if len(kinds) > 1:
        out["per_op_p50_ms"] = {
            k: statistics.median([o.seconds * 1e3 for o in ops if o.kind == k]) for k in kinds
        }
    return out


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: no {PACKAGE}/ package next to {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    results = os.path.join(work_root, "results")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    # everything Spark and Python write goes under the work directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # the spark-submit launcher JVM, too, keeps its temp files here
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    sys.path[:0] = [ROOT, HERE]

    import buildkite_logs_parquet_spark as pkg

    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"error: {PACKAGE} imported from {pkg.__file__}, not {ROOT}", file=sys.stderr)
        return 2
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    host = {"cores": cores, "loadavg_start": os.getloadavg(), "calibration_ms": _calibration_ms()}

    t0 = time.perf_counter()
    spark = _session(work, cores, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=False)
        w = WORKLOADS[args.workload](spark, work, args.seed, tracer, cores)
        r = Runner(spark, w, tracer)
        prepare_s = []
        for _ in range(w.SETUP_REPEATS):
            t = time.perf_counter()
            w.prepare()
            prepare_s.append(time.perf_counter() - t)
        w.ground_truth()
        # checked after measuring, with the measured operations: every
        # request, or the output of the last ingest or curation pass
        warmup_s = r.warmup()
        setup_s = session_s + statistics.median(prepare_s) + warmup_s

        if args.trace:
            ops, wall, nxt = r.measure(args.seconds / 2, 0)
            r.verify()
            tracer.enabled = True
            tops, twall, _ = r.measure(args.seconds / 2, nxt)
            tracer.enabled = False
            r.verify()
            tracer.finish()
            carried = [_carry(spark, WORKLOADS[name], work, args.seed, cores, r) for name in w.CARRIES]
        else:
            with MemorySampler(spark) as r.mem:
                ops, wall, _ = r.measure(args.seconds, 0)
            r.verify()

        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "host": host,
            "setup": {"session_s": session_s, "prepare_s": prepare_s, "warmup_s": warmup_s},
            "untraced": _latency_summary(ops),
            "measured_s": wall,
        }
        values = {}
        if not ops or (args.trace and not tops):
            r.errors.append("no operation completed")
        elif not args.trace:
            values = w.end_to_end(ops)
            values["out_bytes_per_in_byte"] = w.out_bytes_per_in_byte()
            values["setup_s"] = setup_s
            values["peak_rss_mb"] = _hwm_mb(
                spark._jvm.java.lang.ProcessHandle.current().pid()
            ) + _hwm_mb("self")
            # short aggregations fall between samples; the run's peak
            # catches each kind of request at least once
            values["spark_mem_peak_mb"] = max(o.mem_peak_bytes for o in ops) / 2**20
            detail["memory_samples"] = r.mem.samples
            detail["untraced"]["mem_peak_mb"] = [round(o.mem_peak_bytes / 2**20, 1) for o in ops]
            wanted = spec["end_to_end"]
        else:
            values = w.layer_metrics()
            traced = _latency_summary(tops)
            detail["traced"] = traced
            values["trace.overhead_frac"] = (
                w.end_to_end(tops)["latency_ms"] / w.end_to_end(ops)["latency_ms"] - 1
            )
            for cw, ctr in carried:
                values.update(
                    (k, v) for k, v in cw.layer_metrics().items() if not k.startswith("spark.")
                )
                detail.setdefault("carried_spans", {})[cw.name] = ctr.span_dicts()
            wanted = spec["per_layer"]
            detail["layer_metrics"] = values
            trace_path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace.json")
            tracer.dump(trace_path, detail)
            detail.pop("carried_spans", None)
            detail["trace_file"] = os.path.relpath(trace_path, ROOT)
    finally:
        host["loadavg_end"] = os.getloadavg()
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    if values:
        for m in wanted:
            if m["name"] not in values and not args.trace:
                r.errors.append(f"metric {m['name']} was not measured")
                continue
            metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    correct = not r.errors and r.failed == 0
    detail["errors"] = [e[:2000] for e in r.errors[:5]]
    print(json.dumps(detail))
    print(
        json.dumps(
            {"correct": correct, "attempted": r.attempted, "failed": r.failed, "metrics": metrics}
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
