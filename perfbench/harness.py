"""One workload run: fresh Spark session, set-up, a cold pass, steady
passes for the requested time, then answer checks and metrics.

A workload object provides:

- ``generate()``: write its seeded inputs (before the session);
- ``setup()``: the program's work before the first timed operation,
  returning its seconds;
- ``run_pass(index)``: one pass over its operations, each timed through
  ``Run.op``;
- ``check()``: compare every recorded answer with its oracle, returning
  the number of wrong answers;
- ``ingest_rows``: rows appended by one ``append`` operation;
- ``stored_bytes()`` and ``input_bytes()``;
- ``layer_metrics(spans, counts)``: per-layer figures of the traced run
  from the spans and counter increments of the steady passes.
"""

from __future__ import annotations

import os
import resource
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

from tracing import Tracer

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "ops_per_s": "1/s",
    "ingest_rows_per_s": "rows/s",
    "stored_bytes_ratio": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "prepare.s": "s",
    "prepare.tasks": "count",
    "prepare.files_written": "count",
    "prepare.bytes_written": "bytes",
    "refresh.s_per_batch": "s",
    "refresh.tasks_per_batch": "count",
    "refresh.bytes_rewritten_per_batch": "bytes",
    "catalog.table_ms": "ms",
    "compiler.compile_ms": "ms",
    "router.route_ms": "ms",
    "router.refuse_ms": "ms",
    "router.hit_ratio": "ratio",
    "router.adhoc_hit_ratio": "ratio",
    "router.rollup_rows_read": "rows",
    "router.invalidate_ms": "ms",
    "runner.overhead_ms": "ms",
    "exec.collect_ms": "ms",
    "exec.jobs_per_op": "count",
    "exec.tasks_per_op": "count",
    "exec.files_read_per_op": "count",
    "exec.scan_bytes_per_op": "bytes",
    "exec.shuffle_bytes_per_op": "bytes",
    "exec.spill_bytes_per_op": "bytes",
    "spark.persisted_rdds_growth": "count",
    "dedup.minhash_s": "s",
    "dedup.pairs_out": "count",
    "dedup.cc_s": "s",
    "incremental.ingest_s": "s",
    "similarity.build_s": "s",
    "similarity.probe_ms": "ms",
    "similarity.recall_at_k": "ratio",
    "textindex.build_s": "s",
    "textindex.probe_ms": "ms",
    "trace.attributed_ratio": "ratio",
    "trace.op_p50_ms": "ms",
}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def dir_bytes(path: str, newer_than: float | None = None) -> tuple[int, int]:
    """(files, bytes) under ``path``; data files only (no ``_``/``.``
    side files), optionally only those modified after ``newer_than``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(root, n))
            if newer_than is None or st.st_mtime >= newer_than:
                files += 1
                size += st.st_size
    return files, size


def start_session(work: str):
    """Fresh local Spark session whose scratch space all lies in
    ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from query_planner_optimizer_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MB."""
    proc = spark.sparkContext._gateway.proc
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — never leave the JVM behind
        proc.kill()
        proc.wait(timeout=30)


class Run:
    """State shared by the harness and one workload."""

    def __init__(self, work: str, seed: int, size: dict, tracer: Tracer):
        self.work = work
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.spark = None
        #: (pass index, kind, seconds, error or None) per operation
        self.ops: list[tuple[int, str, float, str | None]] = []
        self.pass_index = 0

    @contextmanager
    def op(self, kind: str):
        """Time one operation; an exception is recorded as a failure
        and does not stop the run."""
        self.tracer.jobs_since_mark()
        t0 = time.perf_counter()
        err = None
        try:
            yield
        except Exception as e:  # noqa: BLE001 — per-operation isolation
            err = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        seconds = time.perf_counter() - t0
        jobs, tasks = self.tracer.jobs_since_mark()
        self.tracer.count("exec.jobs", jobs)
        self.tracer.count("exec.tasks", tasks)
        self.ops.append((self.pass_index, kind, seconds, err))


def run_workload(workload_cls, work: str, seed: int, seconds: float,
                 trace: bool, size: dict, inject_wrong: bool = False) -> dict:
    tracer = Tracer(trace)
    run = Run(work, seed, size, tracer)
    wl = workload_cls(run)
    wl.generate()

    t0 = time.perf_counter()
    run.spark = start_session(work)
    session_s = time.perf_counter() - t0
    tracer.attach(run.spark)
    try:
        setup_s = wl.setup()

        t0 = time.perf_counter()
        wl.run_pass(0)
        cold_pass_s = time.perf_counter() - t0

        persisted0 = run.spark.sparkContext._jsc.getPersistentRDDs().size()
        counts0 = dict(tracer.counts)
        steady_start = time.perf_counter()
        run.pass_index = 1
        last = 0.0
        # Whole passes keep the operation mix fixed. At least one runs;
        # another starts only if, as long as the last one, it would end
        # within ``seconds``.
        while wl.has_pass(run.pass_index) and (
                run.pass_index == 1
                or time.perf_counter() - steady_start + last <= seconds):
            t0 = time.perf_counter()
            wl.run_pass(run.pass_index)
            last = time.perf_counter() - t0
            run.pass_index += 1
        steady_end = time.perf_counter()
        persisted_growth = (
            run.spark.sparkContext._jsc.getPersistentRDDs().size()
            - persisted0)
        peak_rss = (jvm_peak_rss_mb(run.spark)
                    + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                    / 1024.0)
        if inject_wrong:
            wl.corrupt_one_answer()
        t0 = time.perf_counter()
        wrong = wl.check()
        check_s = time.perf_counter() - t0
        # Counters and spans of the steady passes only.
        counts = {k: v - counts0.get(k, 0.0) for k, v in tracer.counts.items()}
        spans = [s for s in tracer.spans
                 if steady_start <= s.start and s.end <= steady_end]
        layers = wl.layer_metrics(spans, counts) if trace else {}
    finally:
        stop_session(run.spark)
    print(f"perfbench: session {session_s:.1f}s, set-up {setup_s:.1f}s, "
          f"cold pass "
          f"{cold_pass_s:.1f}s, steady {steady_end - steady_start:.1f}s, "
          f"check {check_s:.1f}s", file=sys.stderr)

    steady = [o for o in run.ops if o[0] >= 1]
    steady_ms = [o[2] * 1000.0 for o in steady]
    steady_s = steady_end - steady_start
    errors = sum(1 for o in run.ops if o[3] is not None)
    append_s = [o[2] for o in steady if o[1] == "append"]
    e2e = {
        "setup_s": session_s + setup_s,
        "cold_pass_s": cold_pass_s,
        "op_p50_ms": percentile(steady_ms, 50),
        "op_p90_ms": percentile(steady_ms, 90),
        "ops_per_s": len(steady) / steady_s,
        "ingest_rows_per_s": wl.ingest_rows / statistics.median(append_s),
        "stored_bytes_ratio": wl.stored_bytes() / wl.input_bytes(),
        "peak_rss_mb": peak_rss,
    }
    kinds: dict[str, list[float]] = {}
    for o in steady:
        kinds.setdefault(o[1], []).append(o[2] * 1000.0)
    result = {
        "kinds": {k: (percentile(v, 50), len(v)) for k, v in kinds.items()},
        "attempted": len(run.ops),
        "failed": errors + wrong,
        "steady_samples": len(steady),
        "steady_passes": run.pass_index - 1,
        "e2e": e2e,
    }
    if trace:
        n = max(len(steady), 1)
        layers["session.start_s"] = session_s
        layers["spark.persisted_rdds_growth"] = persisted_growth
        for name in ("jobs", "tasks", "files_read", "scan_bytes",
                     "shuffle_bytes", "spill_bytes"):
            layers[f"exec.{name}_per_op"] = counts.get(f"exec.{name}", 0) / n
        collect = [s for s in spans if s.name == "exec.collect"]
        layers["exec.collect_ms"] = (
            1000.0 * sum(s.seconds for s in collect) / max(len(collect), 1))
        # Reading plans is tracing cost, not a layer: it leaves both the
        # attributed time and the wall time it is compared with.
        traced = sum(s.self_seconds for s in spans)
        tracing = sum(s.self_seconds for s in spans
                      if s.name.startswith("trace."))
        layers["trace.attributed_ratio"] = (
            (traced - tracing) / (steady_s - tracing))
        layers["trace.op_p50_ms"] = e2e["op_p50_ms"]
        result["layers"] = {k: float(layers.get(k, 0.0))
                            for k in PER_LAYER_UNITS}
    return result
