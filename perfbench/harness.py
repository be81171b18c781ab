"""One benchmark run: its work directory, Spark session, operation
accounting and metrics."""

from __future__ import annotations

import os
import shutil
import signal
import sys
import time
import traceback

from . import spans


class Run:
    def __init__(self, root: str, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.work_dir = os.path.join(root, ".bench_work", f"{workload}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        # name -> (value, unit); every figure the run measured
        self.metrics: dict[str, tuple[float, str]] = {}
        self.spark = None
        self.tracer: spans.Tracer | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (value, unit)

    def op(self, fn, *args, **kwargs):
        """Run one timed operation.  Returns (result, seconds), or
        (None, None) when it raised; the failure is counted and the
        run goes on with its remaining operations."""
        self.attempted += 1
        start = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None, None
        return out, time.perf_counter() - start

    def check(self, problems: list[str]) -> None:
        self.problems.extend(problems)
        for p in problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)

    def start_spark(self):
        """Create the session with the package's own factory on
        local[nproc].  Returns the seconds ``get_spark`` took."""
        from trading_etl_python_spark.session import get_spark

        nproc = len(os.sched_getaffinity(0))
        start = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=nproc)
        took = time.perf_counter() - start
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = spans.Tracer(self.spark.sparkContext, self.trace)
        self.spark.range(1).collect()  # first job: scheduler and executor warm
        return took

    def stop_spark(self, memory: spans.TreeMemory) -> None:
        """Stop the session, end the JVM and wait for every process the
        run started; anything still alive after a grace period is
        killed and reaped."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        alive = [p for p in memory.seen if os.path.exists(f"/proc/{p}")]
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in alive:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline + 10:
                time.sleep(0.05)

    def cleanup(self) -> None:
        shutil.rmtree(self.work_dir, ignore_errors=True)
        parent = os.path.dirname(self.work_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def put_latency(run: Run, name: str, seconds: list[float]) -> None:
    """Median and, when ten samples lie beyond it, a tail percentile of
    a latency sample, in ms, with the sample count."""
    if not seconds:
        return
    ms = [1000.0 * s for s in seconds]
    run.put(f"{name}_p50_ms", spans.percentile(ms, 50), "ms")
    tail = spans.tail_percentile(len(ms))
    if tail:
        run.put(f"{name}_p{tail}_ms", spans.percentile(ms, tail), "ms")
    run.put(f"{name}_n", len(ms), "count")
