"""Run state shared by the workloads: the Spark session as shipped, its
status store, the optional tracer, and correctness accounting."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext


class Bench:
    """What one run shares across workloads: arguments, the Spark
    session and its status store, and the result accounting."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.spark = None
        self.store = None
        self.tracer = None
        #: id of the current timed op (spans opened now belong to it)
        self.op = 0
        #: ops run (timed and checked); op name -> first failure detail
        self.attempted = 0
        self.failures: dict[str, str] = {}
        self.layer: dict[str, float] = {}

    # -- session --------------------------------------------------------------

    def start_spark(self):
        """``get_spark`` as shipped, at ``local[min(4, nproc)]``; the only
        extra settings keep scratch files in the checkout and the console
        quiet."""
        from batch_data_pipeline_exercise_spark.session import get_spark

        from dwhbench.trace import StatusStore, Tracer

        cpus = min(4, os.cpu_count() or 1)
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="dwhbench",
            master=f"local[{cpus}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.get_spark.s"] = time.perf_counter() - t0
        self.store = StatusStore(self.spark)
        if self.trace:
            self.tracer = Tracer(self.spark).install()
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session, then the JVM it launched, and wait for it."""
        if self.tracer is not None:
            self.tracer.uninstall()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    # -- spans (no-ops with tracing off) ---------------------------------------

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def next_op(self) -> int:
        self.op += 1
        if self.tracer:
            self.tracer.op = self.op
        return self.op

    def finish_trace(self, workload: str) -> dict[int, dict]:
        """Attribute the settled jobs to spans, record the run-wide trace
        metrics, write the spans out, and return per-span inclusive
        counters. Call while the session is still up."""
        cov = self.tracer.attribute(self.store)
        self.layer["session.jvm_peak_rss_mb"] = self.jvm_peak_rss_mb()
        self.layer["spill_mb"] = self.store.total("diskBytesSpilled")
        self.layer["trace.cpu_coverage"] = cov["attributed_cpu_s"] / cov["total_cpu_s"] if cov["total_cpu_s"] else 0.0
        self.tracer.dump(os.path.join(self.work, f"trace-{workload}-{self.seed}.jsonl"))
        return self.tracer.inclusive()

    # -- correctness accounting ------------------------------------------------

    def check(self, op: str, what: str, ok: bool, detail: object = "") -> None:
        """Record one correctness check of ``op``; an op counts as failed
        once, however many of its checks fail."""
        if not ok:
            self.failures.setdefault(op, f"{what} {detail}".strip())


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant:
    the JVM it launched and the JVM's Python workers. Each process also
    counts its waited-for children that have exited."""
    kids: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        kids.setdefault(int(f[1]), []).append(int(name))
        cpu[int(name)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += cpu.get(pid, 0)
        todo += kids.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def clean_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
