"""Run state shared by the workloads: work directories, the Spark
session, the tracer, timed operations and the result record."""

from __future__ import annotations

import contextlib
import os
import shutil
import subprocess
import sys
import time

from perfbench.stats import median
from perfbench.tracing import LAYERS, SPARK_COUNTERS, SparkCounters, Tracer, self_times


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (VmHWM) of a live process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Run:
    """One benchmark run: a fresh work directory under ``root`` that
    holds every input, table, checkpoint and temporary file, and is
    removed by ``close``."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int,
                 traced: bool, cores: int, t_start: float):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced, self.cores, self.t_start = traced, cores, t_start
        self.dir = os.path.join(root, "work", f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(os.path.join(self.dir, "tmp"))
        # traced runs start untraced: the first phase measures the same
        # operations without tracing, for the overhead figure
        self.tracer = Tracer(False)
        self.spark = None
        self.counters: SparkCounters | None = None
        self.ops: list[dict] = []          # one record per timed operation
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}  # per-layer metrics (traced runs)
        self.setup_s: float | None = None
        self.mem_mb: float | None = None

    def log(self, msg: str) -> None:
        print(f"perfbench: [{time.perf_counter() - self.t_start:7.2f} s] {msg}",
              file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    # --------------------------------------------------------- session
    def start_spark(self):
        from crawler_spark.session import get_spark

        local = self.path("spark-local")
        tmp = self.path("tmp")
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", cpus=self.cores,
            extra_conf={
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            })
        self.layer["session.get_spark_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.log("session up")
        return self.spark

    def start_tracing(self) -> None:
        """Switch to the traced phase: spans on, Spark counters on."""
        self.tracer.enabled = True
        self.counters = SparkCounters(self.spark)

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                with contextlib.suppress(OSError):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        self.spark = None

    def close(self) -> None:
        self.stop_spark()
        shutil.rmtree(self.dir, ignore_errors=True)

    # --------------------------------------------------------- timing
    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start
        self.log("set-up done")

    def record_memory(self) -> None:
        """Memory the run holds, read right after the timed window and
        before the output checks (so the checkers' memory is not
        counted): this Python process's peak RSS, plus the driver JVM's
        heap still live after a full GC and its non-heap in use
        (metaspace, code cache). The JVM's own peak RSS is not used: G1
        grows the heap by GC timing, so it swings ~20 % between runs of
        the same work on a shared machine."""
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        jvm_b = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
        self.mem_mb = vm_hwm_kb("self") / 1024.0 + jvm_b / 2**20

    def timed(self, kind: str, fn, stream_group: str | None = None, **meta):
        """Run ``fn`` as one timed operation; returns its result.

        In a traced run the operation gets a root span and a job group,
        and its Spark counters are read after the clock stops. Stream
        operations pass ``stream_group``, the group Structured Streaming
        runs the stream's batches under."""
        op_id = len(self.ops)
        group = stream_group or f"perfbench-op{op_id}"
        traced = self.tracer.enabled
        if traced and stream_group is None:
            self.counters.begin(group)
        w0, t0 = time.time(), time.perf_counter()
        with self.tracer.operation(op_id, kind):
            result = fn()
        dt = time.perf_counter() - t0
        w1 = time.time()
        rec = {"kind": kind, "s": dt, "traced": traced, **meta}
        if traced:
            if stream_group is None:
                self.counters.end()
            groups = [group] if stream_group is None else [stream_group, None]
            rec["spark"] = self.counters.collect(groups, w0, w1)
        self.ops.append(rec)
        return result

    def check(self, ok: bool, what: str) -> None:
        """Count one output check against the operations attempted."""
        if not ok:
            self.failed += 1
            self.failures.append(what)

    # --------------------------------------------------------- results
    def span_ms(self, name: str, per: int) -> float:
        """Summed duration of spans ``name`` in traced operations, in
        ms per operation."""
        ids = {i for i, o in enumerate(self.ops) if o["traced"]}
        total = sum(s.end - s.start for s in self.tracer.op_spans(ids) if s.name == name)
        return 1e3 * total / max(per, 1)

    def layer_metrics(self) -> dict[str, float]:
        """Layer self times, Spark counters and table loads per traced
        operation."""
        ids = {i for i, o in enumerate(self.ops) if o["traced"]}
        n = max(len(ids), 1)
        spans = self.tracer.op_spans(ids)
        st = self_times(spans)
        out = {f"layer.{layer}.self_ms": 0.0 for layer in LAYERS + ("unattributed",)}
        for s in spans:
            out[f"layer.{s.layer}.self_ms"] += 1e3 * st[s.id] / n
        sums = dict.fromkeys(SPARK_COUNTERS, 0.0)
        for i in ids:
            for k, v in self.ops[i].get("spark", {}).items():
                sums[k] += v
        for k, v in sums.items():
            out[f"spark.{k}"] = v / n
        out["sources.load_table.ms"] = self.span_ms("sources.load_table", n)
        return out

    def overhead_pct(self, kinds: tuple[str, ...] | None = None) -> float:
        """Median operation time traced vs untraced, in percent."""
        def med(traced: bool) -> float:
            return median([o["s"] for o in self.ops if o["traced"] == traced
                           and (kinds is None or o["kind"] in kinds)])
        return 100.0 * (med(True) / med(False) - 1.0)
