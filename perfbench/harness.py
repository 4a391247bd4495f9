"""The closed loop shared by every workload: timed operations, failure
counting, the timed window, and the storage ledger behind
``write_bytes_per_row``."""

from __future__ import annotations

import contextlib
import gc
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the share of time
    a virtual machine's CPUs were runnable but held by its host."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def p75(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=4, method="inclusive")[2]


class Run:
    """One invocation: the caller issues the next operation only after the
    previous one returned (closed loop, one client)."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str,
                 local_n: int, t_start: float):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.local_n = local_n
        self.t_start = t_start
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.in_window = False
        self.window_start = 0.0
        self.report: dict = {"metrics": {}, "setup_phases_s": {}}
        self._mark = t_start

    # ------------------------------------------------------------ operations

    def op(self, name: str, fn, check=None):
        """Time one operation; ``check(result)`` returns a problem string or
        None. Returns the result, or None when the call raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn()
        except Exception:  # noqa: BLE001 - the loop counts the failure and goes on
            self.fail(name, traceback.format_exc())
            return None
        if self.in_window:
            self.samples[name].append(time.perf_counter() - t0)
        problem = check(out) if check is not None else None
        if problem:
            self.fail(name, problem)
        return out

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {why}"[:2000])
        print(f"perfbench: {name} failed: {why}", file=sys.stderr)

    def mark(self, phase: str) -> None:
        """Record the set-up time spent since the previous mark."""
        now = time.perf_counter()
        self.report["setup_phases_s"][phase] = round(now - self._mark, 3)
        self._mark = now

    def elapsed(self) -> float:
        return time.perf_counter() - self.window_start

    @contextlib.contextmanager
    def window(self):
        """The timed window. Everything before it is set-up."""
        self.report["metrics"]["setup_s"] = time.perf_counter() - self.t_start
        self.report["loadavg_window_start"] = os.getloadavg()
        gc_before = self.jvm_gc_ms()
        steal_before = cpu_steal()
        self.in_window = True
        self.window_start = time.perf_counter()
        with self.tracer.span("window") as root:
            yield
        self.window_s = self.elapsed()
        self.in_window = False
        self.window_gc_ms = self.jvm_gc_ms() - gc_before
        steal, total = (a - b for a, b in zip(cpu_steal(), steal_before))
        self.report["window_cpu_steal_pct"] = 100.0 * steal / max(total, 1)
        self.root = root

    # ----------------------------------------------------------- JVM probes

    def jvm_gc_ms(self) -> float:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    def retained_mb(self) -> float:
        """JVM heap in use after an explicit full GC, once Python has let go
        of its DataFrames and Spark's cleaner has dropped what they pinned."""
        jvm = self.sc._jvm
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.5)  # the context cleaner unpersists asynchronously
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        return heap.getUsed() / 2**20

    def persistent_rdds(self) -> int:
        gc.collect()
        return self.sc._jsc.getPersistentRDDs().size()

    # -------------------------------------------------------------- results

    def common_metrics(self, rows: int, bytes_written: int) -> None:
        """Metrics every workload reports, from the window just closed."""
        m = self.report["metrics"]
        m["rows_per_s"] = rows / self.window_s
        m["write_bytes_per_row"] = bytes_written / rows
        m["retained_mb"] = self.retained_mb()
        self.report.update(
            window_s=self.window_s,
            rows=rows,
            failed_share=self.failed / max(self.attempted, 1),
            errors=self.errors[:5],
            samples={k: [round(x, 4) for x in v] for k, v in self.samples.items()},
        )

    def layer_metrics(self, ops: list[str]) -> dict:
        """Per-layer numbers every workload shares, from the traced window.

        ``ops`` are the span names of the window's blocking operations; the
        share of the window wall they cover is ``trace.coverage_pct``.
        """
        tr = self.tracer
        tr.attribute_spark()
        # the operations and what they call; the loop's own bookkeeping
        # between operations stays out
        table = tr.table(self.root, set(ops))
        wall = self.window_s
        covered = sum(table[o]["wall_s"] for o in ops if o in table)
        n_ops = sum(table[o]["calls"] for o in ops if o in table)
        total = {k: sum(r[k] for r in table.values()) for k in ("jobs", "cpu_ms")}
        self.report["spans"] = {
            k: {kk: round(vv, 4) if isinstance(vv, float) else vv for kk, vv in v.items()}
            for k, v in sorted(table.items())
        }
        return {
            "trace.coverage_pct": 100.0 * covered / wall,
            "spark.jobs_per_op": total["jobs"] / max(n_ops, 1),
            "spark.gc_ms": self.window_gc_ms,
            "spark.task_cpu_share": 100.0 * total["cpu_ms"] / 1000.0 / (wall * self.local_n),
        }

    def share(self, seconds: float) -> float:
        """``seconds`` as a percentage of the timed window."""
        return 100.0 * seconds / self.window_s


class Ledger:
    """Bytes of data files the commits of a set of lake tables add.

    After each operation, :meth:`take` diffs every table's current snapshot
    file list against the one it last saw and sizes the new files at once
    (maintenance may delete superseded files later in the window).
    """

    def __init__(self, tables: dict):
        self.tables = tables
        self.seen = {name: set(t.snapshot().all_files()) for name, t in tables.items()}

    def take(self) -> int:
        added = 0
        for name, t in self.tables.items():
            files = set(t.snapshot().all_files())
            added += sum(os.path.getsize(os.path.join(t.path, f)) for f in files - self.seen[name])
            self.seen[name] = files
        return added

    def max_files_per_bucket(self) -> int:
        return max(
            (len(fl) for t in self.tables.values() for fl in t.snapshot().files.values()),
            default=0,
        )
