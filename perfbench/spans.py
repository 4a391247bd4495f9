"""Spans around the engine's public calls, attributed to Spark jobs.

A span records wall time and, through a Spark job group named after it,
the jobs its calls ran. Spans nest; a span's self time is its wall time
minus the time its child spans cover. Jobs are attributed to the
innermost open span, so per-span job, stage and task counts are "self"
counts too and add up without double counting.

The Spark side is read once, when the window ends: Spark's status
store (``AppStatusStore``, populated with the UI off) is dumped to JSON
with the five-argument ``stageList`` and ``jobsList``, and every stage
attempt that ran is charged to the span whose job group submitted it.

With ``enabled=False`` every method is a no-op, so the untraced run pays
nothing but an attribute check per call.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass, field

__all__ = ["Span", "Tracer"]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    children_s: float = 0.0
    spark: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall - self.children_s


_SPARK_KEYS = (
    "jobs", "stages", "tasks", "cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._groups: dict[str, int] = {}  # job group -> span id

    # ------------------------------------------------------------ recording

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True):
        """``jobs=False`` for calls that run no Spark job (manifest reads):
        skips the two job-group round trips to the JVM."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, 0.0)
        self.spans.append(sp)
        if jobs:
            group = f"perfbench-{sp.sid}"
            self._groups[group] = sp.sid
            self.sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += sp.wall
            if jobs:
                outer = self._enclosing_group()
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(outer[0], outer[1])

    def _enclosing_group(self):
        for sp in reversed(self._stack):
            g = f"perfbench-{sp.sid}"
            if g in self._groups:
                return g, sp.name
        return None

    def wrap(self, owner, attr: str, name: str, jobs: bool = True) -> None:
        """Replace ``owner.attr`` with a spanned version (traced runs only).

        Used for the layer calls the engine makes internally (manifest
        reads, commits, compaction, checkpoint reads), so their time shows
        as separate spans inside the public call that made them.
        """
        if not self.enabled:
            return
        inner = getattr(owner, attr)

        @functools.wraps(inner)
        def spanned(*args, **kwargs):
            with self.span(name, jobs=jobs):
                return inner(*args, **kwargs)

        setattr(owner, attr, spanned)

    # -------------------------------------------------------------- reading

    def attribute_spark(self) -> None:
        """Charge every stage attempt that ran to the span whose job group
        submitted it (the first job listing the stage)."""
        if not self.enabled:
            return
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        stages = json.loads(
            mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
        )
        by_id = {sp.sid: sp for sp in self.spans}
        for sp in self.spans:
            sp.spark = dict.fromkeys(_SPARK_KEYS, 0)
        stage_owner: dict[int, Span | None] = {}
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            sid = self._groups.get(job.get("jobGroup") or "")
            sp = by_id[sid] if sid is not None else None
            if sp is not None:
                sp.spark["jobs"] += 1
            # a stage runs under the first job that lists it; later jobs
            # list it as skipped (shuffle reuse)
            for st in job["stageIds"]:
                stage_owner.setdefault(st, sp)
        for st in stages:
            sp = stage_owner.get(st["stageId"])
            if sp is None or st["status"] not in ("COMPLETE", "FAILED"):
                continue
            s = sp.spark
            s["stages"] += 1
            s["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            s["cpu_ms"] += st["executorCpuTime"] / 1e6
            s["gc_ms"] += st["jvmGcTime"]
            s["shuffle_read_bytes"] += st["shuffleReadBytes"]
            s["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            s["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]

    def inclusive(self, sp: Span) -> dict:
        """Spark counters of ``sp`` plus all its descendants."""
        total = dict.fromkeys(_SPARK_KEYS, 0)
        for s in self.within(sp):
            for k in _SPARK_KEYS:
                total[k] += s.spark.get(k, 0)
        return total

    def within(self, root: Span, top: set[str] | None = None) -> list[Span]:
        """``root`` and every span nested in it; with ``top``, only the
        direct children of ``root`` named in it (and their descendants)."""
        keep = {root.sid}
        out = [root]
        for sp in self.spans[root.sid + 1:]:
            if sp.parent in keep and (top is None or sp.parent != root.sid or sp.name in top):
                keep.add(sp.sid)
                out.append(sp)
        return out

    def table(self, root: Span, top: set[str] | None = None) -> dict[str, dict]:
        """Per span name under ``root`` (see :meth:`within`): calls, wall,
        self time and self Spark counters, summed."""
        rows: dict[str, dict] = {}
        for sp in self.within(root, top):
            r = rows.setdefault(
                sp.name, {"calls": 0, "wall_s": 0.0, "self_s": 0.0, **dict.fromkeys(_SPARK_KEYS, 0)}
            )
            r["calls"] += 1
            r["wall_s"] += sp.wall
            r["self_s"] += sp.self_s
            for k in _SPARK_KEYS:
                r[k] += sp.spark.get(k, 0)
        return rows
