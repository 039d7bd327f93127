"""Benchmark-side tracing: spans around layer calls, Spark's own counters,
executed-plan operator counts and process-tree memory.

Everything here observes the engine from outside. Spans wrap the calls the
benchmark makes into a layer's public functions; counters come from the
driver's ``AppStatusStore`` (the store behind the Spark UI, populated even
with the UI disabled) read through the session's JVM handle.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Records spans in memory; ``write`` saves them when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # wall time spent inside the tracer's own reads (counters, plans)
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextlib.contextmanager
    def overhead(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the part of its
        interval covered by its direct children."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.end - s.start
        out: dict[str, list[float]] = {}
        for s, c in zip(self.spans, covered):
            out.setdefault(s.name, []).append(s.end - s.start - c)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


COUNTER_KEYS = (
    "jobs", "stages", "tasks", "tasks_failed", "input_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


class SparkCounters:
    """Reads per-stage and per-job counters from the driver's status store.

    ``mark()`` returns the newest job and stage ids; ``since(mark)`` sums
    the counters of every job and stage created after it. The store is
    fed by the asynchronous listener bus, so reads drain the bus first."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._store = self._jsc.statusStore()
        mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._mapper = mapper

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def _stages(self) -> list[dict]:
        no_quantiles = self._gw.new_array(self._jvm.double, 0)
        stages = self._store.stageList(
            None, False, False, no_quantiles, self._jvm.java.util.ArrayList()
        )
        return json.loads(self._mapper.writeValueAsString(stages))

    def _jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def mark(self) -> tuple[int, int]:
        self._drain()
        jobs = [j["jobId"] for j in self._jobs()]
        stages = [s["stageId"] for s in self._stages()]
        return (max(jobs, default=-1), max(stages, default=-1))

    def since(self, mark: tuple[int, int]) -> dict[str, int]:
        self._drain()
        out = dict.fromkeys(COUNTER_KEYS, 0)
        out["jobs"] = sum(j["jobId"] > mark[0] for j in self._jobs())
        for s in self._stages():
            if s["stageId"] <= mark[1] or s["status"] == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
            out["tasks_failed"] += s["numFailedTasks"]
            out["input_bytes"] += s["inputBytes"]
            out["shuffle_write_bytes"] += s["shuffleWriteBytes"]
            out["spill_bytes"] += s["diskBytesSpilled"]
        return out

    def jvm_gc_ms(self) -> int:
        """Total collection time of every JVM garbage collector so far."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    def stored_bytes(self) -> int:
        """Memory plus disk held by persisted and checkpointed RDD blocks."""
        return sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo())


_NODE = re.compile(r"^[\s:|+-]*(\w+)", re.M)


def plan_operators(df) -> dict[str, int]:
    """Count sort-merge joins, broadcast hash joins and shuffle exchanges
    in ``df``'s executed plan, including the plans of cached inputs (the
    final AQE plan once ``df`` has been materialized)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    names = _NODE.findall(text)
    return {
        "smj": names.count("SortMergeJoin"),
        "bhj": names.count("BroadcastHashJoin"),
        "exchanges": names.count("Exchange"),
    }


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def process_tree(pid: int | None = None) -> list[int]:
    """``pid`` (default: this process) and all its live descendants."""
    todo, seen = [pid or os.getpid()], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def peak_rss_mb(pids: list[int]) -> float:
    """Sum over ``pids`` of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0
