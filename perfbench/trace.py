"""Spans and Spark work counters for the benchmark.

``Ops`` brackets every measured operation that may run Spark work: it
sets a Spark job group on the calling thread (job groups are
thread-local), in traced and untraced runs alike, so both runs execute
the same program. With tracing on it also keeps spans in memory: one
root span per operation, child spans for the wrapped public methods of
the lake components, and one child span per Spark stage window read
from the in-process ``AppStatusStore`` right after the operation
(Spark retains only ~1,000 jobs and stages by default).

Spans are wrapped from this file, at the benchmark's call sites: the
program under test is not edited.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

SPARK_COUNTERS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "executor_cpu_s",
    "executor_run_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "driver_gap_s",
)


def covered(intervals, lo, hi):
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Ops:
    """Job groups for every operation; spans and counters when traced."""

    def __init__(self, spark, traced: bool) -> None:
        self.spark = spark
        self.traced = traced
        self.spans: list[dict] = []
        self.op_counters: list[tuple[str, float, dict[str, float]]] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object, bool]] = []

    # -- spans --------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        s = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else sid,
            "start": time.time(),
            "end": None,
        }
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a version that records a span.
        Only applied in traced runs; ``unwrap_all`` restores it."""
        if not self.traced:
            return
        had_own = attr in vars(owner)
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._patches.append((owner, attr, orig, had_own))

    def unwrap_all(self) -> None:
        for owner, attr, orig, had_own in reversed(self._patches):
            if had_own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._patches.clear()

    # -- operations ---------------------------------------------------
    @contextmanager
    def op(self, kind: str):
        """One measured operation of type ``kind`` (silver, gold,
        query, ...): job group on this thread for its Spark work."""
        sc = self.spark.sparkContext
        n = next(self._ids)
        group = f"bench-{kind}-{n}"
        sc.setJobGroup(group, kind, False)
        try:
            if not self.traced:
                yield None
                return
            root = None
            try:
                with self.span(f"op.{kind}") as root:
                    yield root
            finally:
                # failed operations count too: their Spark work happened
                if root is not None:
                    self._collect(kind, group, root)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def _collect(self, kind: str, group: str, root: dict) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()  # noqa: SLF001
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - older signature needs a timeout
            jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for jid in jobs:
            seq = store.job(jid).stageIds()
            for i in range(seq.size()):
                stage_ids.add(seq.apply(i))
        c = dict.fromkeys(SPARK_COUNTERS, 0.0)
        c["jobs"] = float(len(jobs))
        windows = []
        for sid in sorted(stage_ids):
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stage, never attempted
                continue
            sub = s.submissionTime()
            if not sub.isDefined():
                continue  # skipped: its exchange was reused
            c["tasks"] += s.numCompleteTasks()
            c["failed_tasks"] += s.numFailedTasks()
            c["executor_cpu_s"] += s.executorCpuTime() / 1e9
            c["executor_run_s"] += s.executorRunTime() / 1e3
            c["shuffle_read_bytes"] += s.shuffleReadBytes()
            c["shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            comp = s.completionTime()
            start = sub.get().getTime() / 1e3
            end = comp.get().getTime() / 1e3 if comp.isDefined() else root["end"]
            windows.append((sid, max(start, root["start"]), min(end, root["end"])))
        c["driver_gap_s"] = (root["end"] - root["start"]) - covered(
            [(a, b) for _, a, b in windows], root["start"], root["end"]
        )
        with self._lock:
            self.op_counters.append((kind, root["start"], c))
            # each stage window becomes a child of the deepest span of
            # this op that was open when the stage was submitted
            mine = [s for s in self.spans if s["op"] == root["op"]]
            for sid, a, b in windows:
                if b <= a:
                    continue
                holders = [s for s in mine if s["start"] <= a < s["end"]]
                parent = max(holders, key=lambda s: s["start"], default=root)
                self.spans.append(
                    {
                        "id": next(self._ids),
                        "name": f"spark.stage.{sid}",
                        "parent": parent["id"],
                        "op": root["op"],
                        "start": a,
                        "end": min(b, parent["end"]),
                    }
                )

    # -- reduction ----------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Self time per span: its duration minus the part of it that
        its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in self.spans
        }

    def check_spans(self) -> dict:
        """Per operation, the self times of all its spans must add up to
        the operation's wall time. They do unless child spans overlap,
        which concurrent Spark stages do; those operations are counted."""
        selfs = self.self_times()
        total: dict[int, float] = {}
        for s in self.spans:
            total[s["op"]] = total.get(s["op"], 0.0) + selfs[s["id"]]
        gaps = [
            abs(total[s["id"]] - (s["end"] - s["start"]))
            for s in self.spans
            if s["parent"] is None
        ]
        return {
            "operations": len(gaps),
            "operations_off_by_over_1ms": sum(g > 1e-3 for g in gaps),
            "max_gap_s": max(gaps, default=0.0),
        }

    def by_name(self, name: str, self_time: bool = False) -> list[float]:
        selfs = self.self_times() if self_time else None
        return [
            selfs[s["id"]] if self_time else s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name
        ]

    def spark_per_op(self, kind: str, since: float) -> dict[str, float]:
        """Mean Spark counters per operation of ``kind`` started at or
        after ``since``."""
        rows = [c for k, t, c in self.op_counters if k == kind and t >= since]
        return {
            k: (sum(c[k] for c in rows) / len(rows) if rows else 0.0)
            for k in SPARK_COUNTERS
        }

    def dump(self, path: str, extra: dict) -> None:
        ops = [
            {"kind": k, "start": t, **c} for k, t, c in self.op_counters
        ]
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": ops, **extra}, fh)
