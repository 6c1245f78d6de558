"""Spans and Spark counters taken from outside the engine's public calls.

A span records name, start, end, parent and op id. A span opened with
``group=True`` runs its Spark jobs under its own job group; after the op
the tracer reads that group's jobs, stages and tasks from
``statusTracker()`` and executor CPU, shuffle and spill from the status
store (``sc._jsc.sc().statusStore()``). Both work with the Spark UI
disabled. Spans stay in memory and are written out when the run ends.

With tracing off every call is a no-op, so untraced runs time the bare
engine calls.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self._walked: set[int] = set()    # job ids collect() has walked
        self._counted: set[int] = set()   # stage ids already attributed

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, group: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "op": op if op is not None else (parent or {}).get("op"),
               "parent": parent["id"] if parent else None,
               "group": f"perfbench-{len(self.spans)}" if group else None}
        self.spans.append(rec)
        self._stack.append(rec)
        if group:
            self.sc.setJobGroup(rec["group"], name)
            self._pending.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                outer = next((s["group"] for s in reversed(self._stack)
                              if s["group"]), None)
                self.sc.setLocalProperty("spark.jobGroup.id", outer)

    def collect(self) -> None:
        """Fill job/stage/task/CPU/shuffle/spill counters of every closed
        grouped span. Call between ops: it waits for the listener bus.

        A job also lists the stages it reuses from earlier jobs (skipped,
        but still COMPLETE in the status store). Walking every job in id
        order, ungrouped ones included, each stage that ran is counted
        once, for the first job that lists it."""
        if not self.enabled or not self._pending:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        owner = {jid: rec for rec in self._pending
                 for jid in tracker.getJobIdsForGroup(rec["group"])}
        for rec in self._pending:
            rec["counters"] = dict.fromkeys(
                ("jobs", "stages", "tasks", "cpu_ns", "shuffle_write",
                 "spill"), 0)
        jobs = set(owner) | set(tracker.getJobIdsForGroup(None))
        for jid in sorted(jobs - self._walked):
            self._walked.add(jid)
            info = tracker.getJobInfo(jid)
            c = owner[jid]["counters"] if jid in owner else None
            if c is not None:
                c["jobs"] += 1
            for sid in (info.stageIds if info else ()):
                if sid in self._counted:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # evicted from the status store
                    continue
                if str(st.status()) not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its output already existed
                self._counted.add(sid)
                if c is None:
                    continue
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["cpu_ns"] += st.executorCpuTime()
                c["shuffle_write"] += st.shuffleWriteBytes()
                c["spill"] += st.diskBytesSpilled()
        self._pending.clear()

    # --- summaries ---------------------------------------------------------

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        """Span time minus the part of it that child spans cover."""
        covered, last = 0.0, rec["start"]
        for s in sorted(self.children(rec), key=lambda s: s["start"]):
            lo, hi = max(s["start"], last), min(s["end"], rec["end"])
            if hi > lo:
                covered += hi - lo
                last = hi
        return (rec["end"] - rec["start"]) - covered

    def counters(self, rec: dict) -> dict:
        """A span's own group counters plus those of its descendants."""
        out = dict(rec.get("counters") or {})
        for s in self.children(rec):
            for k, v in self.counters(s).items():
                out[k] = out.get(k, 0) + v
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str, t0: float) -> None:
        rows = []
        for s in self.spans:
            row = dict(s)
            row["start"] = round(s["start"] - t0, 6)
            row["end"] = round(s["end"] - t0, 6)
            row["self_s"] = round(self.self_time(s), 6)
            rows.append(row)
        with open(path, "w") as fh:
            json.dump(rows, fh)
