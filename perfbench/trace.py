"""Spans, Spark job-group metrics and process-tree memory, all read from
outside the engine.

A span is recorded around every call the benchmark makes into a layer
(name, start, end, parent) and kept in memory; ``Tracer.dump`` writes them
to one JSON file when the run ends.  Spans are recorded in both modes.

Only a traced run (``Tracer(sc, traced=True)``) tags the Spark jobs a span
fires with a job group of its own and, after the span's operation has
finished, drains the listener bus and reads the group's jobs and stage
metrics from ``statusTracker()`` and the JVM status store.  Those reads
happen outside every timed window.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc=None, traced: bool = False):
        self.sc = sc
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.traced:
            rec["group"] = f"pb-{rec['id']}"
            self.sc.setLocalProperty(_GROUP_KEY, rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.traced:
                self.sc.setLocalProperty(_GROUP_KEY, parent.get("group") if parent else None)

    # -- traced-run reads (outside timed windows) --------------------------

    def collect_stats(self, recs: list[dict]) -> None:
        """Attach job/stage metrics to each traced span in ``recs`` that
        has none yet."""
        if not self.traced:
            return
        todo = [r for r in recs if "group" in r and "jobs" not in r]
        if not todo:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for r in todo:
            stats = {"jobs": 0, "stages": 0, "cpu_s": 0.0, "shuffle_read": 0,
                     "shuffle_write": 0, "spill": 0, "stage_ids": []}
            for jid in tracker.getJobIdsForGroup(r["group"]):
                info = tracker.getJobInfo(jid)
                stats["jobs"] += 1
                for sid in (info.stageIds if info else []):
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # stage never ran (skipped)
                        continue
                    if str(sd.status()) == "SKIPPED":
                        continue
                    stats["stages"] += 1
                    stats["stage_ids"].append((sid, sd.attemptId()))
                    stats["cpu_s"] += sd.executorCpuTime() / 1e9
                    stats["shuffle_read"] += sd.shuffleReadBytes()
                    stats["shuffle_write"] += sd.shuffleWriteBytes()
                    stats["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            r.update(stats)

    def task_shuffle_records(self, rec: dict) -> list[int]:
        """Shuffle records read by each task of the span's last stage that
        read shuffle data (rows per reducer after a repartition)."""
        store = self.sc._jsc.sc().statusStore()
        for sid, att in reversed(rec.get("stage_ids", [])):
            tasks = store.taskList(sid, att, 1 << 30)
            rows = []
            for i in range(tasks.size()):
                m = tasks.apply(i).taskMetrics()
                if m.isDefined():
                    rows.append(int(m.get().shuffleReadMetrics().recordsRead()))
            if sum(rows) > 0:
                return rows
        return []

    # -- output -------------------------------------------------------------

    def dump(self, path: str) -> None:
        """Write all spans (with self time) as one JSON document."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = []
        for s in self.spans:
            d = {k: v for k, v in s.items() if k != "stage_ids"}
            if s["end"] is not None:
                d["dur_s"] = s["end"] - s["start"]
                d["self_s"] = d["dur_s"] - kids.get(s["id"], 0.0)
            out.append(d)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump({"spans": out}, f)
        os.replace(path + ".tmp", path)


def tree_rss_mib(root_pid: int | None = None) -> float:
    """Summed VmRSS of ``root_pid`` (default: this process) and all its
    descendants, read from /proc."""
    root = root_pid or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total_kb, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
