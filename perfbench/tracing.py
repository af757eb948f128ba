"""Measurement helpers for the crawl benchmark: spans, peak memory, Spark
event-log summaries and process clean-up.

Everything here observes the program from outside: spans wrap the calls the
benchmark makes into the package, memory is read from ``/proc``, and
task-level numbers come from the Spark event log the traced session writes.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """In-memory spans (name, start, end, parent), written out at the end.

    Disabled tracers still time their spans (the caller reads the yielded
    record's ``wall``, ``start_ms`` and ``end_ms``) but keep nothing, so an
    untraced run pays only the clock reads.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "attrs": attrs,
               "parent": self._stack[-1] if self._stack else None,
               "start_ms": now_ms(), "end_ms": None}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall"] = time.perf_counter() - t0
            rec["end_ms"] = now_ms()
            if self.enabled:
                self._stack.pop()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


# ---------------------------------------------------------------- processes


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: resident memory with each shared page
    split among the processes sharing it, so forked Python workers do not
    count the pages they share with their parent over and over."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class PeakMemory:
    """Samples the summed PSS of a process tree (the Spark JVM and the
    Python workers it forks) on a background thread; ``peak`` is the max."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_bytes(process_tree(self.root_pid)))
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_jvm(proc, timeout: float = 60.0) -> None:
    """End the Spark JVM (it exits when its stdin closes) and wait until it
    and every process it started (the Python worker daemon) have ended."""
    tree = process_tree(proc.pid)
    try:
        proc.stdin.close()
    except (OSError, AttributeError):
        pass
    try:
        proc.wait(timeout=timeout)
    except Exception:  # noqa: BLE001 - any wait failure ends in a kill
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + timeout
    for pid in tree[1:]:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# ---------------------------------------------------------------- event log


def read_event_log(log_dir: Path) -> list[dict]:
    events = []
    for path in sorted(log_dir.iterdir()):
        if path.name.startswith(".") or not path.is_file():
            continue
        with open(path) as f:
            for line in f:
                events.append(json.loads(line))
    return events


class EventLog:
    """Index over one application's event log: jobs by submission time,
    tasks by stage, and the accumulator ids of the plan nodes that run
    ``extract_text_udf`` (the text-extraction Python UDF)."""

    def __init__(self, events: list[dict]):
        self.jobs: list[tuple[float, int, list[int]]] = []
        self.submitted_stages: set[int] = set()
        self.tasks_by_stage: dict[int, list[dict]] = {}
        self.extract_time_ids: dict[int, float] = {}  # acc id -> seconds per unit
        self.extract_rows_ids: set[int] = set()
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                self.jobs.append((e["Submission Time"], e["Job ID"], e["Stage IDs"]))
            elif kind == "SparkListenerStageSubmitted":
                self.submitted_stages.add(e["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                self.tasks_by_stage.setdefault(e["Stage ID"], []).append(e)
            elif "sparkPlanInfo" in e:
                self._walk(e["sparkPlanInfo"])

    def _walk(self, node: dict) -> None:
        # ArrowEvalPython / BatchEvalPython nodes that evaluate the UDF
        if "Python" in node.get("nodeName", "") and "extract_text" in node.get(
            "simpleString", ""
        ):
            for m in node.get("metrics", []):
                if m["name"] == "time to run Python workers":
                    unit = 1e-9 if m.get("metricType") == "nsTiming" else 1e-3
                    self.extract_time_ids[m["accumulatorId"]] = unit
                elif m["name"] == "number of output rows":
                    self.extract_rows_ids.add(m["accumulatorId"])
        for child in node.get("children", []):
            self._walk(child)

    def window(self, start_ms: float, end_ms: float) -> dict:
        """Task-level totals of the jobs submitted inside [start, end]."""
        stages: set[int] = set()
        for submitted, _job, stage_ids in self.jobs:
            if start_ms <= submitted <= end_ms:
                stages.update(s for s in stage_ids if s in self.submitted_stages)
        out = dict(stages=len(stages), tasks=0, run_s=0.0, gc_s=0.0,
                   spill_bytes=0, scan_bytes=0, shuffle_bytes=0,
                   extract_python_s=0.0, extract_rows=0)
        for stage in stages:
            for t in self.tasks_by_stage.get(stage, []):
                tm = t.get("Task Metrics") or {}
                out["tasks"] += 1
                out["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                out["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                out["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                out["scan_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                out["shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                for acc in t["Task Info"].get("Accumulables", []):
                    aid = acc.get("ID")
                    if aid in self.extract_time_ids:
                        out["extract_python_s"] += (
                            float(acc.get("Update", 0)) * self.extract_time_ids[aid]
                        )
                    elif aid in self.extract_rows_ids:
                        out["extract_rows"] += int(acc.get("Update", 0))
        return out
