"""Measurement taken from outside the program: process-tree CPU and
RSS from /proc, spans around public calls, and Spark's event log."""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out = []
    for f in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(f) as fh:
                out += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return out


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    return s[s.rfind(")") + 2:].split()


def _tree(root: int) -> list[tuple[int, list[str]]]:
    """(pid, stat fields) of root and its descendants. A child whose stat
    names another parent exited and its pid was reused: it is skipped."""
    out, todo = [], [(root, None)]
    while todo:
        p, parent = todo.pop()
        f = _stat(p)
        if f is None or (parent is not None and int(f[1]) != parent):
            continue
        out.append((p, f))
        todo += [(c, p) for c in _children(p)]
    return out


def tree_pids(root: int) -> list[int]:
    return [p for p, _ in _tree(root)]


def tree_cpu_s(root: int) -> float:
    """utime+stime of the tree plus what its members reaped from exited
    children (cutime+cstime), so a worker that exits mid-pass still
    counts once it is waited for."""
    return sum(sum(int(x) for x in f[11:15]) for _, f in _tree(root)) / _TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Background sampler of the tree's RSS: peak of the whole tree, of
    the JVM, and of the largest single Python worker (descendants of the
    JVM). `reset()` starts a new peak window."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self.reset()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def reset(self) -> None:
        with self._lock:
            self.peak = {"tree": 0, "jvm": 0, "py_worker": 0}

    def _sample(self) -> None:
        rss = {p: int(f[21]) * _PAGE for p, f in _tree(self.root)}
        jvm = [p for p in rss if p != self.root and _comm(p) == "java"]
        workers = [q for j in jvm for q in tree_pids(j) if q != j and q in rss]
        with self._lock:
            pk = self.peak
            pk["tree"] = max(pk["tree"], sum(rss.values()))
            pk["jvm"] = max(pk["jvm"], sum(rss[j] for j in jvm))
            pk["py_worker"] = max([pk["py_worker"]] + [rss[q] for q in workers])

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)

    def peak_mb(self, key: str) -> float:
        with self._lock:
            return self.peak[key] / (1 << 20)


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written once at the end. Disabled, `span` only yields."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        scale = 1e-6 if m["metricType"] == "nsTiming" else 1
        out[m["accumulatorId"]] = (f"{node['nodeName'].strip()}/{m['name']}",
                                   scale)
    for child in node.get("children", []):
        _plan_metrics(child, out)


def read_event_logs(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, task durations (all, and per stage), GC
    time, shuffle bytes and the raw per-task SQL metric updates, summed
    by "node/metric" (e.g. "ArrowEvalPython/time to run Python workers";
    times in ms)."""
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "task_ms": [], "stage_task_ms": defaultdict(list),
        "gc_ms": 0,
        "shuffle_write_bytes": 0, "sql": defaultdict(float)})
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_group: dict[int, str] = {}
        sql_acc: dict[int, tuple[str, float]] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if "sparkPlanInfo" in ev:
                    # SQL execution start and AQE re-plans
                    _plan_metrics(ev["sparkPlanInfo"], sql_acc)
                elif kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    groups[g]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    rec, info = groups[g], ev["Task Info"]
                    ms = info["Finish Time"] - info["Launch Time"]
                    rec["task_ms"].append(ms)
                    rec["stage_task_ms"][ev["Stage ID"]].append(ms)
                    tm = ev.get("Task Metrics") or {}
                    rec["gc_ms"] += tm.get("JVM GC Time", 0)
                    rec["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics")
                                                   or {}).get("Shuffle Bytes Written", 0)
                    for acc in info.get("Accumulables", []):
                        key = sql_acc.get(acc.get("ID"))
                        if key and "Update" in acc:
                            rec["sql"][key[0]] += int(acc["Update"]) * key[1]
    return groups
