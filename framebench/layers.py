"""Measurement from outside the package: spans around the benchmark's calls
into each layer, the Spark event log reduced to per-span job/stage/task
figures, and process-tree CPU, memory and host-steal readings from /proc.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
# physical-plan nodes that run Python workers (ArrowEvalPython & co.)
PYTHON_NODES = (
    "MapInArrow",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
)


# ---------------------------------------------------------------------------
# spans


class Tracer:
    """Spans (layer, name, start, end, parent) kept in memory.

    When enabled, every span also runs under its own Spark job group, so
    the jobs it starts can be attributed to it from the event log.  When
    disabled, ``span`` records and sets nothing.
    """

    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "layer": layer,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"fb{sid}", f"{layer}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                p = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"fb{p['id']}", f"{p['layer']}:{p['name']}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its direct children cover."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def subtree(spans: list[dict], root: int) -> list[dict]:
    ids, out = {root}, []
    for s in spans:  # parents precede children in creation order
        if s["id"] in ids or s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


# ---------------------------------------------------------------------------
# Spark event log


def read_event_log(log_dir: str) -> dict:
    """Reduce the uncompressed event log to jobs, stages and cached blocks.

    jobs: id -> {group, start, end (epoch s), stages: [...]}
    stages: id -> {tasks, task_s, gc_s, shuffle_write, input_bytes, python}
    blocks: [(job id or None, bytes)] for every RDD block stored while a
    job ran (the log is in event order, so a block update belongs to the
    most recently started job that has not ended).
    """
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    files = sorted(
        (os.path.join(root, f) for root, _, fs in os.walk(log_dir) for f in fs
         if f.startswith("events_") or root == log_dir),
        key=lambda p: [int(t) if t.isdigit() else t for t in os.path.basename(p).split("_")],
    )
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    blocks: list[tuple[int | None, int]] = []
    running: list[int] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                    running.append(jid)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in jobs:
                        jobs[jid]["end"] = ev["Completion Time"] / 1000.0
                    if jid in running:
                        running.remove(jid)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    scopes = " ".join(
                        str(r.get("Scope", "")) + str(r.get("Name", ""))
                        for r in info.get("RDD Info", [])
                    )
                    st = stages.setdefault(info["Stage ID"], _stage())
                    st["python"] = st["python"] or any(n in scopes for n in PYTHON_NODES)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], _stage())
                    st["tasks"] += 1
                    st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                elif kind == "SparkListenerBlockUpdated":
                    info = ev["Block Updated Info"]
                    if str(info.get("Block ID", "")).startswith("rdd_"):
                        size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
                        if size:
                            blocks.append((running[-1] if running else None, size))
    return {"jobs": jobs, "stages": stages, "blocks": blocks}


def _stage() -> dict:
    return {
        "tasks": 0,
        "task_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write": 0,
        "input_bytes": 0,
        "python": False,
    }


def assign_jobs(spans: list[dict], jobs: dict[int, dict]) -> dict[int, list[int]]:
    """span id -> job ids.  A job carrying a span's job group belongs to
    that span; a job without one (a streaming micro-batch started by a
    query thread) belongs to the innermost span open at its submission."""
    by_span: dict[int, list[int]] = {s["id"]: [] for s in spans}
    for jid, j in sorted(jobs.items()):
        g = j["group"]
        if g and g.startswith("fb") and int(g[2:]) in by_span:
            by_span[int(g[2:])].append(jid)
            continue
        best = None
        for s in spans:
            if s["start"] <= j["start"] <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        if best is not None:
            by_span[best["id"]].append(jid)
    return by_span


def job_gap(span: dict, jobs: list[dict]) -> float:
    """Time inside ``span`` during which none of ``jobs`` runs."""
    lo, hi = span["start"], span["end"]
    busy, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(j["start"], lo), min(j["end"] or hi, hi)) for j in jobs):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return max(0.0, (hi - lo) - busy)


# ---------------------------------------------------------------------------
# process tree and host


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, CPU seconds including reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        ppid = int(fields[1])
        cpu = sum(int(x) for x in fields[11:15]) / CLK_TCK
        out[int(d)] = (ppid, cpu)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcessMeter:
    """CPU seconds and peak RSS of this process and all its descendants.

    CPU of a process that exits is folded into its parent's cutime/cstime
    once reaped, so the tree total counts Python workers that have exited.
    Peak RSS is the sum over processes of the largest VmHWM seen at any
    sample; workers born and reaped between samples are not seen.
    """

    def __init__(self) -> None:
        self.root = os.getpid()
        self.peak_kb: dict[int, int] = {}

    def tree(self) -> dict[int, float]:
        table = _proc_table()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            p = todo.pop()
            if p in table:
                out[p] = table[p][1]
                todo.extend(kids.get(p, []))
        return out

    def cpu(self) -> float:
        tree = self.tree()
        for pid in tree:
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), _hwm_kb(pid))
        return sum(tree.values())

    def peak_rss_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0

    def pids(self) -> list[int]:
        return [p for p in self.tree() if p != self.root]


def host_cpu() -> tuple[int, int]:
    """(steal, busy) jiffies of the host from /proc/stat; busy counts every
    state but idle and iowait, steal included."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    v += [0] * (8 - len(v))
    return v[7], sum(v) - v[3] - v[4]
