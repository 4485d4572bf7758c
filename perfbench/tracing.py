"""Measurement plumbing timed from outside the program.

- :class:`Spans` keeps spans in memory (name, layer, start, end, parent,
  run id) around every call the benchmark makes into a layer, and
  computes per-layer self time.
- :func:`read_event_log` turns a Spark event log (written uncompressed by
  the traced run) into job and stage records, which :func:`nest_jobs`
  hangs under the innermost benchmark span that was open when each job
  was submitted.
- :class:`ProcTree` reads ``/proc`` for the benchmark's process tree:
  peak resident memory (a sampling thread) and CPU seconds split into the
  driver Python process, the JVM and the Python workers under the JVM.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
import uuid
from pathlib import Path


class Spans:
    """In-memory span recorder. Times are ``time.time()`` seconds so that
    they line up with the millisecond wall clock of the Spark event log."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        rec = {"id": len(self.spans), "run_id": self.run_id, "name": name,
               "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, **attrs) -> int:
        """Record a finished span (used for Spark jobs and stages)."""
        rec = {"id": len(self.spans), "run_id": self.run_id, "name": name,
               "layer": layer, "parent": parent, "start": start, "end": end,
               **attrs}
        self.spans.append(rec)
        return rec["id"]

    def self_time_by_layer(self, within: int | None = None) -> dict[str, float]:
        """Per-layer self time: every instant covered by a span is charged
        to the layer of the deepest span open at that instant, so time
        inside a Spark job is not also charged to the benchmark span that
        made the call, and concurrent jobs are not counted twice. The
        layers' totals add up to the time the spans cover. ``within``
        restricts to one span's subtree."""
        by_id = {s["id"]: s for s in self.spans}

        def depth(s: dict) -> int:
            d = 0
            while s["parent"] is not None:
                s, d = by_id[s["parent"]], d + 1
            return d

        def inside(s: dict) -> bool:
            while s is not None:
                if s["id"] == within:
                    return True
                s = by_id.get(s["parent"])
            return False

        live = [(depth(s), s) for s in self.spans if s["end"] is not None
                and (within is None or inside(s))]
        cuts = sorted({t for _, s in live for t in (s["start"], s["end"])})
        out: dict[str, float] = {}
        for a, b in zip(cuts, cuts[1:]):
            open_ = [(d, s) for d, s in live if s["start"] <= a and s["end"] >= b]
            if open_:
                layer = max(open_, key=lambda x: x[0])[1]["layer"]
                out[layer] = out.get(layer, 0.0) + (b - a)
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"run_id": self.run_id,
                                    "spans": self.spans}))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------- event log

def read_event_log(log_dir: Path) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages) from every uncompressed event-log file under
    ``log_dir``. Times are seconds since the epoch."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "id": sid, "tasks": 0, "task_s": [], "run_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "start": None, "end": None})

    logs = [p for p in log_dir.rglob("*") if p.is_file()
            and not p.name.startswith((".", "appstatus"))]
    for f in sorted(logs):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "id": ev["Job ID"],
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "stage_ids": list(ev.get("Stage IDs", []))}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stage(info["Stage ID"])
                    if info.get("Submission Time"):
                        st["start"] = info["Submission Time"] / 1000.0
                    if info.get("Completion Time"):
                        st["end"] = info["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stage(ev["Stage ID"])
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["task_s"].append(
                        (info.get("Finish Time", 0) - info.get("Launch Time", 0))
                        / 1000.0)
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    rd = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                                 + rd.get("Local Bytes Read", 0))
                    wr = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return sorted(jobs.values(), key=lambda j: j["start"]), stages


def nest_jobs(spans: Spans, jobs: list[dict], stages: dict[int, dict],
              root: int) -> None:
    """Hang each job under the innermost span of ``root``'s subtree that
    was open at the job's submission, and each executed stage under the
    first job that lists it (a later job that reuses its shuffle lists it
    again but skips it). Job spans carry the job group, stage spans the
    stage id."""
    kids: dict[int | None, list[dict]] = {}
    for s in spans.spans:
        kids.setdefault(s["parent"], []).append(s)

    def innermost(t: float, node: dict) -> dict | None:
        if not (node["start"] <= t <= node["end"]):
            return None
        for c in kids.get(node["id"], []):
            if c["end"] is not None and c["layer"] != "spark":
                hit = innermost(t, c)
                if hit is not None:
                    return hit
        return node

    top = spans.spans[root]
    placed: set[int] = set()
    for j in jobs:
        owner = innermost(j["start"], top)
        if owner is None:
            continue
        jid = spans.add(f"job {j['id']}", "spark", j["start"], j["end"],
                        owner["id"], kind="job", group=j["group"])
        for sid in j["stage_ids"]:
            st = stages.get(sid)
            if (st is None or st["start"] is None or st["tasks"] == 0
                    or sid in placed):
                continue  # never ran here (skipped: its shuffle was reused)
            placed.add(sid)
            spans.add(f"stage {sid}", "spark", st["start"], st["end"], jid,
                      kind="stage", stage_id=sid)


def job_stage_totals(spans: Spans, stages: dict[int, dict],
                     under: list[int]) -> dict[str, float]:
    """Sum job/stage/task metrics of the job spans nested under the given
    span ids."""
    keep, todo = set(), list(under)
    kids: dict[int | None, list[dict]] = {}
    for s in spans.spans:
        kids.setdefault(s["parent"], []).append(s)
    while todo:
        i = todo.pop()
        keep.add(i)
        todo.extend(c["id"] for c in kids.get(i, []))
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
           "gc_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "task_wall_s": 0.0, "stage_skew_max": 1.0}
    job_iv = []
    for s in spans.spans:
        if s["id"] not in keep or s["layer"] != "spark":
            continue
        if s.get("kind") == "job":
            tot["jobs"] += 1
            job_iv.append((s["start"], s["end"]))
        elif s.get("kind") == "stage":
            st = stages[s["stage_id"]]
            tot["stages"] += 1
            tot["tasks"] += st["tasks"]
            tot["task_s"] += st["run_s"]
            tot["cpu_s"] += st["cpu_s"]
            tot["gc_s"] += st["gc_s"]
            tot["task_wall_s"] += sum(st["task_s"])
            for k in ("shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes"):
                tot[k] += st[k]
            if len(st["task_s"]) >= 2:
                med = statistics.median(st["task_s"])
                if med > 0:
                    tot["stage_skew_max"] = max(tot["stage_skew_max"],
                                                max(st["task_s"]) / med)
    tot["job_wall_s"] = _union_length(job_iv)
    return tot


# ------------------------------------------------------------------- /proc

def _read_stat(pid: int) -> tuple[int, int, int, str] | None:
    """(ppid, own CPU ticks, CPU ticks of reaped children, comm), or None
    if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return None
    comm = st[st.index("(") + 1:st.rindex(")")]
    rest = st[st.rindex(")") + 2:].split()
    return (int(rest[1]), int(rest[11]) + int(rest[12]),
            int(rest[13]) + int(rest[14]), comm)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcTree:
    """The benchmark process and its descendants, read from ``/proc``."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.pid = os.getpid()
        self.hz = os.sysconf("SC_CLK_TCK")
        self.peak_rss_kb = 0
        self._interval = interval_s
        self._lock = threading.Lock()
        self._generation = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def descendants(self) -> dict[int, tuple[int, int, int, str]]:
        """pid -> :func:`_read_stat` for this process and every live
        descendant."""
        table = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _read_stat(int(d))
                if st is not None:
                    table[int(d)] = st
        kids: dict[int, list[int]] = {}
        for pid, st in table.items():
            kids.setdefault(st[0], []).append(pid)
        out, todo = {}, [self.pid]
        while todo:
            p = todo.pop()
            if p in table:
                out[p] = table[p]
                todo.extend(kids.get(p, []))
        return out

    def cpu_split(self) -> dict[str, float]:
        """CPU seconds so far: driver Python process, JVM, and Python
        workers (live JVM descendants plus those the JVM already reaped)."""
        out = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid, (ppid, own, reaped, comm) in self.descendants().items():
            if pid == self.pid:
                out["driver_py"] += own / self.hz
            elif ppid == self.pid and comm == "java":
                out["jvm"] += own / self.hz
                out["pyworker"] += reaped / self.hz
            elif ppid != self.pid:  # everything below the JVM
                out["pyworker"] += (own + reaped) / self.hz
        return out

    def sample_rss(self) -> None:
        with self._lock:
            generation = self._generation
        kb = sum(_rss_kb(p) for p in self.descendants())
        with self._lock:
            # a sample started before reset_peak must not count after it
            if generation == self._generation:
                self.peak_rss_kb = max(self.peak_rss_kb, kb)

    def reset_peak(self) -> None:
        with self._lock:
            self._generation += 1
            self.peak_rss_kb = 0
        self.sample_rss()

    def start(self) -> None:
        def loop():
            while not self._stop.wait(self._interval):
                self.sample_rss()

        self.sample_rss()
        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
