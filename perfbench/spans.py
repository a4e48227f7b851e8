"""Spans recorded around calls into the engine's modules, and Spark's own task
accounting attributed to them.

A span is (id, name, layer, start, end, parent, run id, thread).  Spans live
in memory and are written once, when the run ends.  While a span is open its
thread's Spark jobs carry the span's job tag (``SparkContext.addJobTag``) and
description.  Jobs the engine submits from its own thread pools do not
inherit thread-local tags; those are attributed to the innermost span open at
their submission time.

Spark's per-task metrics come from its local JSON event log, which the
traced run enables in the benchmark's work directory and parses here with
the standard library after the session stops.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path

#: per-layer Spark runtime metrics, summed over the tasks of a layer's jobs
SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "failed_tasks",
)
#: Python-UDF SQL metrics (Arrow boundary), by accumulable name
_ARROW_TO = "data sent to Python workers"
_ARROW_FROM = "data returned from Python workers"


class Tracer:
    """Span recorder.  Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = None
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Open span ``name`` (``layer.call``) as a child of the span open
        on this thread, if any."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        par = stack[-1] if stack else None
        sp = {
            "id": sid,
            "name": name,
            "layer": name.split(".", 1)[0],
            "parent": par["id"] if par else None,
            "depth": (par["depth"] + 1) if par else 0,
            "run_id": self.run_id,
            "thread": threading.get_ident(),
            "tag": f"perfbench-{self.run_id}-{sid}",
        }
        if self.sc is not None:
            self.sc.addJobTag(sp["tag"])
            self.sc.setJobDescription(name)
        stack.append(sp)
        self.overhead_s += time.perf_counter() - t0
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            t1 = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                self.sc.removeJobTag(sp["tag"])
                self.sc.setJobDescription(stack[-1]["name"] if stack else None)
            with self._lock:
                self.spans.append(sp)
            self.overhead_s += time.perf_counter() - t1

    def write(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")


# -- self time ------------------------------------------------------------------


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _union(kids.get(s["id"], []))
        for s in spans
    }


def check_nesting(spans: list[dict]) -> list[str]:
    """Children that start before or end after their parent."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        p = by_id.get(s["parent"])
        if p and (s["start"] < p["start"] or s["end"] > p["end"]):
            bad.append(f'{s["name"]} escapes {p["name"]}')
    return bad


def coverage(spans: list[dict], phase_prefix: str = "phase.") -> float:
    """Smallest share of a phase span's wall covered by its layer children."""
    shares = []
    for p in spans:
        if not p["name"].startswith(phase_prefix):
            continue
        kids = [(s["start"], s["end"]) for s in spans if s["parent"] == p["id"]]
        wall = p["end"] - p["start"]
        if wall > 0:
            shares.append(_union(kids) / wall)
    return min(shares) if shares else 0.0


# -- Spark event log -------------------------------------------------------------


def empty_stats() -> dict:
    return {k: 0 for k in SPARK_KEYS} | {
        "shuffle_write_bytes": 0, "spill_bytes": 0, "output_bytes": 0,
        "arrow_bytes_to_python": 0, "arrow_bytes_from_python": 0,
    }


def parse_event_log(log_dir: Path) -> list[dict]:
    """Per-job totals: {"submit": s, "tags": set, "stats": {...}}."""
    files = sorted(
        p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith((".", "appstatus"))
    )
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_stats: dict[int, dict] = {}
    for path in files:
        with open(path) as f:
            lines = f.readlines()
        for line in lines:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                tags = ev.get("Properties", {}).get("spark.job.tags") or ""
                jobs[jid] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "tags": {t for t in tags.split(",") if t},
                    "stats": empty_stats(),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_stats.setdefault(sid, empty_stats())["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                st = stage_stats.setdefault(ev["Stage ID"], empty_stats())
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["failed_tasks"] += int(bool(info.get("Failed")))
                st["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                st["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == _ARROW_TO:
                        st["arrow_bytes_to_python"] += int(acc.get("Update") or 0)
                    elif acc.get("Name") == _ARROW_FROM:
                        st["arrow_bytes_from_python"] += int(acc.get("Update") or 0)
    for sid, st in stage_stats.items():
        jid = stage_job.get(sid)
        if jid is None:
            continue
        tot = jobs[jid]["stats"]
        for k, v in st.items():
            tot[k] += v
    for j in jobs.values():
        j["stats"]["jobs"] = 1
    return list(jobs.values())


def attribute(spans: list[dict], jobs: list[dict]) -> tuple[dict[int, dict], int]:
    """Sum each job's stats into one span: the deepest span whose tag the
    job carries, else the deepest span open at the job's submission.
    Returns (span id -> stats, number of jobs no span claimed)."""
    by_tag = {s["tag"]: s for s in spans}
    out: dict[int, dict] = {}
    lost = 0
    for j in jobs:
        tagged = [by_tag[t] for t in j["tags"] if t in by_tag]
        if tagged:
            owner = max(tagged, key=lambda s: s["depth"])
        else:
            # small slack: the JVM stamps submission after the Python call
            # that opened the span returned control
            open_ = [s for s in spans if s["start"] - 0.05 <= j["submit"] <= s["end"] + 0.05]
            if not open_:
                lost += 1
                continue
            owner = max(open_, key=lambda s: (s["depth"], s["start"]))
        acc = out.setdefault(owner["id"], empty_stats())
        for k, v in j["stats"].items():
            acc[k] += v
    return out, lost
