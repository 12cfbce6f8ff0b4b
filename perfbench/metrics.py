"""Metric helpers: percentiles, streaming-progress rollups, span self
times and process-tree peak memory."""

from __future__ import annotations

import json
import math
import os
from statistics import median


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


# --- streaming progress -----------------------------------------------------

def progress_dicts(progress) -> list[dict]:
    """StreamingQueryProgress objects -> plain dicts."""
    return [json.loads(p.json) for p in progress]


def _dur(p: dict, key: str) -> float:
    return float((p.get("durationMs") or {}).get(key, 0))


def stream_summary(main: list[dict], deadletter: list[dict]) -> dict:
    """Per-layer streaming metrics over the main query's data batches;
    the dead-letter query's batches count toward source work only."""
    data = [p for p in main if p.get("numInputRows", 0) > 0]
    trig = [_dur(p, "triggerExecution") for p in data] or [0.0]
    every = main + deadletter
    return {
        "streaming.batches": len(data),
        "streaming.rows_per_batch_p50": median(
            [p["numInputRows"] for p in data] or [0]),
        "streaming.trigger_ms_p50": median(trig),
        "streaming.trigger_ms_p99": pct(trig, 99),
        "streaming.add_batch_ms": sum(_dur(p, "addBatch") for p in data),
        "streaming.overhead_ms": sum(
            _dur(p, "triggerExecution") - _dur(p, "addBatch") for p in data),
        "streaming.query_planning_ms": sum(_dur(p, "queryPlanning") for p in data),
        "streaming.wal_commit_ms": sum(_dur(p, "walCommit") for p in data),
        "streaming.commit_offsets_ms": sum(_dur(p, "commitOffsets") for p in data),
        "sources.lines_read": sum(p.get("numInputRows", 0) for p in every),
        "sources.list_ms": sum(
            _dur(p, "latestOffset") + _dur(p, "getBatch") for p in every),
    }


# --- spans --------------------------------------------------------------------

def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of self time per layer (the span name's first dotted part):
    a span's duration minus the part of it its child spans cover."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s.get("parent"):
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cur = 0.0, s["start"]
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur = hi
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + max(s["end"] - s["start"] - covered, 0.0)
    return out


# --- memory -------------------------------------------------------------------

def _status(pid: int) -> dict[str, str]:
    out = {}
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            k, _, v = line.partition(":")
            out[k] = v.strip()
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    parent: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parent.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parent.get(pid, ()))
    return out


def tree_peak_rss_mb() -> dict[str, float]:
    """Σ VmHWM (peak resident set) of the live processes in this
    process's tree, by kind: the driver, the JVM, Python workers (there
    is no psutil here).  Call it before stopping Spark."""
    me = os.getpid()
    mb = {"total": 0.0}
    for pid in descendants(me):
        try:
            st = _status(pid)
            hwm = int(st.get("VmHWM", "0 kB").split()[0]) / 1024
        except (OSError, ValueError):
            continue
        name = st.get("Name", "")
        kind = ("driver" if pid == me else "jvm" if name == "java" else
                "pyworker" if name.startswith("python") else "other")
        mb[kind] = mb.get(kind, 0.0) + hwm
        mb["total"] += hwm
    return mb
