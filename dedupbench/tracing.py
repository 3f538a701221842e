"""Spans around the benchmark's calls into engine layers, folded with
the Spark event log into per-layer records; and a peak-RSS sampler.

A span sets a Spark job group, so every job (and so every task) the
layer runs is tagged with the span.  After the session stops, the
uncompressed event log is read with stdlib ``json`` and each
``SparkListenerTaskEnd`` is folded into its span's layer.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

SPAN_FIELDS = ("wall_s", "tasks", "executor_cpu_s", "gc_s", "shuffle_read_mb",
               "shuffle_write_mb", "spill_mb", "task_max_over_p50")
_MB = 1024 * 1024
UNTRACED = "untraced"


class Tracer:
    """Records spans in memory; one Spark job group per span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []   # {group, layer, pass, start, end}
        self.pass_no = 0              # set by the caller per traced pass
        self._clear()

    def _clear(self) -> None:
        self.sc.setJobGroup(UNTRACED, UNTRACED)

    @contextmanager
    def span(self, layer: str):
        group = f"span{len(self.spans)}.{layer}"
        rec = {"group": group, "layer": layer, "pass": self.pass_no,
               "start": time.perf_counter()}
        self.sc.setJobGroup(group, layer)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self.spans.append(rec)
            self._clear()


def _events(log_dir: str):
    """Job-start and task-end events of every event log under `log_dir`."""
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line or '"SparkListenerTaskEnd"' in line:
                    yield json.loads(line)


def fold_layers(spans: list[dict], log_dir: str) -> tuple[dict, dict]:
    """Fold task metrics per span into {pass: {layer: record}}, and count
    Spark jobs into {pass: {layer: jobs}}."""
    by_group = {s["group"]: (s["pass"], s["layer"]) for s in spans}
    acc: dict = {}
    for s in spans:
        rec = acc.setdefault(s["pass"], {}).setdefault(
            s["layer"], dict.fromkeys(SPAN_FIELDS, 0.0) | {"_dur": []})
        rec["wall_s"] += s["end"] - s["start"]
    jobs: dict = {}
    stage_key: dict = {}
    for ev in _events(log_dir):
        if ev["Event"] == "SparkListenerJobStart":
            key = by_group.get((ev.get("Properties") or {}).get("spark.jobGroup.id"))
            if key is not None:
                layer_jobs = jobs.setdefault(key[0], {})
                layer_jobs[key[1]] = layer_jobs.get(key[1], 0) + 1
                stage_key.update(dict.fromkeys(ev["Stage IDs"], key))
            continue
        key = stage_key.get(ev["Stage ID"])
        if key is None:
            continue
        rec = acc[key[0]][key[1]]
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        rec["tasks"] += 1
        rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        rec["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
        rec["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
        rec["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / _MB
        rec["_dur"].append(ev["Task Info"]["Finish Time"] - ev["Task Info"]["Launch Time"])
    for layers in acc.values():
        for rec in layers.values():
            durs = rec.pop("_dur")
            p50 = statistics.median(durs) if durs else 0
            rec["task_max_over_p50"] = max(durs) / p50 if p50 else 0.0
    return acc, jobs


def _procs() -> dict[int, tuple[int, int]]:
    """{pid: (ppid, rss kB)} for every process visible in /proc."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        out[int(entry)] = (int(fields["PPid"]), int(fields.get("VmRSS", "0 kB").split()[0]))
    return out


def descendants(root: int, procs: dict | None = None) -> list[int]:
    procs = _procs() if procs is None else procs
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def tree_rss_kb(root: int) -> int:
    """Summed RSS of `root` and all its descendants."""
    procs = _procs()
    return sum(procs.get(p, (0, 0))[1] for p in [root] + descendants(root, procs))


class PeakRss:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, interval_s: float = 0.5):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval_s,), daemon=True)

    def _run(self, interval_s: float) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(me))
            self._stop.wait(interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
