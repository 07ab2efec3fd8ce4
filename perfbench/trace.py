"""Measurement helpers: spans with self time, the py4j call counter, the
Spark event-log fold, the percentile rule, the landed-file -> batch ->
commit join behind freshness, and process-tree RSS/CPU sampling.

Everything here except ``Py4jCounter`` and ``ProcSampler`` is a pure
function of its arguments, so the tests can feed it canned inputs.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from bisect import bisect_right
from pathlib import Path

# --- percentiles --------------------------------------------------------


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = max(1, -(-len(xs) * q // 100))  # ceil(n*q/100), at least rank 1
    return float(xs[int(k) - 1])


def beyond(values, q: float) -> int:
    """How many samples lie strictly above the q-th percentile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


# a reported percentile needs this many samples strictly beyond it
TAIL_SAMPLES = 10


def min_samples_for(q: float) -> int:
    """Smallest sample count whose q-th percentile has ``TAIL_SAMPLES``
    samples strictly beyond it when the samples are distinct."""
    n = 1
    while n - int(-(-n * q // 100)) < TAIL_SAMPLES:
        n += 1
    return n


def median(values) -> float:
    return float(statistics.median(values))


# --- spans --------------------------------------------------------------


class Tracer:
    """Spans (name, layer, start, end, parent, run id) kept in memory and
    written once at exit. Disabled tracers hand out a null context, so an
    untraced run pays one attribute test per layer call."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = 0

    def current(self) -> dict | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def _span(self, name: str, layer: str, parent: dict | None):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._ids += 1
            sid = self._ids
        parent = parent if parent is not None else (stack[-1] if stack else None)
        span = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            "py4j": 0,
        }
        stack.append(span)
        try:
            yield span
        finally:
            span["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    def span(self, name: str, layer: str, parent: dict | None = None):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, layer, parent)

    def add(self, name: str, layer: str, start: float, end: float | None, parent: dict | None) -> dict | None:
        """Record a span observed elsewhere (a trigger from a progress
        event, a Spark job from the event log) and return it; a span
        added with no end gets its end set by the caller."""
        if not self.enabled:
            return None
        with self._lock:
            self._ids += 1
            span = {
                "id": self._ids,
                "name": name,
                "layer": layer,
                "parent": parent["id"] if parent else None,
                "run": self.run_id,
                "start": start,
                "end": end,
                "py4j": 0,
            }
            self.spans.append(span)
        return span

    def write(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: (s["start"], s["id"])):
                f.write(json.dumps(s) + "\n")


def _union_len(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover
    (children clipped to the parent; overlapping children counted once)."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = [
            (max(lo, c["start"]), min(hi, c["end"]))
            for c in kids.get(s["id"], [])
            if c["end"] > lo and c["start"] < hi
        ]
        out[s["id"]] = (hi - lo) - _union_len(covered)
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Layer -> summed self time (seconds) of its spans."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


# --- py4j ---------------------------------------------------------------


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's
    ``send_command`` in this process; each call is charged to the
    calling thread's current span, when there is one."""

    def __init__(self, spark, tracer: Tracer):
        self.total = 0
        self._lock = threading.Lock()
        client = spark.sparkContext._gateway._gateway_client
        inner = client.send_command

        def send_command(*a, **kw):
            with self._lock:
                self.total += 1
            span = tracer.current()
            if span is not None:
                span["py4j"] += 1
            return inner(*a, **kw)

        client.send_command = send_command


# --- Spark event log ----------------------------------------------------


def read_event_log(path: Path) -> list[dict]:
    events = []
    for p in sorted(Path(path).rglob("*")):
        if p.is_file() and not p.name.startswith("."):
            with open(p) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        events.append(json.loads(line))
    return events


PHASE_METRICS = (
    "jobs",
    "tasks",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_bytes",
    "spill_bytes",
    "task_max_over_p50",
    "driver_gap_ms",
)


def fold_event_log(events: list[dict], phases: dict[str, list[tuple[float, float]]], batch_phase) -> dict:
    """Fold job, stage and task events into per-phase engine metrics.

    ``phases`` maps a phase name to its (start, end) wall intervals in
    epoch seconds. A job belongs to the phase named by its job group
    (``spark.jobGroup.id``); a micro-batch job carries no group, and
    ``batch_phase(query_id, batch_id)`` names its phase instead. Jobs of
    no phase are ignored. ``driver_gap_ms`` is the phase's wall time
    minus the union of its jobs' wall intervals: time the driver spent
    building and scheduling plans, or waiting. ``task_max_over_p50`` is
    the largest max/median task-duration ratio over the phase's stages.
    """
    job_phase: dict[int, str] = {}
    job_span: dict[int, list] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list] = {}
    acc = {p: dict.fromkeys(PHASE_METRICS, 0) for p in phases}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            phase = props.get("spark.jobGroup.id")
            if phase not in phases and "streaming.sql.batchId" in props:
                phase = batch_phase(
                    props.get("sql.streaming.queryId"),
                    int(props["streaming.sql.batchId"]),
                )
            if phase in phases:
                jid = e["Job ID"]
                job_phase[jid] = phase
                job_span[jid] = [e["Submission Time"] / 1000.0, None]
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = jid
        elif ev == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_span:
                job_span[jid][1] = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            jid = stage_job.get(sid)
            if jid is None:
                continue
            a = acc[job_phase[jid]]
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            a["tasks"] += 1
            a["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            a["gc_ms"] += m.get("JVM GC Time", 0)
            a["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            stage_tasks.setdefault(sid, []).append(
                info.get("Finish Time", 0) - info.get("Launch Time", 0)
            )
    for jid, phase in job_phase.items():
        acc[phase]["jobs"] += 1
    for sid, durs in stage_tasks.items():
        a = acc[job_phase[stage_job[sid]]]
        mid = statistics.median(durs)
        ratio = max(durs) / mid if mid > 0 else 1.0
        a["task_max_over_p50"] = max(a["task_max_over_p50"], ratio)
    for phase, intervals in phases.items():
        gap = 0.0
        for lo, hi in intervals:
            ivs = [
                (max(lo, s), min(hi, e))
                for jid, (s, e) in job_span.items()
                if job_phase[jid] == phase and e is not None and e > lo and s < hi
            ]
            gap += max(0.0, (hi - lo) - _union_len(ivs))
        acc[phase]["driver_gap_ms"] = gap * 1000.0
    return acc


# --- freshness ----------------------------------------------------------


def parse_file_source_log(source_dir: Path) -> dict[str, int]:
    """Landed file name -> micro-batch id, from a file-stream source's
    checkpoint log (``<checkpoint>/sources/0``: one file per batch, plus
    ``N.compact`` files that repeat earlier entries)."""
    out: dict[str, int] = {}
    for p in Path(source_dir).iterdir():
        if p.name.startswith(".") or p.name.endswith(".tmp"):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def commit_times(commits_dir: Path) -> dict[int, float]:
    """Batch id -> commit time (mtime of the checkpoint's commit file)."""
    out = {}
    if not Path(commits_dir).is_dir():
        return out
    for p in Path(commits_dir).iterdir():
        if p.name.isdigit():
            out[int(p.name)] = p.stat().st_mtime
    return out


def landed_time(name: str) -> float:
    """The receiver names each landed file ``obs-<time_ns>-<id>.parquet``."""
    return int(name.split("-")[1]) / 1e9


def freshness(
    sends: list[tuple[float, float, float]],
    file_batch: dict[str, int],
    batch_commit: dict[int, float],
) -> tuple[list[float], int]:
    """Join dumps to commits. ``sends`` holds (scheduled, post_start,
    post_end) per dump, in posting order, from one sequential sender: a
    landed file belongs to the dump whose post interval contains its
    landing time. Returns the freshness (commit - scheduled) of every
    dump whose batch committed, and the number of dumps left unjoined."""
    starts = [s[1] for s in sends]
    by_dump: dict[int, float] = {}
    for name, batch in file_batch.items():
        t = landed_time(name)
        i = bisect_right(starts, t) - 1
        if i < 0 or t > sends[i][2] or batch not in batch_commit:
            continue
        by_dump[i] = batch_commit[batch]
    out = [by_dump[i] - sends[i][0] for i in sorted(by_dump)]
    return out, len(sends) - len(out)


# --- process tree -------------------------------------------------------


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_rss_mb(root: int) -> float:
    total = 0
    for p in _tree_pids(root):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


def tree_cpu_s(root: int) -> float:
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in _tree_pids(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


RSS_PERIOD_S = 0.25


class ProcSampler:
    """Samples the RSS of this process and its descendants (the driver
    JVM and its Python workers) every ``RSS_PERIOD_S``; keeps the peak."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
