"""Measurement helpers: CPU and RSS of the Spark process tree from
/proc, a Spark-action tracer that attributes each job to the engine
function that triggered it, and an event-log reader."""

from __future__ import annotations

import bisect
import json
import linecache
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------------ /proc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children[int(st[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User+system CPU of the tree, including reaped children."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_mb(root: int) -> float:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


class RssPeak:
    """Samples the tree's RSS every ``period`` s while entered."""

    def __init__(self, root: int, period: float = 0.5):
        self.root, self.period, self.peak = root, period, 0.0
        self._stop = threading.Event()

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.peak = max(self.peak, rss_mb(self.root))

    def __enter__(self):
        self._stop.clear()
        self.peak = max(self.peak, rss_mb(self.root))
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_mb(self.root))


def host_line(cpus) -> str:
    return (f"nproc={os.cpu_count()} cpuset={','.join(map(str, cpus))} "
            f"loadavg={' '.join(f'{x:.2f}' for x in os.getloadavg())}")


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """(p, value) for the highest percentile with >= ``beyond`` samples
    above it; with too few samples, (100, max)."""
    n = len(values)
    if n <= beyond:
        return 100.0, max(values, default=0.0)
    k = n - beyond  # samples at or below the cut
    return 100.0 * k / n, sorted(values)[k - 1]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else float("nan")


# ----------------------------------------------------------------- tracer

_PKG = os.sep + "python_crawler_spark" + os.sep


def _engine_frames(frame):
    """(module-relative file, function, source line) of each engine
    frame on the stack, innermost first."""
    out = []
    while frame is not None:
        fn = frame.f_code.co_filename
        if _PKG in fn:
            rel = fn.split(_PKG, 1)[1]
            text = linecache.getline(fn, frame.f_lineno).strip()
            out.append((rel, frame.f_code.co_name, text))
        frame = frame.f_back
    return out


def layer_of(frames) -> str | None:
    """The layer an action belongs to, from the engine frames that led
    to it (innermost first). None when no engine frame is on the stack
    (a call made by the benchmark itself, labelled by its caller)."""
    if not frames:
        return None
    rel, fun, text = frames[0]
    if rel.startswith("sources/tables"):
        return "tables.write_round"
    if rel.startswith("operators/scheduler"):
        return "scheduler.schedule"
    if rel.startswith("operators/dedup"):
        return "dedup.seen_probe"  # the broadcast probe collects the filters
    if rel.startswith("streaming/"):
        if ".write.mode(\"append\")" in text:
            return "stream.append"
        if "coalesce(1).write" in text or fun == "_load_source_offsets":
            return "stream.offsets"
        return "stream.control"
    if rel.startswith("plans/crawl"):
        if fun == "_update_filters":
            return "crawl.filter_update"
        if fun == "_acc":
            caller = frames[1][2] if len(frames) > 1 else ""
            return "images.decode" if "self.images" in caller else "parse.extract"
        if fun == "run_round":
            if "self._fetch(" in text:
                return "crawl.fetch"
            if "self.seen" in text:
                return "crawl.filter_update"
            if text.startswith("new ="):
                return "dedup.seen_probe"
            if "nxt" in text:
                return "parse.extract"
        if fun in ("run", "run_resumed"):
            return "crawl.round_count"
    return "other:" + rel + ":" + fun


class ActionTracer:
    """Wraps the DataFrame actions the engine calls. Each outermost
    action is timed and labelled with its layer, and its wall-clock
    interval is kept so the event log's jobs can be attributed to it
    (the driver issues one action at a time, so intervals never
    overlap; job properties are not used because adaptive execution
    submits stage jobs from other threads).

    The label is the ``layer_of`` the engine frames on the stack — the
    Python call site of the job — or, for calls the benchmark makes
    itself, the label of the enclosing ``span``."""

    ACTIONS = [
        ("DataFrame", ["localCheckpoint", "collect", "count", "isEmpty", "first", "take"]),
        ("DataFrameWriter", ["save", "parquet"]),
    ]

    def __init__(self):
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.bookkeeping_s = 0.0  # time the tracer itself spends per action
        self.intervals: list[tuple[float, float, str]] = []  # epoch ms
        self._depth = threading.local()
        self._span: list[str] = []
        self._saved = []

    def __enter__(self):
        from pyspark.sql import readwriter
        from pyspark.sql.classic import dataframe

        mods = {"DataFrame": dataframe.DataFrame, "DataFrameWriter": readwriter.DataFrameWriter}
        for cls_name, names in self.ACTIONS:
            cls = mods[cls_name]
            for name in names:
                orig = getattr(cls, name)
                self._saved.append((cls, name, orig))
                setattr(cls, name, self._wrap(orig))
        return self

    def __exit__(self, *exc):
        for cls, name, orig in reversed(self._saved):
            setattr(cls, name, orig)
        self._saved.clear()

    def span(self, label: str):
        tracer = self

        class _Span:
            def __enter__(self):
                tracer._span.append(label)

            def __exit__(self, *exc):
                tracer._span.pop()

        return _Span()

    def _wrap(self, orig):
        tracer = self

        def wrapped(*args, **kwargs):
            depth = getattr(tracer._depth, "n", 0)
            if depth:
                return orig(*args, **kwargs)
            b0 = time.perf_counter()
            label = layer_of(_engine_frames(sys._getframe(1)))
            if label is None:
                label = tracer._span[-1] if tracer._span else "bench"
            tracer._depth.n = 1
            w0, t0 = time.time(), time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tracer.self_s[label] += t1 - t0
                tracer.calls[label] += 1
                tracer.intervals.append((w0 * 1000, (w0 + t1 - t0) * 1000, label))
                tracer._depth.n = 0
                tracer.bookkeeping_s += (t0 - b0) + (time.perf_counter() - t1)

        return wrapped


# -------------------------------------------------------------- event log


def read_event_log(log_dir: str, intervals) -> dict[str, dict]:
    """Per tracer label: jobs, shuffle write MB, spill MB, GC s, fetch
    wait s, and the max/median task-time skew of its widest stage. A
    job belongs to the traced action whose interval holds its
    submission time; other jobs are labelled 'none'."""
    starts = sorted(intervals)

    def label_at(ms: float) -> str:
        i = bisect.bisect_right(starts, (ms, float("inf"), "")) - 1
        return starts[i][2] if i >= 0 and ms <= starts[i][1] else "none"

    files = sorted(os.path.join(d, f) for d, _, names in os.walk(log_dir) for f in names
                   if f.startswith("events_"))
    stage_label: dict[int, str] = {}
    stage_tasks: dict[int, list[int]] = defaultdict(list)
    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    label = label_at(ev.get("Submission Time", 0))
                    acc[label]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_label[sid] = label
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    label = stage_label.get(sid, "none")
                    a = acc[label]
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    a["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / 2**20
                    a["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) / 2**20
                    a["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get(
                        "Fetch Wait Time", 0) / 1000
                    stage_tasks[sid].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
    for sid, times in stage_tasks.items():
        label = stage_label.get(sid, "none")
        if len(times) > 1 and len(times) >= acc[label].get("_widest", 0):
            med = statistics.median(times)
            acc[label]["_widest"] = len(times)
            acc[label]["task_skew"] = max(times) / med if med > 0 else 1.0
    return {k: dict(v) for k, v in acc.items()}
