"""Measurement plumbing for the KG-construction benchmark.

Nothing here knows about workloads: spans (``Tracer``), process-tree memory
(``RssSampler``), exact Spark job/task counts (``JobCounter``), micro-batch
progress (``make_progress_listener``), machine CPU counters (``busy_s``,
``steal_frac``) and an order-insensitive fingerprint of a triple set
(``fingerprint``).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

TRIPLE_COLS = ["conv_id", "window_start", "subj", "pred", "obj"]


class Tracer:
    """In-memory spans (name, start, end, parent, trace id) recorded around
    calls into the program. Disabled tracers record nothing."""

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace_id,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part its children
        cover (children are sequential — one caller thread)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child_time):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c)
        return out

    def durations(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"])
        return out

    def write(self, path: str, header: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(json.dumps({"header": header}) + "\n")
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def _children_of(root: int) -> list[int]:
    """All live descendants of ``root`` (from /proc ppid links)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def descendants() -> list[int]:
    return _children_of(os.getpid())


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak resident memory of this process plus all its descendants (the
    JVM and the Python workers it forks), sampled on a thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        pids = [os.getpid(), *descendants()]
        total = sum(_rss_bytes(p) for p in pids)
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def peak_mb(self) -> float:
        self._sample()
        return self.peak_bytes / (1 << 20)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


class JobCounter:
    """Exact Spark job and task counts between two marks.

    Job ids are dense, so the jobs started between two marks are the ids
    between them — including jobs run on threads a caller's job group does
    not reach (checkpoint writers, stream executions). Tasks are the
    completed tasks of the distinct stages of those jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._high = -1

    def mark(self) -> int:
        """The highest job id started so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        while self.tracker.getJobInfo(self._high + 1) is not None:
            self._high += 1
        return self._high

    def count(self, lo: int, hi: int) -> tuple[int, int]:
        stages = set()
        for j in range(lo + 1, hi + 1):
            info = self.tracker.getJobInfo(j)
            stages.update(info.stageIds if info else ())
        tasks = 0
        for sid in stages:
            st = self.tracker.getStageInfo(sid)
            tasks += st.numCompletedTasks if st else 0
        return hi - lo, tasks


def make_progress_listener():
    """A StreamingQueryListener that keeps every micro-batch's progress
    (the pyspark base class is imported lazily: this module must import
    without the program's runtime)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []
            self.terminated: set[str] = set()
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            with self._lock:
                self.batches.append(
                    {
                        "run_id": str(p.runId),
                        "batch_id": p.batchId,
                        "rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                    }
                )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self._lock:
                self.terminated.add(str(event.runId))

        def take(self, timeout_s: float = 30.0) -> list[dict]:
            """Wait until every query that reported progress has also
            reported termination, then hand over (and forget) the
            batches that carried input."""
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                with self._lock:
                    runs = {b["run_id"] for b in self.batches}
                    if runs <= self.terminated:
                        break
                time.sleep(0.05)
            with self._lock:
                out = [b for b in self.batches if b["rows"] > 0]
                self.batches = []
            return out

    return ProgressListener()


def fingerprint(df) -> tuple[int, int]:
    """(rows, order-insensitive hash) of the distinct triple set."""
    from pyspark.sql import functions as F

    row = (
        df.select(*TRIPLE_COLS)
        .distinct()
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64(*TRIPLE_COLS), F.lit(1 << 40))).alias("h"),
        )
        .collect()[0]
    )
    return int(row["n"]), int(row["h"] or 0)


def cpu_jiffies() -> list[int]:
    """Machine-wide CPU time counters (user nice system idle iowait irq
    softirq steal ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between —
    the host noise a run's wall times carry."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def busy_s(before: list[int], after: list[int]) -> float:
    """CPU seconds the machine spent running (not idle, not stolen) in
    between, summed over CPUs."""
    delta = [b - a for a, b in zip(before, after)]
    busy = delta[0] + delta[1] + delta[2] + delta[5] + delta[6]
    return busy / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total
