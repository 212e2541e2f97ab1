"""Measurement helpers: spans, Spark job attribution, streaming progress,
process-tree memory and on-disk index size.

Nothing here reaches into the engine.  Spark work is attributed from the
outside: an operation runs under its own job group, and afterwards the
status tracker lists the group's jobs while the status store gives each
job's submission/completion time and each stage's task time, shuffle
write and spill.
"""

from __future__ import annotations

import functools
import json
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime
from typing import Optional

# ── statistics ──────────────────────────────────────────────────────────────


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty sample."""
    values = sorted(values)
    if not values:
        return 0.0
    rank = max(1, -(-len(values) * p // 100))
    return float(values[int(rank) - 1])


def union_length(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of ``(start, end)`` intervals clipped to
    ``[lo, hi]``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ── spans ───────────────────────────────────────────────────────────────────


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    span_id: int
    parent: Optional[int]
    op_id: int
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing.

    Spans nest per thread: a span opened inside another on the same thread
    becomes its child.  ``add`` records spans whose times were measured
    elsewhere (Spark jobs, streaming batches)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._next_op = 0

    def new_op(self) -> int:
        with self._lock:
            self._next_op += 1
            return self._next_op

    def _new_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    def add(self, name, start, end, parent=None, op_id=0, **attrs) -> Optional[Span]:
        if not self.enabled:
            return None
        span = Span(name, start, end, self._new_id(), parent, op_id, attrs)
        with self._lock:
            self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, op_id: int = 0, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        span = Span(name, time.time(), 0.0, self._new_id(), parent.span_id if parent else None,
                    op_id or (parent.op_id if parent else 0), dict(attrs))
        stack.append(span)
        try:
            yield span
        finally:
            stack.pop()
            span.end = time.time()
            with self._lock:
                self.spans.append(span)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of the
        span's interval that its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(children.get(s.span_id, ()), s.start, s.end)
            out[s.name] = out.get(s.name, 0.0) + max(0.0, (s.end - s.start) - covered)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end, "id": s.span_id,
                    "parent": s.parent, "op": s.op_id, **s.attrs,
                }) + "\n")


# ── Spark job attribution ───────────────────────────────────────────────────


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: (submitted, completed) epoch seconds per job
    intervals: list = field(default_factory=list)
    #: (start, end) epoch seconds of the watched call
    window: tuple = (float("-inf"), float("inf"))


def _iter_seq(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class JobWatcher:
    """Runs calls under a fresh job group and reads back their Spark jobs.

    Job groups are thread-local (PySpark pins Python threads to JVM
    threads), so concurrent callers on other threads do not mix.  Jobs the
    engine submits from its own worker threads carry no group; those
    submitted while the call ran are attributed to it too.  On ``watch`` a
    concurrent stream batch can submit ungrouped jobs as well, so there the
    benchmark reports only the call's driver time, with job intervals
    clipped to the call."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._n = 0
        self._lock = threading.Lock()

    def _settle(self) -> None:
        """Wait until the status store has seen every posted job event
        (the listener bus is asynchronous)."""
        self._bus.waitUntilEmpty()

    def group(self) -> str:
        with self._lock:
            self._n += 1
            return f"perfbench-{self._n}"

    @contextmanager
    def watch(self, stats_out: list):
        """Context manager; appends the block's :class:`JobStats` to
        ``stats_out`` after the block ends."""
        group = self.group()
        self.sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            t1 = time.time()
            stats = self.stats(self._jobs(group, t0, t1) + self._jobs(None, t0, t1))
            stats.window = (t0, t1)
            stats_out.append(stats)

    def stats(self, job_ids) -> JobStats:
        out = JobStats()
        for jid in job_ids:
            jd = self._store.job(int(jid))
            out.jobs += 1
            out.stages += jd.numCompletedStages() + jd.numFailedStages()
            out.tasks += jd.numCompletedTasks() + jd.numFailedTasks()
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out.intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            for sid in _iter_seq(jd.stageIds()):
                for sd in _iter_seq(self._store.stageData(int(sid), False, None, False, None)):
                    if str(sd.status()) == "SKIPPED":
                        continue
                    out.task_run_s += sd.executorRunTime() / 1e3
                    out.shuffle_write_bytes += sd.shuffleWriteBytes()
                    out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def _jobs(self, group: Optional[str], t0: float, t1: float) -> list[int]:
        """Ids of the jobs in ``group`` (``None``: in no group) submitted
        in ``[t0, t1]`` (epoch s)."""
        self._settle()
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            sub = self._store.job(int(jid)).submissionTime()
            if sub.isDefined() and t0 <= sub.get().getTime() / 1e3 <= t1:
                out.append(int(jid))
        return out

    def stream_jobs(self, run_id: str, t0: float, t1: float) -> list[int]:
        """Ids of the jobs a stream's micro-batches ran in ``[t0, t1]``."""
        return self._jobs(run_id, t0, t1)


def trace_jobs(tracer: Tracer, parent, stats: JobStats) -> None:
    """Child spans for the Spark jobs of one traced call."""
    if tracer.enabled and parent is not None:
        for s, e in stats.intervals:
            tracer.add("spark.job", s, e, parent=parent.span_id, op_id=parent.op_id)


# ── streaming progress ──────────────────────────────────────────────────────

_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets")


def progress_batches(progress: list) -> list[dict]:
    """Per-micro-batch ``{batch_id, start, end, phases}`` (epoch s) from
    ``StreamingQuery.recentProgress``; idle triggers (no ``addBatch``) are
    dropped.  ``numInputRows`` is not used: a sink that reads the batch's
    files itself leaves it at 0."""
    out = []
    for p in progress:
        d = p.get("durationMs", {})
        if "addBatch" not in d:
            continue
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        trig = d.get("triggerExecution", 0) / 1e3
        out.append({
            "batch_id": p["batchId"],
            "start": start,
            "end": start + trig,
            "phases": {k: d[k] / 1e3 for k in _PHASES if k in d},
        })
    return out


def trace_batches(tracer: Tracer, batches: list[dict], inner: dict) -> None:
    """A span per micro-batch with its phases laid out in execution order
    as children (addBatch ends where commitOffsets begins).  ``inner`` maps
    a span name to call intervals timed inside the sink; each becomes a
    child of the addBatch span that contains it."""
    if not tracer.enabled:
        return
    for b in batches:
        op = tracer.new_op()
        root = tracer.add("streaming.ingest.batch", b["start"], b["end"], op_id=op,
                          batch_id=b["batch_id"])
        t = b["start"]
        for name in _PHASES:
            dur = b["phases"].get(name)
            if dur:
                sp = tracer.add(f"streaming.ingest.{name}", t, t + dur, parent=root.span_id, op_id=op)
                if name == "addBatch":
                    # the progress clock has millisecond resolution
                    for child, intervals in inner.items():
                        for s, e in intervals:
                            if b["start"] <= s and e <= b["end"] + 1e-3:
                                tracer.add(child, max(s, t), min(e, t + dur), parent=sp.span_id, op_id=op)
                t += dur


@contextmanager
def timed_methods(enabled: bool, cls, *names):
    """While active, record ``(start, end)`` epoch times of every call to
    the named methods of ``cls`` (for engine calls made on threads the
    benchmark does not own); yields ``{name: [intervals]}``.  A disabled
    instance patches nothing."""
    calls: dict[str, list] = {n: [] for n in names}
    originals = {n: getattr(cls, n) for n in names} if enabled else {}

    def wrap(name, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                calls[name].append((t, time.time()))

        return timed

    for n, fn in originals.items():
        setattr(cls, n, wrap(n, fn))
    try:
        yield calls
    finally:
        for n, fn in originals.items():
            setattr(cls, n, fn)


@contextmanager
def guarded_method(cls, name: str, lock):
    """While active, every call to ``cls.name`` runs holding ``lock``;
    yields a list of ``(epoch start, seconds waited for the lock)`` per
    call.  A class without the method is left as it is."""
    waits: list = []
    fn = getattr(cls, name, None)

    @functools.wraps(fn)
    def guarded(*args, **kwargs):
        t, p = time.time(), time.perf_counter()
        with lock:
            waits.append((t, time.perf_counter() - p))
            return fn(*args, **kwargs)

    if fn is not None:
        setattr(cls, name, guarded)
    try:
        yield waits
    finally:
        if fn is not None:
            setattr(cls, name, fn)


def checkpoint_batch_files(checkpoint_dir: str) -> dict[str, int]:
    """file name -> micro-batch id, read from the stream's file-source log
    (plain and ``.compact`` entries alike)."""
    root = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(root):
        if name.startswith("."):
            continue
        with open(os.path.join(root, name)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


# ── process tree and host ───────────────────────────────────────────────────


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def process_tree(pid: Optional[int] = None) -> list[int]:
    todo, seen = [pid or os.getpid()], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids, timeout: float) -> None:
    """Wait until none of ``pids`` runs (zombies count as ended); kill the
    ones still running after ``timeout`` seconds."""
    deadline = time.time() + timeout
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.time() + 5
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.05)


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak RSS (MB) of each live process of this process tree (driver
    Python, the JVM and its Python workers), keyed ``<name>-<pid>``."""
    out = {}
    for p in process_tree():
        try:
            with open(f"/proc/{p}/comm") as fh:
                name = fh.read().strip()
        except OSError:
            continue
        out[f"{name}-{p}"] = _status_kb(p, "VmHWM") / 1024.0
    return out


def dir_stats(path: str) -> dict:
    """Bytes and file count of an index directory; ``postings_bytes``
    counts the ``postings`` table alone."""
    total = postings = files = 0
    for root, _, names in os.walk(path):
        rel = os.path.relpath(root, path).split(os.sep)
        for n in names:
            if n.startswith((".", "_")):
                continue
            size = os.path.getsize(os.path.join(root, n))
            total += size
            files += 1
            if rel[0] == "postings":
                postings += size
    return {"index_bytes": total, "postings_bytes": postings, "files": files}
