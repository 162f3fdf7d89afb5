"""Span recorder and Spark engine counters for the traced run.

Spans live in memory and are written once, when the run ends. Each span has
a name, start, end, parent and the run id; a span that calls into Spark also
gets a job group of its own, and after it ends the jobs of that group (plus
the jobs of any streaming query started inside it) are read back from the
status tracker, with per-stage task metrics from the status store. Streaming
micro-batch durations come from a ``StreamingQueryListener``.

Untraced runs use :class:`NullTracer`, whose spans record nothing.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
import uuid

STAGE_FIELDS = (
    "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "input_mb", "output_mb",
)
_MB = 1024.0 * 1024.0


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs", "counts")

    def __init__(self, id_, name, parent, attrs):
        self.id = id_
        self.name = name
        self.parent = parent
        self.start = time.perf_counter()
        self.end = None
        self.attrs = attrs
        self.counts: dict[str, float] = {}

    @property
    def wall(self) -> float:
        return self.end - self.start

    def as_dict(self, origin: float) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "start": self.start - origin, "end": self.end - origin,
            **({"attrs": self.attrs} if self.attrs else {}),
            **({"counts": self.counts} if self.counts else {}),
        }


def self_times(spans) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of that interval
    its child spans cover (overlapping children are counted once)."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.wall - covered
    return out


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name, spark=False, **attrs):
        yield None

    def annotate(self, key, value) -> None:
        pass


class StreamEvents:
    """Collects per-query micro-batch progress from a listener."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.batches: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, e):
                with events.lock:
                    events.started.append(str(e.runId))

            def onQueryProgress(self, e):
                p = e.progress
                d = dict(p.durationMs)
                commit_ms = d.get("walCommit", 0) + d.get("commitOffsets", 0)
                commit_ms += sum(s.commitTimeMs for s in p.stateOperators)
                with events.lock:
                    events.batches.append({
                        "run_id": str(p.runId),
                        "batch_s": d.get("triggerExecution", 0) / 1000.0,
                        "commit_s": commit_ms / 1000.0,
                    })

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                with events.lock:
                    events.terminated.add(str(e.runId))

        return _Listener()

    def drain(self, timeout: float = 10.0) -> tuple[list[str], list[dict]]:
        """Take the runs started since the last drain and their batches,
        after every one of them has reported termination (listener events
        arrive asynchronously)."""
        deadline = time.monotonic() + timeout
        while True:
            with self.lock:
                runs = list(self.started)
                done = all(r in self.terminated for r in runs)
                if done or time.monotonic() > deadline:
                    batches = [b for b in self.batches if b["run_id"] in runs]
                    self.started.clear()
                    self.batches = [
                        b for b in self.batches if b["run_id"] not in runs
                    ]
                    return runs, batches
            time.sleep(0.02)


class Tracer:
    """In-memory spans with Spark job groups and engine counters."""

    enabled = True

    def __init__(self, spark):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.origin = time.perf_counter()
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.streams = StreamEvents()
        spark.streams.addListener(self.streams.listener())

    @contextlib.contextmanager
    def span(self, name, spark=False, **attrs):
        """Record a span; with ``spark=True`` its jobs run in a job group
        named for the span and are counted when it ends. Only leaf spans
        take ``spark=True``: ending one clears the thread's job group."""
        parent = self.stack[-1] if self.stack else None
        if parent is None:
            # drop stream events of calls made while tracing was off
            self.streams.drain()
        s = Span(len(self.spans), name, parent.id if parent else None, attrs)
        self.spans.append(s)
        self.stack.append(s)
        group = f"{self.run_id}-{s.id}"
        if spark:
            self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if spark:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._count(s, group)

    def annotate(self, key, value) -> None:
        """Attach a value to the innermost open span."""
        self.stack[-1].attrs[key] = value

    def _count(self, s: Span, group: str) -> None:
        runs, batches = self.streams.drain()
        tracker = self.sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        for r in runs:
            job_ids += tracker.getJobIdsForGroup(r)
        stage_ids = set()
        for j in job_ids:
            info = self._job_done(tracker, j)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = dict.fromkeys(STAGE_FIELDS, 0.0)
        c["jobs"] = float(len(job_ids))
        c["stages"] = 0.0
        for sid in stage_ids:
            st = self._stage(sid)
            if st is None or st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numTasks()
            c["run_s"] += st.executorRunTime() / 1000.0
            c["cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1000.0
            c["shuffle_read_mb"] += (
                st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()
            ) / _MB
            c["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            c["spill_mb"] += st.diskBytesSpilled() / _MB
            c["input_mb"] += st.inputBytes() / _MB
            c["output_mb"] += st.outputBytes() / _MB
        c["stream_runs"] = float(len(runs))
        c["batches"] = float(len(batches))
        c["batch_s"] = sum(b["batch_s"] for b in batches)
        c["commit_s"] = sum(b["commit_s"] for b in batches)
        s.counts = c

    @staticmethod
    def _job_done(tracker, job_id, timeout: float = 5.0):
        """Job info once the status listener has seen the job end."""
        deadline = time.monotonic() + timeout
        while True:
            info = tracker.getJobInfo(job_id)
            if info is not None and info.status != "RUNNING":
                return info
            if time.monotonic() > deadline:
                return info
            time.sleep(0.01)

    def _stage(self, stage_id):
        from py4j.protocol import Py4JJavaError

        try:
            return self.store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # evicted or never submitted
            return None

    def write(self, path: str, extra: dict) -> float:
        """Write every span with its self time, and the largest gap between
        a root span's wall and the self times of its tree (0 up to float
        rounding, since children nest inside their parents)."""
        selfs = self_times(self.spans)
        tree_self: dict[int, float] = {}
        root_of: dict[int, int] = {}
        for s in self.spans:
            root_of[s.id] = s.id if s.parent is None else root_of[s.parent]
            tree_self[root_of[s.id]] = tree_self.get(root_of[s.id], 0.0) + selfs[s.id]
        gap = max(
            (abs(tree_self[s.id] - s.wall) for s in self.spans if s.parent is None),
            default=0.0,
        )
        doc = {
            "run_id": self.run_id,
            **extra,
            "self_time_gap_s": gap,
            "spans": [
                {**s.as_dict(self.origin), "self": selfs[s.id]}
                for s in self.spans
            ],
        }
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=None, separators=(",", ":"))
        return gap
