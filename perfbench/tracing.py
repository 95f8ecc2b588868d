"""In-memory span tracing and Spark status-store readers for the traced run.

Spans are recorded by benchmark code around calls into the package's public
functions; nothing inside ``fess_ds_s3_spark`` is instrumented. A span's
self time is its duration minus the part of its interval covered by its
direct children. Spans stay in memory until :meth:`Tracer.dump`.

Spark's own numbers come from the two status stores, which work with
``spark.ui.enabled=false``:

- ``sc._jsc.sc().statusStore()`` (core): job intervals, stage shuffle and
  spill bytes, task counts, per-task shuffle records;
- ``spark._jsparkSession.sharedState().statusStore()`` (SQL): physical
  plan text (exchange counts) and formatted SQL metrics (bytes sent to
  Python workers).

The status listener is asynchronous, so :meth:`SparkWindow.collect` waits
until every job submitted in the window has a completion time.
"""

from __future__ import annotations

import functools
import json
import re
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span: duration minus the union of its direct
    children's intervals (clipped to the parent's own interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        end = s.end if s.end is not None else s.start
        out.append(s.duration - _covered(children.get(i, []), s.start, end))
    return out


class Tracer:
    """Spans of one process, kept in memory; ``span`` nests by call order."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _SpanContext(self, name, attrs)

    def _open(self, name: str, attrs: dict) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self.clock(), parent=parent,
                               attrs=dict(attrs)))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx].end = self.clock()
        popped = self._stack.pop()
        if popped != idx:
            raise RuntimeError("spans closed out of order")

    def self_seconds(self) -> dict[str, float]:
        """Total self time per span name."""
        totals: dict[str, float] = {}
        for s, st in zip(self.spans, self_times(self.spans)):
            totals[s.name] = totals.get(s.name, 0.0) + st
        return totals

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def attr_sum(self, name: str, key: str) -> float:
        return sum(s.attrs.get(key, 0) for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        rows = [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "self_s": st, "attrs": s.attrs}
                for s, st in zip(self.spans, self_times(self.spans))]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1, default=str)


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.idx = -1

    def __enter__(self) -> Span:
        self.idx = self.tracer._open(self.name, self.attrs)
        return self.tracer.spans[self.idx]

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.idx)


def force(df, forced: list):
    """Persist ``df`` and count it, so the next layer starts from a
    materialized boundary; ``forced`` collects it for ``unpersist``.
    Returns the persisted frame and its row count."""
    df = df.persist()
    n = df.count()
    forced.append(df)
    return df, n


class Patches:
    """Replace module or class attributes for the traced pass; ``restore``
    puts every original back."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, make_wrapper) -> None:
        original = getattr(owner, attr)
        wrapper = functools.wraps(original)(make_wrapper(original))
        self._saved.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_SHUFFLE_EXCHANGE = re.compile(r"(?<![A-Za-z])Exchange \(\d+\)")


def parse_size(text: str) -> float:
    """Total of a formatted Spark size metric: the first ``<n> <unit>``
    after the header line, e.g. ``"total (min, med, max ...)\\n1.5 MiB
    (...)"`` → 1572864.0. Spark formats with a few significant digits."""
    body = text.split("\n", 1)[-1]
    m = re.search(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB)\b", body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


def count_shuffle_exchanges(plan_text: str) -> int:
    """Shuffle ``Exchange`` nodes (not ``BroadcastExchange``) in the tree
    section of a formatted physical plan; under AQE only the final plan
    counts."""
    tree = plan_text.split("\n\n(1)", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1]
        tree = tree.split("== Initial Plan ==", 1)[0]
    return sum(1 for line in tree.splitlines()
               if _SHUFFLE_EXCHANGE.search(line))


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.length())]


def _opt_ms(jopt) -> int | None:
    return jopt.get().getTime() if jopt.isDefined() else None


@dataclass
class JobInfo:
    job_id: int
    submitted_ms: int
    completed_ms: int | None
    stage_ids: list[int]


class SparkWindow:
    """Everything Spark ran between ``open`` and ``collect``."""

    def __init__(self, spark):
        self.spark = spark
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self.first_job = 0
        self.first_exec = 0

    def _jobs(self) -> list[JobInfo]:
        out = []
        for j in _seq(self._store.jobsList(None)):
            out.append(JobInfo(int(j.jobId()), _opt_ms(j.submissionTime()),
                               _opt_ms(j.completionTime()),
                               [int(s) for s in _seq(j.stageIds())]))
        return out

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def open(self) -> "SparkWindow":
        jobs = self._jobs()
        self.first_job = max((j.job_id for j in jobs), default=-1) + 1
        execs = _seq(self._sql_store().executionsList())
        self.first_exec = max((int(e.executionId()) for e in execs),
                              default=-1) + 1
        return self

    def jobs(self, timeout_s: float = 30.0) -> list[JobInfo]:
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self._jobs() if j.job_id >= self.first_job]
            if all(j.completed_ms is not None for j in jobs) \
                    or time.monotonic() > deadline:
                return sorted(jobs, key=lambda j: j.job_id)
            time.sleep(0.05)

    def _stages(self, stage_ids: set[int]) -> list:
        """Last attempt of each stage that ran; skipped stages (shuffle
        output reused) were never submitted and have no data."""
        out = []
        for sid in sorted(stage_ids):
            try:
                out.append(self._store.lastStageAttempt(sid))
            except Py4JJavaError as exc:
                if "NoSuchElementException" not in str(exc):
                    raise
        return out

    def collect(self) -> dict[str, float]:
        """Shuffle/spill bytes, shuffle exchanges, jobs, tasks and bytes
        sent to Python workers for the window."""
        jobs = self.jobs()
        stage_ids = {s for j in jobs for s in j.stage_ids}
        shuffle = spill = tasks = 0
        for st in self._stages(stage_ids):
            shuffle += int(st.shuffleWriteBytes())
            spill += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
            tasks += int(st.numCompleteTasks())
        exchanges, py_bytes = 0, 0.0
        sql = self._sql_store()
        for e in _seq(sql.executionsList()):
            if int(e.executionId()) < self.first_exec:
                continue
            exchanges += count_shuffle_exchanges(
                str(e.physicalPlanDescription()))
            names = {int(m.accumulatorId()): str(m.name())
                     for m in _seq(e.metrics())}
            values = sql.executionMetrics(e.executionId())
            for acc_id, name in names.items():
                if name == "data sent to Python workers" \
                        and values.contains(acc_id):
                    py_bytes += parse_size(str(values.apply(acc_id)))
        return {"spark.shuffle_bytes": float(shuffle),
                "spark.spill_bytes": float(spill),
                "spark.exchanges": float(exchanges),
                "spark.jobs": float(len(jobs)),
                "spark.tasks": float(tasks),
                "spark.python_bytes_sent": py_bytes}

    def max_task_shuffle_records(self, stage_ids: set[int]) -> int:
        """Largest shuffle-read record count of any task in ``stage_ids``."""
        best = 0
        for st in self._stages(stage_ids):
            for t in _seq(self._store.taskList(int(st.stageId()),
                                               int(st.attemptId()),
                                               100_000)):
                m = t.taskMetrics()
                if m.isDefined():
                    best = max(best, int(m.get().shuffleReadMetrics()
                                         .recordsRead()))
        return best


def busy_ms(jobs: list[JobInfo], lo_ms: float, hi_ms: float) -> float:
    """Milliseconds of [lo, hi] during which at least one job ran."""
    spans = [(j.submitted_ms, j.completed_ms) for j in jobs
             if j.completed_ms is not None]
    return _covered(spans, lo_ms, hi_ms)
