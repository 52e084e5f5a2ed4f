"""Benchmark-side spans and the Spark event-log profile built from them.

A span is recorded around each call into a layer of the package: the calls
the benchmark makes itself, and, in a traced run, the public functions those
calls reach (patched for the run's duration). While a span is open the Spark
job group is set to the span's index, so the event log attributes every job,
stage and task to the innermost open span. The log is parsed after the
session stops.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field

# (module, attribute, span name) patched in a traced run. Operators import
# helpers by name, so a helper is patched in every module that calls it.
TRACED_CALLS = (
    ("ocr_toolkit_spark.pipeline", "reconcile_committed", "pipeline.reconcile_committed"),
    ("ocr_toolkit_spark.io", "write_extracted", "io.write_extracted"),
    ("ocr_toolkit_spark.io", "snapshot_commit", "io.snapshot_commit"),
    ("ocr_toolkit_spark.io", "append_lineage", "io.append_lineage"),
    ("ocr_toolkit_spark.operators.dedup", "minhash_banded_frame", "dedup.minhash_banded_frame"),
    ("ocr_toolkit_spark.operators.incremental", "minhash_banded_frame", "dedup.minhash_banded_frame"),
    ("ocr_toolkit_spark.operators.dedup", "jaccard_verify", "dedup.jaccard_verify"),
    ("ocr_toolkit_spark.operators.incremental", "jaccard_verify", "dedup.jaccard_verify"),
    ("ocr_toolkit_spark.operators.dedup", "materialize", "skew.materialize"),
    ("ocr_toolkit_spark.operators.incremental", "materialize", "skew.materialize"),
    ("ocr_toolkit_spark.operators.dedup", "broadcast_build_fits", "skew.broadcast_build_fits"),
    ("ocr_toolkit_spark.operators.incremental", "read_signature_state", "incremental.read_signature_state"),
    ("ocr_toolkit_spark.operators.incremental", "delta_candidate_pairs", "incremental.delta_candidate_pairs"),
    ("ocr_toolkit_spark.operators.incremental", "append_signatures", "incremental.append_signatures"),
)


@dataclass
class Span:
    idx: int
    name: str
    op: int | str | None  # timed op number, a label for untimed measurements
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans. With `sc` set (traced run) it also tags Spark jobs with
    the open span and patches TRACED_CALLS; `last[name]` keeps the value the
    latest call of each patched function returned."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.op: int | str | None = None
        self.last: dict[str, object] = {}
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self.op,
                 self._stack[-1] if self._stack else None, time.time())
        self.spans.append(s)
        self._stack.append(s.idx)
        self._tag(s.idx)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, idx: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id",
                                     None if idx is None else f"pb{idx}")

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            self.last[name] = out
            return out
        return traced

    def __enter__(self) -> Tracer:
        if self.sc is not None:
            import importlib

            for mod_name, attr, name in TRACED_CALLS:
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, attr)
                self._restore.append((mod, attr, fn))
                setattr(mod, attr, self._wrap(fn, name))
        return self

    def __exit__(self, *exc) -> None:
        for mod, attr, fn in reversed(self._restore):
            setattr(mod, attr, fn)
        self._restore.clear()
        self._tag(None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# --- event log -------------------------------------------------------------


def read_event_log(directory: str) -> list[dict]:
    """Events of the one application logged under `directory`, in order.
    Handles both the rolling layout (eventlog_v2_*/events_<n>_*) and a
    single file."""
    (entry,) = os.listdir(directory)
    path = os.path.join(directory, entry)
    if os.path.isdir(path):
        files = sorted(
            (f for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        paths = [os.path.join(path, f) for f in files]
    else:
        paths = [path]
    events = []
    for p in paths:
        with open(p) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


@dataclass
class Job:
    group: str | None
    start: float
    end: float = 0.0


@dataclass
class Stage:
    group: str | None
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


@dataclass
class Usage:
    """What a set of spans made Spark do."""
    jobs: list[Job] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)

    @property
    def tasks(self) -> int:
        return sum(s.tasks for s in self.stages)

    def total(self, attr: str) -> float:
        return sum(getattr(s, attr) for s in self.stages)


def _group_of(event: dict) -> str | None:
    return (event.get("Properties") or {}).get("spark.jobGroup.id")


def parse_events(events: list[dict]) -> tuple[dict[int, Job], dict[tuple[int, int], Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[tuple[int, int], Stage] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = Job(_group_of(e), e["Submission Time"] / 1000)
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]].end = e["Completion Time"] / 1000
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = Stage(_group_of(e))
        elif kind == "SparkListenerTaskEnd":
            st = stages.get((e["Stage ID"], e["Stage Attempt ID"]))
            m = e.get("Task Metrics")
            if st is None or not m:
                continue
            st.tasks += 1
            st.run_s += m["Executor Run Time"] / 1e3
            st.cpu_s += m["Executor CPU Time"] / 1e9
            st.gc_s += m["JVM GC Time"] / 1e3
            st.shuffle_write_mb += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
            st.spill_mb += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 2**20
    return jobs, stages


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, reach = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, reach)
        if b > a:  # clipping can leave an empty interval
            total += b - a
            reach = b
    return total


class Profile:
    """Spans joined with the event log of the same run."""

    def __init__(self, spans: list[Span], events: list[dict], cores: int) -> None:
        self.spans = spans
        self.cores = cores
        jobs, stages = parse_events(events)
        self._jobs: dict[str | None, list[Job]] = {}
        self._stages: dict[str | None, list[Stage]] = {}
        for j in jobs.values():
            self._jobs.setdefault(j.group, []).append(j)
        for s in stages.values():
            self._stages.setdefault(s.group, []).append(s)
        self._children: dict[int, list[int]] = {}
        for s in spans:
            if s.parent is not None:
                self._children.setdefault(s.parent, []).append(s.idx)

    def named(self, op, *names: str) -> list[Span]:
        return [s for s in self.spans if s.op == op and s.name in names]

    def usage(self, roots: list[Span]) -> Usage:
        """Jobs and stages attributed to `roots` and everything under them
        (each counted once when roots nest)."""
        seen: set[int] = set()
        todo = [s.idx for s in roots]
        while todo:
            i = todo.pop()
            if i not in seen:
                seen.add(i)
                todo.extend(self._children.get(i, ()))
        u = Usage()
        for i in sorted(seen):
            u.jobs += self._jobs.get(f"pb{i}", [])
            u.stages += self._stages.get(f"pb{i}", [])
        return u

    def wall(self, op, *names: str) -> float:
        """Time covered by the op's spans of these names (nesting counted once)."""
        return covered([(s.start, s.end) for s in self.named(op, *names)])

    def driver_gap_s(self, root: Span) -> float:
        """Wall time of `root` during which none of its jobs was running."""
        jobs = self.usage([root]).jobs
        return root.wall - covered(
            [(max(j.start, root.start), min(j.end, root.end)) for j in jobs])

    def core_busy_frac(self, root: Span) -> float:
        """Summed executor run time of `root`'s tasks over its wall x cores."""
        return self.usage([root]).total("run_s") / (root.wall * self.cores)


def median_over(ops: list[int], fn) -> float:
    """Median over the timed ops of a per-op value."""
    return statistics.median(fn(op) for op in ops)
