"""Driver-side phase clock, the wrappers that drive it, and the fold of
Spark's event log onto its intervals.

The wrappers sit around the program's public calls (``Crawler.run``,
``resume``, ``mark_for_recrawl``, ``run_wave``, ``consolidate_facts``,
``IceliteCatalog.commit_snapshot``, ``ShardedBloom.add`` / ``build``);
nothing inside ``edgar_spark`` changes. Each wrapper switches
the clock to a named phase, so at any instant exactly one phase is open.
The fold then attributes every Spark job to the interval that holds its
submission time. Job descriptions alone cannot do this:
``commit_snapshot`` writes its tables from plain worker threads, which do
not inherit the caller's thread-local job description.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import json
import math
import re
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from typing import Callable, Iterator, Optional

# the crawl's phases, in wave order; see instrumented() for their bounds
CRAWL_PHASES = (
    "seed", "restore", "mark", "discover", "commit", "maintain", "finalize",
)
# the phases a run reports: the crawl's, the hot path, the operator key
# calls and the benchmark's own jobs
REPORTED_PHASES = CRAWL_PHASES + ("extract", "op", "bench")
# what the trace reports per phase, with units
PHASE_FIELDS = {
    "wall_s": "s", "exec_run_s": "s", "exec_cpu_s": "s", "gc_s": "s",
    "jobs": "count", "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
    "spill_mb": "MB",
}
# Python-node SQL metrics Spark writes to the event log, by our name
PY_METRICS = {
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_sent_mb",
    "data returned from Python workers": "py_recv_mb",
}
_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0 / (1 << 20)}
# a Python node is a parse kernel when its function reads the page text
# column: the parse_*_pages kernels do, the seen-filter probe and build
# (which read only urls) do not
_TEXT_ARG = re.compile(r"^\w+ \w+\([^)]*\btext#\d+")
MB = float(1 << 20)


@dataclass
class Interval:
    phase: str
    section: str
    start_ms: float
    end_ms: float = math.inf


class PhaseClock:
    """Consecutive wall-clock intervals, each naming one phase and the
    benchmark section (``setup``, ``timed``, ``recrawl``, ``check``, ...) it
    ran in.

    ``describe``, when set, is called with ``wave{k}/{phase}`` at every
    switch; a traced run sets ``SparkContext.setJobDescription`` so the
    event log reads as the crawl."""

    def __init__(self) -> None:
        self.intervals: list[Interval] = []
        self.section = "setup"
        self.wave: Optional[int] = None
        self.describe: Optional[Callable[[str], None]] = None
        # per section: call durations by name, and run_wave's wave metrics
        self.calls: dict[str, dict[str, list[float]]] = defaultdict(
            lambda: defaultdict(list)
        )
        self.waves: dict[str, list[dict]] = defaultdict(list)
        self.switch("bench")

    @property
    def phase(self) -> str:
        return self.intervals[-1].phase

    def switch(self, phase: str, wave: Optional[int] = None) -> None:
        now = time.time() * 1000.0
        if self.intervals:
            self.intervals[-1].end_ms = now
        self.intervals.append(Interval(phase, self.section, now))
        if self.describe is not None:
            self.describe(phase if wave is None else f"wave{wave}/{phase}")

    def begin(self, section: str) -> None:
        """Start a benchmark section; its first phase is the benchmark's own."""
        self.section = section
        self.switch("bench")

    def close(self) -> None:
        self.intervals[-1].end_ms = time.time() * 1000.0

    def record(self, name: str, seconds: float) -> None:
        """Keep one call's duration under the current section."""
        self.calls[self.section][name].append(seconds)

    def wall_s(self, section: str = "timed") -> dict:
        out: Counter = Counter()
        for iv in self.intervals:
            if iv.section == section and iv.end_ms != math.inf:
                out[iv.phase] += (iv.end_ms - iv.start_ms) / 1000.0
        return dict(out)


@contextlib.contextmanager
def instrumented(clock: PhaseClock) -> Iterator[None]:
    """Wrap the program's public calls so they drive ``clock``.

    Phase bounds: ``seed`` runs from ``Crawler.run`` entry and ``restore``
    from ``Crawler.resume`` entry to the first ``run_wave``; ``mark`` is
    the ``mark_for_recrawl`` call; ``discover`` runs from ``run_wave``
    entry to its ``commit_snapshot``, ``commit`` is that call, and
    ``maintain`` runs from its return (the snapshot re-read with
    ``IceliteCatalog.read`` and the seen-filter insert) to the end of the
    wave; ``finalize`` runs from
    ``consolidate_facts`` to the return of ``run`` or ``resume``. On
    return from ``run``, ``resume`` or ``mark_for_recrawl`` the caller's
    phase resumes."""
    from edgar_spark.frontier import crawler
    from edgar_spark.frontier.bloom import ShardedBloom
    from edgar_spark.icelite.table import IceliteCatalog

    patches = []

    def patch(owner, name: str, wrap) -> None:
        raw = owner.__dict__[name]
        patches.append((owner, name, raw))
        if isinstance(raw, classmethod):
            setattr(owner, name, classmethod(wrap(raw.__func__)))
        else:
            setattr(owner, name, wrap(raw))

    def entering(phase: str):
        def wrap(fn):
            @functools.wraps(fn)
            def inner(*a, **k):
                outer = clock.phase
                clock.switch(phase)
                try:
                    return fn(*a, **k)
                finally:
                    clock.switch(outer)

            return inner

        return wrap

    def end_restore() -> None:
        # restore ends at the first wave, or at consolidation when the
        # resumed frontier has nothing pending
        if clock.phase == "restore":
            start = clock.intervals[-1].start_ms
            clock.record("restore", (time.time() * 1000.0 - start) / 1000.0)

    def wrap_wave(fn):
        @functools.wraps(fn)
        def inner(self, frontier, facts, wave_no, *a, **k):
            end_restore()
            clock.wave = wave_no
            clock.switch("discover", wave_no)
            t0 = time.perf_counter()
            out = fn(self, frontier, facts, wave_no, *a, **k)
            clock.record("run_wave", time.perf_counter() - t0)
            clock.waves[clock.section].append(out[2])
            return out

        return inner

    def wrap_commit(fn):
        @functools.wraps(fn)
        def inner(*a, **k):
            in_wave = clock.phase == "discover"
            if in_wave:
                clock.switch("commit", clock.wave)
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                clock.record("commit_snapshot", time.perf_counter() - t0)
                if in_wave:
                    clock.switch("maintain", clock.wave)

        return inner

    def wrap_finalize(fn):
        @functools.wraps(fn)
        def inner(*a, **k):
            end_restore()
            clock.switch("finalize", clock.wave)
            return fn(*a, **k)

        return inner

    def timed_as(name: str):
        def wrap(fn):
            @functools.wraps(fn)
            def inner(*a, **k):
                t0 = time.perf_counter()
                try:
                    return fn(*a, **k)
                finally:
                    clock.record(name, time.perf_counter() - t0)

            return inner

        return wrap

    patch(crawler.Crawler, "run", entering("seed"))
    patch(crawler.Crawler, "resume", entering("restore"))
    patch(crawler.Crawler, "mark_for_recrawl", entering("mark"))
    patch(crawler.Crawler, "run_wave", wrap_wave)
    patch(crawler, "consolidate_facts", wrap_finalize)
    patch(IceliteCatalog, "commit_snapshot", wrap_commit)
    patch(ShardedBloom, "add", timed_as("bloom.add"))
    patch(ShardedBloom, "build", timed_as("bloom.build"))
    try:
        yield
    finally:
        for owner, name, raw in reversed(patches):
            setattr(owner, name, raw)


# ------------------------------------------------------------ event log


@dataclass
class PhaseAgg:
    """Executor-side totals of the jobs attributed to one phase."""

    jobs: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    # Python-node metrics: all Python nodes, and the parse kernels alone
    py: Counter = field(default_factory=Counter)
    parse_py: Counter = field(default_factory=Counter)

    def add(self, other: "PhaseAgg") -> None:
        self.jobs += other.jobs
        for f in ("exec_run_s", "exec_cpu_s", "gc_s", "shuffle_write_mb",
                  "shuffle_read_mb", "spill_mb"):
            setattr(self, f, getattr(self, f) + getattr(other, f))
        self.py.update(other.py)
        self.parse_py.update(other.parse_py)


@dataclass
class Fold:
    phases: dict  # (section, phase) -> PhaseAgg
    jobs: int
    unattributed_jobs: int
    unattributed_tasks: int

    def total(self, section: str) -> PhaseAgg:
        out = PhaseAgg()
        for (sec, _), agg in self.phases.items():
            if sec == section:
                out.add(agg)
        return out

    def get(self, section: str, phase: str) -> PhaseAgg:
        return self.phases.get((section, phase), PhaseAgg())


def read_events(path: str) -> Iterator[dict]:
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def _plan_nodes(info: dict) -> Iterator[dict]:
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def fold_event_log(path: str, intervals: list[Interval]) -> Fold:
    """Attribute every job in the event log at ``path`` to the interval
    holding its submission time, and sum its tasks' metrics per
    (section, phase). A job submitted outside every interval, and a task
    whose stage belongs to no job, counts as unattributed."""
    starts = [iv.start_ms for iv in intervals]

    def locate(ms: float) -> Optional[tuple]:
        i = bisect.bisect_right(starts, ms) - 1
        if i < 0 or ms >= intervals[i].end_ms:
            return None
        return intervals[i].section, intervals[i].phase

    job_key: dict[int, Optional[tuple]] = {}
    stage_job: dict[int, int] = {}
    acc: dict[int, tuple] = {}  # accumulator id -> (metric, scale, parse?)
    for e in read_events(path):
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            job_key[jid] = locate(float(e["Submission Time"]))
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)  # a stage runs in its first job
        elif ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            for node in _plan_nodes(e["sparkPlanInfo"]):
                is_parse = bool(_TEXT_ARG.match(node.get("simpleString", "")))
                for m in node.get("metrics", []):
                    name = PY_METRICS.get(m["name"])
                    if name is not None:
                        scale = _UNIT_SCALE.get(m.get("metricType"), 1.0)
                        acc[m["accumulatorId"]] = (name, scale, is_parse)

    phases: dict = defaultdict(PhaseAgg)
    for key in job_key.values():
        if key is not None:
            phases[key].jobs += 1
    unattributed_tasks = 0
    for e in read_events(path):
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        key = job_key.get(stage_job.get(e["Stage ID"], -1))
        if key is None:
            unattributed_tasks += 1
            continue
        agg = phases[key]
        tm = e.get("Task Metrics") or {}
        agg.exec_run_s += tm.get("Executor Run Time", 0) / 1e3
        agg.exec_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
        agg.gc_s += tm.get("JVM GC Time", 0) / 1e3
        sw = tm.get("Shuffle Write Metrics") or {}
        agg.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
        sr = tm.get("Shuffle Read Metrics") or {}
        agg.shuffle_read_mb += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / MB
        agg.spill_mb += tm.get("Disk Bytes Spilled", 0) / MB
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            hit = acc.get(a.get("ID"))
            if hit is None or a.get("Update") is None:
                continue
            name, scale, is_parse = hit
            value = float(a["Update"]) * scale
            agg.py[name] += value
            if is_parse:
                agg.parse_py[name] += value
    return Fold(
        phases=dict(phases),
        jobs=len(job_key),
        unattributed_jobs=sum(1 for k in job_key.values() if k is None),
        unattributed_tasks=unattributed_tasks,
    )
