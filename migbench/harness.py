"""Measurement helpers for the migration benchmark.

Nothing here imports Spark, so the rules the benchmark reports by
(percentile support, spread, job attribution, self time, load-generator
lateness, open-loop completion order, seeded divergence) are unit-tested
in ``test_harness.py`` without a JVM.
"""

from __future__ import annotations

import json
import math
import statistics
import threading
import time
from collections.abc import Callable, Iterable, Sequence
from contextlib import contextmanager
from dataclasses import dataclass, field

# -- metric registry ---------------------------------------------------------
# BENCHMARK.json lists the same names and units; test_harness checks that.

END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "throughput_rows_per_s": "rows/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "retained_heap_mb": "MB",
}

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "generate.s": "s",
    "generate.rows": "count",
    "generate.pk_collisions": "count",
    "bench.op.self_s": "s",
    "plans.migrate.call_s": "s",
    "plans.migrate.jobs": "count",
    "plans.migrate.stages": "count",
    "plans.migrate.tasks": "count",
    "plans.migrate.executor_run_s": "s",
    "plans.migrate.executor_cpu_s": "s",
    "plans.migrate.busy_frac": "fraction",
    "plans.migrate.input_mb": "MB",
    "plans.migrate.output_mb": "MB",
    "plans.migrate.shuffle_mb": "MB",
    "plans.migrate.rows_scanned": "count",
    "plans.migrate.rows_written": "count",
    "plans.migrate.guardrail_rejected": "count",
    "plans.migrate.rows_read_reported": "count",
    "plans.validate.call_s": "s",
    "plans.validate.sample_call_s": "s",
    "plans.validate.jobs": "count",
    "plans.validate.tasks": "count",
    "plans.validate.shuffle_mb": "MB",
    "plans.validate.executor_run_s": "s",
    "plans.validate.busy_frac": "fraction",
    "plans.repair.call_s": "s",
    "plans.repair.jobs": "count",
    "plans.repair.tasks": "count",
    "plans.repair.shuffle_mb": "MB",
    "plans.repair.executor_run_s": "s",
    "plans.repair.busy_frac": "fraction",
    "plans.repair.divergent_leaves": "count",
    "plans.repair.scoped_fraction": "fraction",
    "streaming.dual_write.batch_s": "s",
    "streaming.dual_write.batch_self_s": "s",
    "streaming.dual_write.origin_write_s": "s",
    "streaming.dual_write.target_write_s": "s",
    "streaming.dual_write.jobs_per_batch": "count",
    "streaming.dual_write.tasks_per_batch": "count",
    "streaming.dual_write.failed_origin": "count",
    "streaming.dual_write.failed_target": "count",
    "stream.trigger_s": "s",
    "stream.engine_s": "s",
    "stream.files_per_batch": "count",
    "stream.batches": "count",
    "loadgen.late_p50_s": "s",
    "loadgen.late_max_s": "s",
    "jvm.peak_rss_mb": "MB",
    "jvm.gc_s": "s",
    "py.peak_rss_mb": "MB",
    "tracing.overhead_frac": "fraction",
}


def result_line(
    correct: bool, attempted: int, failed: int, values: dict[str, float],
    units: dict[str, str],
) -> str:
    """The benchmark's last stdout line.  Every metric of ``units`` must be
    in ``values``: a missing one is a bug in the benchmark, not a zero."""
    missing = sorted(set(units) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(values[name]), "unit": unit}
            for name, unit in units.items()
        },
    })


# -- order statistics --------------------------------------------------------

def nearest_rank(samples: Sequence[float], q: float) -> float:
    """Nearest-rank ``q`` quantile (0 < q <= 1) of a non-empty sample."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    return xs[max(1, math.ceil(q * len(xs))) - 1]


def supported_percentile(
    samples: Sequence[float], q: float, min_beyond: int = 10
) -> float:
    """Nearest-rank ``q`` quantile, refused unless at least ``min_beyond``
    samples rank beyond it -- a tail figure resting on fewer is one
    stall's worth of noise.  p90 therefore needs 100 samples."""
    n = len(samples)
    k = max(1, math.ceil(q * n))
    if n - k < min_beyond:
        raise ValueError(
            f"p{q * 100:g} of {n} samples has {n - k} beyond it; "
            f"{min_beyond} needed"
        )
    return sorted(samples)[k - 1]


def spread(values: Sequence[float]) -> dict[str, float]:
    """Median, quartiles and IQR as a share of the median -- the rule the
    benchmark's bounds are checked by (``statistics.quantiles`` n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_frac": (q3 - q1) / med if med else float("inf"),
    }


# -- tracing -----------------------------------------------------------------

@dataclass
class Span:
    """One timed call into a layer.  ``job_lo``/``job_hi`` bound the Spark
    job ids submitted while it ran: [job_lo, job_hi)."""

    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    job_lo: int = 0
    job_hi: int = 0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans at the benchmark's calls into the package's layers.

    Spans are kept in memory and read out after the run.  Disabled, a
    span still times its block (the workloads need the wall times) but
    reads no job ids and records nothing.  Job windows come from the
    scheduler's next job id, read synchronously at both span edges, so
    jobs run on streaming threads are attributed too -- job groups are
    not, because micro-batch jobs run under the stream's own group.
    Parent links follow nesting on the calling thread."""

    def __init__(
        self,
        enabled: bool,
        next_job_id: Callable[[], int] = lambda: 0,
        clock: Callable[[], float] = time.perf_counter,
    ):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._next_job_id = next_job_id
        self._clock = clock
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            s = Span(name, self._clock())
            try:
                yield s
            finally:
                s.end = self._clock()
            return
        t0 = self._clock()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            idx = len(self.spans)
            s = Span(name, 0.0, parent=stack[-1] if stack else None,
                     job_lo=self._next_job_id())
            self.spans.append(s)
        stack.append(idx)
        s.start = self._clock()
        self._add_overhead(s.start - t0)
        try:
            yield s
        finally:
            t1 = self._clock()
            s.end = t1
            s.job_hi = self._next_job_id()
            stack.pop()
            self._add_overhead(self._clock() - t1)

    def _add_overhead(self, dt: float) -> None:
        with self._lock:
            self.overhead_s += dt


@dataclass
class JobCost:
    """What one Spark job cost, summed over the stages it ran."""

    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    shuffle_mb: float = 0.0

    def add(self, other: JobCost) -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


def attribute_jobs(span: Span, jobs: dict[int, JobCost]) -> tuple[int, JobCost]:
    """(job count, summed cost) of the jobs whose id falls in the span's
    window.  A parent's window contains its children's jobs."""
    total = JobCost()
    n = 0
    for jid in range(span.job_lo, span.job_hi):
        if jid in jobs:
            n += 1
            total.add(jobs[jid])
    return n, total


def self_seconds(spans: Sequence[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover
    (children may overlap one another; the union is subtracted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        reach = s.start
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out.append(s.seconds - covered)
    return out


# -- open-loop load generation -----------------------------------------------

def lateness(due: Sequence[float], sent: Sequence[float]) -> list[float]:
    """How late each send left against its schedule."""
    if len(due) != len(sent):
        raise ValueError("one send time per due time")
    return [s - d for d, s in zip(due, sent)]


def late_verdict(lates: Sequence[float], limit_s: float) -> dict[str, float | bool]:
    """Median and worst lateness; the run is valid only if the worst
    send left within ``limit_s`` of its due time.  An open loop whose
    generator fell behind measured a lighter load than it claims."""
    worst = max(lates)
    return {
        "late_p50_s": statistics.median(lates),
        "late_max_s": worst,
        "valid": worst <= limit_s,
    }


class CompletionLedger:
    """Completion times of sends drained in arrival order.

    The file source takes every file present when a micro-batch is
    planned, oldest first, so a batch that commits ``n`` files completes
    the ``n`` oldest files not yet completed.  Thread-safe: sends are
    recorded by the generator, completions by the stream's batch thread.
    """

    def __init__(self):
        self.due: list[float] = []
        self.sent: list[float] = []
        self.done: list[float] = []
        self._cv = threading.Condition()

    def record_send(self, due: float, sent: float) -> None:
        with self._cv:
            self.due.append(due)
            self.sent.append(sent)

    def record_batch(self, n_files: int, at: float) -> None:
        with self._cv:
            if len(self.done) + n_files > len(self.sent):
                raise ValueError(
                    f"batch completed {n_files} files but only "
                    f"{len(self.sent) - len(self.done)} were outstanding"
                )
            self.done.extend([at] * n_files)
            self._cv.notify_all()

    def wait_all(self, timeout_s: float) -> bool:
        with self._cv:
            return self._cv.wait_for(
                lambda: len(self.done) == len(self.sent), timeout_s
            )

    def latencies(self) -> list[float]:
        """Due-to-commit seconds of every completed send: timing from the
        due time charges a generator stall to the system, not to nobody."""
        with self._cv:
            return [c - d for d, c in zip(self.due, self.done)]


# -- seeded divergence -------------------------------------------------------

def split_ranked(
    ranked: Sequence, n_missing: int, n_mismatched: int, n_extra: int
) -> tuple[list, list, list]:
    """Cut a seed-ranked key list into disjoint missing / mismatched /
    extra-source slices of exactly the requested sizes."""
    need = n_missing + n_mismatched + n_extra
    if len(set(ranked)) != len(ranked):
        raise ValueError("ranked keys must be distinct")
    if len(ranked) < need:
        raise ValueError(f"{need} keys needed, {len(ranked)} given")
    a, b = n_missing, n_missing + n_mismatched
    return list(ranked[:a]), list(ranked[a:b]), list(ranked[b:need])


def median_or_zero(values: Iterable[float]) -> float:
    """Median of a layer's per-op or per-batch values; a layer the
    workload never called did zero work."""
    vs = list(values)
    return statistics.median(vs) if vs else 0.0
