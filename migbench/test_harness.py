"""Tests of the benchmark's own helpers.

    python3 -m pytest migbench -q

All but the last test are pure Python; the last one starts a small Spark
session to check that seeded divergence yields exact counts.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from harness import (
    END_TO_END,
    PER_LAYER,
    CompletionLedger,
    JobCost,
    Span,
    Tracer,
    attribute_jobs,
    late_verdict,
    lateness,
    nearest_rank,
    result_line,
    self_seconds,
    split_ranked,
    spread,
    supported_percentile,
)

ROOT = Path(__file__).resolve().parent.parent


def test_p90_needs_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert supported_percentile(xs, 0.9) == 90.0  # 91..100 lie beyond
    with pytest.raises(ValueError, match="9 beyond"):
        supported_percentile(xs[:99], 0.9)
    assert supported_percentile(xs[:20], 0.5) == 10.0
    with pytest.raises(ValueError):
        supported_percentile(xs[:19], 0.5)  # rank 10 of 19: 9 beyond


def test_nearest_rank_and_spread():
    assert nearest_rank([3.0, 1.0, 2.0], 0.5) == 2.0
    assert nearest_rank([5.0, 1.0, 4.0, 2.0, 3.0], 0.9) == 5.0
    s = spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert s["median"] == 3.0
    assert s["iqr_frac"] == pytest.approx((4.5 - 1.5) / 3.0)


def test_jobs_attributed_by_id_window():
    jobs = {
        3: JobCost(stages=1, tasks=2, executor_run_s=0.5),
        4: JobCost(stages=2, tasks=3, executor_run_s=1.0),
        6: JobCost(stages=1, tasks=1, executor_run_s=0.25),
    }
    parent = Span("bench.op", 0.0, 1.0, job_lo=3, job_hi=7)
    child = Span("plans.migrate", 0.1, 0.5, parent=0, job_lo=4, job_hi=5)
    none = Span("plans.migrate", 0.5, 0.6, parent=0, job_lo=5, job_hi=5)
    n, c = attribute_jobs(parent, jobs)
    assert (n, c.stages, c.tasks, c.executor_run_s) == (3, 4, 6, 1.75)
    n, c = attribute_jobs(child, jobs)
    assert (n, c.tasks) == (1, 3)
    assert attribute_jobs(none, jobs)[0] == 0


def test_tracer_windows_parents_and_disabled_mode():
    job = iter(range(100))
    tick = iter(float(i) for i in range(1000))
    t = Tracer(True, next_job_id=lambda: next(job), clock=lambda: next(tick))
    with t.span("bench.op"):
        with t.span("plans.migrate") as s:
            s.counts["rows_written"] = 7
    op, call = t.spans
    assert (op.parent, call.parent) == (None, 0)
    assert op.job_lo <= call.job_lo <= call.job_hi <= op.job_hi
    assert call.counts == {"rows_written": 7}
    assert op.seconds > call.seconds > 0
    off = Tracer(False, next_job_id=lambda: pytest.fail("job id read"))
    with off.span("bench.op") as s:
        pass
    assert off.spans == [] and s.seconds >= 0 and off.overhead_s == 0


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("batch", 0.0, 10.0),
        Span("origin_write", 1.0, 3.0, parent=0),
        Span("target_write", 2.0, 5.0, parent=0),  # overlaps the first
        Span("late", 8.0, 12.0, parent=0),  # runs past its parent
        Span("grandchild", 1.5, 2.5, parent=1),
    ]
    selfs = self_seconds(spans)
    assert selfs[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert selfs[1] == pytest.approx(2.0 - 1.0)
    assert selfs[4] == pytest.approx(1.0)


def test_lateness_verdict():
    due = [0.0, 0.1, 0.2, 0.3]
    lates = lateness(due, [0.001, 0.102, 0.2, 0.45])
    assert lates == pytest.approx([0.001, 0.002, 0.0, 0.15])
    v = late_verdict(lates, limit_s=0.25)
    assert v["valid"] and v["late_max_s"] == pytest.approx(0.15)
    assert v["late_p50_s"] == pytest.approx(0.0015)
    assert not late_verdict(lates, limit_s=0.1)["valid"]
    with pytest.raises(ValueError):
        lateness(due, [0.0])


def test_completion_ledger_is_fifo_from_due_time():
    ledger = CompletionLedger()
    for i in range(5):
        ledger.record_send(due=float(i), sent=float(i) + 0.01)
    ledger.record_batch(2, at=2.5)
    assert not ledger.wait_all(0.0)
    ledger.record_batch(3, at=6.0)
    assert ledger.wait_all(0.0)
    assert ledger.latencies() == pytest.approx([2.5, 1.5, 4.0, 3.0, 2.0])
    with pytest.raises(ValueError):
        ledger.record_batch(1, at=7.0)


def test_split_ranked_is_exact_and_disjoint():
    keys = [f"k{i}" for i in range(10)]
    missing, mismatched, extra = split_ranked(keys, 3, 3, 2)
    assert (len(missing), len(mismatched), len(extra)) == (3, 3, 2)
    assert len(set(missing + mismatched + extra)) == 8
    with pytest.raises(ValueError):
        split_ranked(keys[:7], 3, 3, 2)
    with pytest.raises(ValueError):
        split_ranked(["a", "a", "b"], 1, 1, 1)


def test_result_line_requires_every_metric():
    line = json.loads(result_line(True, 3, 0, {"setup_s": 1.5}, {"setup_s": "s"}))
    assert line == {
        "correct": True, "attempted": 3, "failed": 0,
        "metrics": {"setup_s": {"value": 1.5, "unit": "s"}},
    }
    with pytest.raises(KeyError):
        result_line(True, 1, 0, {}, {"setup_s": "s"})


def test_benchmark_json_matches_the_registry():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    from run import WORKLOAD_NAMES

    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOAD_NAMES


def test_seeded_divergence_gives_exact_counts(tmp_path):
    from workloads import (
        N_EXTRA, N_MISMATCHED, N_MISSING, Run, fetch_job_costs, next_job_id,
        seed_target, start_session,
    )

    from cassandra_data_migration_spark.generate import generate_training_keyspace
    from cassandra_data_migration_spark.plans.repair import merkle_scoped_repair
    from cassandra_data_migration_spark.plans.validate import validate_table

    spark = start_session(str(tmp_path), 2)
    run = Run(spark, str(tmp_path), Tracer(False), seed=5, seconds=1, cores=2)
    users = generate_training_keyspace(spark, scale=1, seed=5)["users"]
    users.write.parquet(run.path("origin", "users"))
    seed_target(run, "users")
    origin = spark.read.parquet(run.path("origin", "users"))
    target = spark.read.parquet(run.path("target", "users"))
    v = validate_table(origin, target, ["user_id"])
    assert (v.missing, v.mismatched, v.extra_in_target) == (N_MISSING, N_MISMATCHED, N_EXTRA)
    assert v.target_count == v.origin_count - N_MISSING + N_EXTRA
    digest = [c for c in origin.columns if c != "user_id"]
    rep = {r["metric"]: r["value"] for r in merkle_scoped_repair(
        origin, target, "user_id", digest).collect()}
    assert (rep["missing_repaired"], rep["mismatched_repaired"], rep["extra_removed"]) == (
        N_MISSING, N_MISMATCHED, N_EXTRA)
    assert rep["post_missing"] == rep["post_mismatched"] == rep["post_extra"] == 0
    # every job of the session is found in the status store, with the
    # stages it ran (the UI is off)
    jobs = fetch_job_costs(spark)
    assert sorted(jobs) == list(range(next_job_id(spark)()))
    assert sum(c.tasks for c in jobs.values()) >= len(jobs)
