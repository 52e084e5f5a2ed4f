"""The event-log profile charges jobs, stages and tasks to the innermost open
span, from a synthetic log. No Spark session."""

from __future__ import annotations

from perfbench.trace import Profile, Span, covered


def _task(stage: int, run_ms: int, cpu_ns: int, shuffle: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 0,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _job(job: int, group: str, start_s: float, end_s: float, stage: int, tasks: list) -> list:
    props = {"Properties": {"spark.jobGroup.id": group}}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": start_s * 1000, **props},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0}, **props},
        *tasks,
        {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": end_s * 1000},
    ]


def test_covered_counts_overlap_once_and_skips_empty_intervals():
    assert covered([(0, 2), (1, 3), (5, 4), (6, 7)]) == 4
    assert covered([(0, 10), (2, 3)]) == 10
    assert covered([]) == 0


def test_profile_attributes_jobs_to_span_subtrees():
    spans = [
        Span(0, "op", 0, None, 100.0, 110.0),
        Span(1, "skew.materialize", 0, 0, 101.0, 104.0),
        Span(2, "dedup.jaccard_verify", 0, 0, 105.0, 109.0),
    ]
    events = (
        _job(0, "pb1", 101.0, 103.0, 0, [_task(0, 1000, 5 * 10**8), _task(0, 1000, 10**8)])
        + _job(1, "pb2", 106.0, 108.0, 1, [_task(1, 3000, 10**9, shuffle=2**20)])
        + _job(2, "pb0", 109.0, 109.5, 2, [_task(2, 500, 10**8)])
    )
    prof = Profile(spans, events, cores=2)
    assert [len(prof.usage([s]).jobs) for s in spans] == [3, 1, 1]
    verify = prof.usage([spans[2]])
    assert verify.tasks == 1 and verify.total("shuffle_write_mb") == 1.0
    assert prof.usage(spans).tasks == 4  # nested roots are counted once
    assert prof.wall(0, "skew.materialize", "dedup.jaccard_verify") == 7.0
    # 10 s of op wall, jobs cover 2 + 2 + 0.5 s of it
    assert prof.driver_gap_s(spans[0]) == 5.5
    assert prof.core_busy_frac(spans[0]) == 5.5 / (10.0 * 2)
