"""Checkpoint-resume: completed buckets are skipped; output equals a
single-shot run; lineage metrics recorded per bucket; buckets run
concurrently, in the caller's job group, and a failed bucket leaves a
resumable state."""

from __future__ import annotations

import os
import threading
import time
import warnings
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from glirel_spark.plans.lineage import LineageLog, run_resumable


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(f"d{i}", i) for i in range(40)], "doc_id string, v int"
    )


def _process(subset):
    return subset.withColumn("out", F.col("v") * 2)


def _process_counting(calls):
    def counting(subset):
        calls.append(1)
        return _process(subset)
    return counting


def test_resume_skips_completed(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    calls = []
    counting = _process_counting(calls)

    r1 = run_resumable(spark, docs, counting, out, lin, n_buckets=4)
    assert r1.count() == 40 and len(calls) == 4

    # second run: all buckets already done -> zero processing
    calls.clear()
    r2 = run_resumable(spark, docs, counting, out, lin, n_buckets=4)
    assert len(calls) == 0 and r2.count() == 40

    log = LineageLog(spark, lin)
    m = log.metrics()
    assert sorted(r.bucket for r in m.collect()) == [0, 1, 2, 3]
    assert m.agg(F.sum("n_docs")).collect()[0][0] == 40


def test_partial_resume(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    # simulate a crash: run only buckets 0-1 by pre-recording 2-3... inverse:
    # pre-record buckets 2 and 3 as done, then run — only 0,1 process.
    log = LineageLog(spark, lin)
    log.record(2, 0, 0, 0.0)
    log.record(3, 0, 0, 0.0)
    calls = []
    run_resumable(spark, docs, _process_counting(calls), out, lin, n_buckets=4)
    assert len(calls) == 2


def _explode_some(subset):
    """0, 1 or 2 output rows per doc, so rows written != docs read."""
    return subset.select(
        "doc_id", F.explode(F.array_repeat(F.col("v"), F.col("v") % 3)).alias("out")
    )


def test_observed_counts_equal_recount(spark, docs, tmp_path):
    """The lineage counts the write observes equal a recount of each
    bucket's docs and a read-back of its output, on a resumed run that
    includes an empty bucket."""
    from glirel_spark.plans.lineage import bucket_of

    n_buckets = 4
    # without bucket 3's docs, that bucket runs, reads nothing and writes nothing
    some = docs.filter(bucket_of(F.col("doc_id"), n_buckets) != 3)
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    LineageLog(spark, lin).record(1, 0, 0, 0.0)  # a previous run finished bucket 1
    run_resumable(spark, some, _explode_some, out, lin, n_buckets=n_buckets)

    observed = {
        r.bucket: (r.n_docs, r.n_triples)
        for r in spark.read.parquet(lin).collect() if r.bucket != 1
    }
    recount = {
        b: (
            some.filter(bucket_of(F.col("doc_id"), n_buckets) == b).count(),
            spark.read.parquet(f"{out}/_bucket={b}").count(),
        )
        for b in (0, 2, 3)
    }
    assert observed == recount
    assert recount[3] == (0, 0)
    assert recount[0][0] > 0 and recount[2][0] > 0


def test_bucket_runs_only_write_and_lineage_jobs(spark, docs, tmp_path):
    """A processed bucket runs two Spark jobs: its write and its
    lineage row. Nothing re-runs its scan to count docs or reads its
    output back."""
    sc = spark.sparkContext
    caller = f"{tmp_path.name}-caller"
    groups, lock = [], threading.Lock()

    def tagged(subset):
        # every job this bucket's thread runs from here on is this bucket's
        with lock:
            name = f"{tmp_path.name}-bucket-{len(groups)}"
            groups.append(name)
        sc.setJobGroup(name, name)
        return _process(subset)

    sc.setJobGroup(caller, caller)
    try:
        run_resumable(spark, docs, tagged, str(tmp_path / "out"),
                      str(tmp_path / "lineage"), n_buckets=4)
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    assert [len(tracker.getJobIdsForGroup(g)) for g in groups] == [2, 2, 2, 2]
    # the one job that reads the finished table's schema for the
    # returned DataFrame runs on the caller's thread, in its group
    assert len(tracker.getJobIdsForGroup(caller)) == 1


def test_caller_job_group_holds_every_bucket_job(spark, docs, tmp_path):
    """A job group set before the call holds every bucket's write and
    lineage jobs, though they run on pool threads."""
    sc = spark.sparkContext
    group = f"{tmp_path.name}-caller"
    sc.setJobGroup(group, group)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            run_resumable(spark, docs, _process, str(tmp_path / "out"),
                          str(tmp_path / "lineage"), n_buckets=4)
    finally:
        sc.setJobGroup("", "")
    # 4 buckets x (write + lineage row) + the returned DataFrame's schema read
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2 * 4 + 1
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]


def test_buckets_run_concurrently_within_bound(spark, docs, tmp_path, monkeypatch):
    """More than one bucket is in flight (from its process_bucket call
    to its lineage commit) when there is more than one core, and never
    more than min(buckets, default parallelism, usable CPUs)."""
    n_buckets = 8
    bound = min(n_buckets, spark.sparkContext.defaultParallelism,
                len(os.sched_getaffinity(0)))
    if bound < 2:
        pytest.skip(f"one bucket in flight at a time here (bound {bound})")
    lock = threading.Lock()
    active, peak = [0], [0]

    def slow(subset):
        with lock:
            active[0] += 1
            peak[0] = max(peak[0], active[0])
        time.sleep(0.5)  # hold the bucket open while its siblings start
        return _process(subset)

    record = LineageLog.record

    def committed(self, *args):
        record(self, *args)
        with lock:
            active[0] -= 1

    monkeypatch.setattr(LineageLog, "record", committed)
    lin = str(tmp_path / "lineage")
    out = run_resumable(spark, docs, slow, str(tmp_path / "out"), lin,
                        n_buckets=n_buckets)
    assert out.count() == 40 and active[0] == 0
    assert 1 < peak[0] <= bound, (peak[0], bound)
    # no concurrent lineage commit was lost
    m = LineageLog(spark, lin).metrics()
    assert sorted(r.bucket for r in m.collect()) == list(range(n_buckets))
    assert m.agg(F.sum("n_docs")).collect()[0][0] == 40


class Boom(Exception):
    pass


def test_failed_bucket_leaves_resumable_state(spark, docs, tmp_path):
    """One bucket raises: that error propagates, pending buckets do not
    start, running ones finish and record, every recorded bucket has
    its output, and a rerun processes exactly the unrecorded buckets
    into the output of a one-shot run."""
    n_buckets = 8
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    boom = Boom("bucket failed")
    calls, lock = [], threading.Lock()

    def third_fails(subset):
        with lock:
            calls.append(1)
            n = len(calls)
        if n == 3:
            raise boom
        time.sleep(0.3)  # the failure lands while its siblings still run
        return _process(subset)

    with pytest.raises(Boom) as raised:
        run_resumable(spark, docs, third_fails, out, lin, n_buckets=n_buckets)
    assert raised.value is boom

    recorded = LineageLog(spark, lin).completed_buckets()
    # pending buckets never started (the session's 4 cores bound the
    # pool below 8); every one that did, except the failed one, committed
    assert len(calls) < n_buckets
    assert len(recorded) == len(calls) - 1
    assert all((Path(out) / f"_bucket={b}").is_dir() for b in recorded)

    calls.clear()
    resumed = run_resumable(spark, docs, _process_counting(calls), out, lin,
                            n_buckets=n_buckets)
    assert len(calls) == n_buckets - len(recorded)
    rows = [r.bucket for r in LineageLog(spark, lin).metrics().collect()]
    assert sorted(rows) == list(range(n_buckets))  # no bucket ran twice

    once = run_resumable(spark, docs, _process, str(tmp_path / "once"),
                         str(tmp_path / "once_lineage"), n_buckets=n_buckets)
    assert sorted(map(tuple, resumed.collect())) == sorted(map(tuple, once.collect()))


def test_other_failures_are_notes_on_the_first(spark, docs, tmp_path):
    """Two buckets in flight together both raise: one error is
    re-raised, and the other is a note on it, not lost."""
    if min(spark.sparkContext.defaultParallelism, len(os.sched_getaffinity(0))) < 2:
        pytest.skip("one bucket in flight at a time here")
    both_started = threading.Barrier(2, timeout=60)
    calls, lock = [], threading.Lock()

    def first_two_fail(subset):
        with lock:
            calls.append(1)
            n = len(calls)
        if n <= 2:
            both_started.wait()
            raise Boom(f"call {n}")
        return _process(subset)

    with pytest.raises(Boom) as raised:
        run_resumable(spark, docs, first_two_fail, str(tmp_path / "out"),
                      str(tmp_path / "lineage"), n_buckets=4)
    other = "call 2" if str(raised.value) == "call 1" else "call 1"
    assert [n for n in raised.value.__notes__ if "also failed" in n and other in n]

