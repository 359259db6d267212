"""Checkpoint-resume: completed buckets are skipped; output equals a
single-shot run; lineage metrics recorded per bucket."""

from __future__ import annotations

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


def test_resume_skips_completed(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    calls = []

    def counting(subset):
        calls.append(1)
        return _process(subset)

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

    def counting(subset):
        calls.append(1)
        return _process(subset)

    run_resumable(spark, docs, counting, out, lin, n_buckets=4)
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
    groups = []

    def tagged(subset):
        # every job from here until the next bucket's call is this bucket's
        groups.append(f"{tmp_path.name}-bucket-{len(groups)}")
        sc.setJobGroup(groups[-1], groups[-1])
        return _process(subset)

    try:
        run_resumable(spark, docs, tagged, str(tmp_path / "out"),
                      str(tmp_path / "lineage"), n_buckets=4)
    finally:
        sc.setJobGroup("", "")
    jobs = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]
    # the last bucket's group also holds the one job that reads the
    # finished table's schema for the returned DataFrame
    assert jobs == [2, 2, 2, 3]
