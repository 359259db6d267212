"""Structured Streaming twin == batch operator on the same input, and
the micro-batch commit protocol (streaming/commit.py) under a forced
replay."""

from __future__ import annotations

import os

from glirel_spark.operators.events import windowed_counts
from glirel_spark.streaming.events_stream import (
    read_events_stream,
    run_to_completion,
    windowed_counts_stream,
)

SF = "/root/testdata/sf0.001"


def _two_batch_docs(spark, tmp_path):
    """(documents, stream): the documents split at the median doc_id
    into two files, fed as TWO micro-batches (maxFilesPerTrigger=1)."""
    import time

    import pyspark.sql.functions as F

    from glirel_spark.streaming.triples_stream import DOCUMENTS_SCHEMA

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cut = docs.agg(F.percentile_approx("doc_id", 0.5)).collect()[0][0]
    src = tmp_path / "docs_src"
    src.mkdir()
    docs.filter(F.col("doc_id") <= cut).coalesce(1).write.parquet(
        str(src / "b0")
    )
    time.sleep(1.1)  # file-source ordering is by modification time
    docs.filter(F.col("doc_id") > cut).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    return docs, stream


def _forget_commit(checkpoint, batch_id):
    """Delete micro-batch ``batch_id``'s commit record, so the next run
    on ``checkpoint`` replays it — what a crash between the sink's
    write and the checkpoint commit leaves behind."""
    for name in (str(batch_id), f".{batch_id}.crc"):
        os.remove(os.path.join(checkpoint, "commits", name))


def test_stream_equals_batch(spark):
    stream = windowed_counts_stream(read_events_stream(spark, SF))
    run_to_completion(stream, "stream_out")
    got = {
        (r.window_start, r.event_type): (r.n, r.value_cents)
        for r in spark.sql("SELECT * FROM stream_out").collect()
    }
    batch = windowed_counts(spark.read.parquet(f"{SF}/events.parquet"))
    want = {
        (r.window_start, r.event_type): (r.n, r.value_cents)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_triples_stream_equals_batch(spark, tmp_path):
    """Streaming extraction (foreachBatch decode) over two micro-batches
    == batch flagship; replaying the second micro-batch adds no row."""
    from glirel_spark.plans import pipeline
    from glirel_spark.streaming.commit import read_batches
    from glirel_spark.streaming.triples_stream import run_extraction_stream

    _, stream_in = _two_batch_docs(spark, tmp_path)
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")
    run_extraction_stream(stream_in, out, ckpt)

    def rows():
        return [
            (r.doc_id, r.head_start, r.head_end, r.tail_start, r.tail_end,
             r.label, r.prob)
            for r in read_batches(spark, out).collect()
        ]

    got = rows()
    want = {
        (r.doc_id, r.head_start, r.head_end, r.tail_start, r.tail_end,
         r.label, r.prob)
        for r in pipeline.triples(spark, SF).collect()
    }
    assert set(got) == want and len(got) == len(want) > 0

    _forget_commit(ckpt, 1)
    q = run_extraction_stream(stream_in, out, ckpt)
    assert q.lastProgress["batchId"] == 1  # batch 1 ran again
    replayed = rows()
    assert len(replayed) == len(got) and set(replayed) == want


def test_stateful_sessionize_equals_batch_closed_sessions(spark):
    """applyInPandasWithState sessionization == batch sessionize for
    every CLOSED session (the trailing open session per user stays in
    the state store when a finite availableNow run ends)."""
    import pyspark.sql.functions as F

    from glirel_spark.operators.events import sessionize
    from glirel_spark.streaming.events_stream import read_events_stream, run_to_completion
    from glirel_spark.streaming.sessions_state import sessionize_stateful

    stream = sessionize_stateful(read_events_stream(spark, SF))
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_state_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.sess_id): (r.n_events, r.sess_start, r.sess_end)
        for r in spark.sql("SELECT * FROM sess_state_out").collect()
    }

    batch = sessionize(spark.read.parquet(f"{SF}/events.parquet"))
    last = batch.groupBy("user_id").agg(F.max("sess_id").alias("sess_id"))
    closed = batch.join(last, ["user_id", "sess_id"], "left_anti")
    want = {
        (r.user_id, r.sess_id): (r.n_events, r.sess_start, r.sess_end)
        for r in closed.collect()
    }
    assert got == want and len(got) > 0


def test_stateful_sessionize_across_micro_batches(spark, tmp_path):
    """Split the events by time into two files and feed them as TWO
    micro-batches (maxFilesPerTrigger=1): sessions spanning the split
    must merge through the state carry, closed-session ids must keep
    counting across batches."""
    import time

    import pyspark.sql.functions as F

    from glirel_spark.operators.events import sessionize
    from glirel_spark.streaming.events_stream import EVENTS_SCHEMA
    from glirel_spark.streaming.sessions_state import sessionize_stateful

    ev = spark.read.parquet(f"{SF}/events.parquet")
    cut = ev.agg(F.percentile_approx("ts", 0.5)).collect()[0][0]
    src = tmp_path / "stream_src"
    src.mkdir()
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(str(src / "b0"))
    time.sleep(1.1)  # file-source ordering is by modification time
    ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(str(src / "b1"))

    stream_in = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q = (
        sessionize_stateful(stream_in)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_state_2b")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.sess_id): (r.n_events, r.sess_start, r.sess_end)
        for r in spark.sql("SELECT * FROM sess_state_2b").collect()
    }

    batch = sessionize(ev)
    last = batch.groupBy("user_id").agg(F.max("sess_id").alias("sess_id"))
    closed = batch.join(last, ["user_id", "sess_id"], "left_anti")
    want = {
        (r.user_id, r.sess_id): (r.n_events, r.sess_start, r.sess_end)
        for r in closed.collect()
    }
    assert got == want and len(got) > 0


def test_stateful_asof_equals_batch_across_micro_batches(spark, tmp_path):
    """As-of enrichment is emit-immediately (no held-back rows), so the
    streaming output must equal the batch as-of EXACTLY, including when
    a user's stream is split across two micro-batches and the match
    crosses the boundary through the state carry."""
    import time

    import pyspark.sql.functions as F

    from glirel_spark.operators.events import asof_last_event
    from glirel_spark.streaming.asof_state import asof_stateful
    from glirel_spark.streaming.events_stream import EVENTS_SCHEMA

    ev = spark.read.parquet(f"{SF}/events.parquet")
    cut = ev.agg(F.percentile_approx("ts", 0.5)).collect()[0][0]
    src = tmp_path / "asof_src"
    src.mkdir()
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(str(src / "b0"))
    time.sleep(1.1)
    ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(str(src / "b1"))

    stream_in = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q = (
        asof_stateful(stream_in)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("asof_state_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.event_id: (r.last_error_event_id, r.us_since_error)
        for r in spark.sql("SELECT * FROM asof_state_out").collect()
    }
    want = {
        r.event_id: (r.last_error_event_id, r.us_since_error)
        for r in asof_last_event(ev).collect()
    }
    assert got == want and len(got) == ev.count()


def test_stateful_dedup_equals_batch_across_micro_batches(spark, tmp_path):
    import time

    from pyspark.sql import functions as F

    from glirel_spark.operators.corpus_dedup import exact_dedup, fingerprint
    from glirel_spark.streaming.dedup_state import dedup_stateful

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    # arrival order respects doc_id order -> streaming keeper == batch
    # keeper (= min doc_id); split at the median id across two files
    cut = docs.agg(F.percentile_approx(F.col("doc_id").cast("long"), 0.5)).collect()[0][0]
    src = tmp_path / "dedup_src"
    src.mkdir()
    docs.filter(F.col("doc_id").cast("long") <= cut).coalesce(1).write.parquet(
        str(src / "b0")
    )
    time.sleep(1.1)
    docs.filter(F.col("doc_id").cast("long") > cut).coalesce(1).write.parquet(
        str(src / "b1")
    )

    stream_in = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q = (
        dedup_stateful(stream_in)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_state_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.doc_id: (r.fp, r.keeper, r.is_duplicate)
        for r in spark.sql("SELECT * FROM dedup_state_out").collect()
    }

    tok = docs.select("doc_id", F.split("text", " ").alias("tokens"))
    fps = fingerprint(tok)
    batch = fps.join(exact_dedup(tok), "fp")
    want = {
        r.doc_id: (r.fp, r.keeper, r.doc_id != r.keeper) for r in batch.collect()
    }
    assert got == want and len(got) == docs.count()


def test_graph_maintenance_stream_two_batches(spark, tmp_path):
    """Snapshot-versioned incremental KG maintenance: split the corpus
    into TWO micro-batches; the final snapshot must equal the one-shot
    batch materialization (upsert(materialize(A), B) == materialize(A
    union B)), and there must be one snapshot per micro-batch."""
    from glirel_spark.plans import pipeline
    from glirel_spark.streaming.commit import latest_snapshot
    from glirel_spark.streaming.graph_stream import run_graph_maintenance_stream

    _, stream_in = _two_batch_docs(spark, tmp_path)
    out = str(tmp_path / "graph_snaps")
    run_graph_maintenance_stream(stream_in, out, str(tmp_path / "gs_ckpt"))

    snaps = sorted(d for d in os.listdir(out) if d.startswith("v"))
    assert snaps == ["v00000", "v00001"]
    assert latest_snapshot(out).endswith("v00001")

    got = {tuple(r) for r in spark.read.parquet(f"{out}/v00001").collect()}
    want = {tuple(r) for r in pipeline.graph(spark, SF).collect()}
    assert got == want and len(got) > 0


def test_hll_register_merge_stream_two_batches(spark, tmp_path):
    """HLL registers max-merged across TWO micro-batches must equal the
    one-shot batch registers — the sketch merge law under the same
    snapshot-versioned commit protocol as the graph stream. A replay of
    batch 1 folds into v00000, not into a stale v00001 with an inflated
    register left by a failed attempt."""
    from glirel_spark.operators.textstats import hll_dense_registers
    from glirel_spark.streaming.commit import latest_snapshot
    from glirel_spark.streaming.sketch_stream import run_hll_stream

    docs, stream_in = _two_batch_docs(spark, tmp_path)
    out = str(tmp_path / "hll_snaps")
    ckpt = str(tmp_path / "hll_ckpt")
    run_hll_stream(stream_in, out, ckpt)

    def final():
        return {
            (r.lang, r.reg): r.m
            for r in spark.read.parquet(latest_snapshot(out)).collect()
        }

    want = {
        (r.lang, r.reg): r.m for r in hll_dense_registers(docs).collect()
    }
    assert final() == want and len(want) > 0

    stale = dict(want)
    stale[min(stale)] = 60  # above any register a 30-bit hash can set
    spark.createDataFrame(
        [(lang, reg, m) for (lang, reg), m in stale.items()],
        "lang string, reg int, m int",
    ).write.mode("overwrite").parquet(f"{out}/v00001")
    _forget_commit(ckpt, 1)
    run_hll_stream(stream_in, out, ckpt)
    assert final() == want


def test_stateful_funnel_equals_batch(spark):
    """applyInPandasWithState funnel == the batch chain of conditional
    mins: same per-step user counts AND same first-qualifying times
    (pandas replay as the independent double)."""
    import pandas as pd

    from glirel_spark.operators.events import FUNNEL_STEPS, funnel_counts
    from glirel_spark.streaming.events_stream import read_events_stream
    from glirel_spark.streaming.funnel_state import funnel_stateful

    stream = funnel_stateful(read_events_stream(spark, SF))
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("funnel_state_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.step_idx): r.ts
        for r in spark.sql("SELECT * FROM funnel_state_out").collect()
    }

    # batch counts agree
    batch = {
        r["step_idx"]: r["n_users"]
        for r in funnel_counts(spark.read.parquet(f"{SF}/events.parquet")).collect()
    }
    stream_counts = {
        k: sum(1 for (_, s) in got if s == k) for k in range(len(FUNNEL_STEPS))
    }
    assert stream_counts == batch and batch[0] > 0

    # per-user chain times agree with an independent pandas replay
    pdf = pd.read_parquet(f"{SF}/events.parquet")
    want = {}
    for uid, g in pdf.sort_values(["ts", "event_id"]).groupby("user_id"):
        t_prev = None
        for k, s in enumerate(FUNNEL_STEPS):
            cand = g[g.event_type == s]
            if t_prev is not None:
                cand = cand[cand.ts >= t_prev]
            if len(cand) == 0:
                break
            t_prev = cand.ts.iloc[0]
            want[(uid, k)] = t_prev
    assert got == want


def test_graph_changelog_stream_replay_law(spark, tmp_path):
    """Per-commit changelog publishing: two micro-batches produce two
    changelog directories, and replaying them over the first snapshot
    reconstructs the final snapshot's support counts. Both hold after
    a checkpoint replay of batch 1 over a stale v00001, whose final
    snapshot still equals the batch graph."""
    from glirel_spark.plans import pipeline
    from glirel_spark.streaming.graph_stream import run_graph_maintenance_stream

    _, stream_in = _two_batch_docs(spark, tmp_path)
    out = str(tmp_path / "graph_snaps")
    ckpt = str(tmp_path / "cg_ckpt")
    run_graph_maintenance_stream(stream_in, out, ckpt)

    snap = spark.read.parquet(f"{out}/v00001")
    spark.createDataFrame(snap.collect()[:1], snap.schema).write.mode(
        "overwrite"
    ).parquet(f"{out}/v00001")
    _forget_commit(ckpt, 1)
    run_graph_maintenance_stream(stream_in, out, ckpt)

    logs = sorted(os.listdir(os.path.join(out, "changelog")))
    assert logs == ["v00000", "v00001"]

    # replay: start from snapshot v0 counts, apply changelog v1
    base = {
        (r.subj, r.pred, r.obj): r.n_mentions
        for r in spark.read.parquet(f"{out}/v00000").collect()
    }
    cl = spark.read.parquet(f"{out}/changelog/v00001").collect()
    assert all(r.status in ("added", "changed") for r in cl)  # append-only
    for r in cl:
        if r.status == "added":
            assert (r.subj, r.pred, r.obj) not in base
        else:
            assert base[(r.subj, r.pred, r.obj)] == r.n_before
        base[(r.subj, r.pred, r.obj)] = r.n_after
    snap = spark.read.parquet(f"{out}/v00001").collect()
    final = {(r.subj, r.pred, r.obj): r.n_mentions for r in snap}
    assert base == final and len(final) > 0
    want = {tuple(r) for r in pipeline.graph(spark, SF).collect()}
    assert {tuple(r) for r in snap} == want


def test_funnel_cross_batch_timestamp_tie(spark, tmp_path):
    """Regression (round-4 ADVICE): a step-k event whose ts exactly
    equals the step-(k-1) fill time but which arrived in an EARLIER
    micro-batch must still fill step k — the boundary buffer keeps it
    re-examinable. Pre-fix the event was discarded on first sight and
    the stream diverged from the batch twin."""
    import datetime
    import time

    from glirel_spark.operators.events import funnel_counts
    from glirel_spark.streaming.events_stream import EVENTS_SCHEMA
    from glirel_spark.streaming.funnel_state import funnel_stateful

    T = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows_b0 = [(1, T, 7, "click", 1.0, "{}")]          # step 1 first...
    rows_b1 = [(2, T, 7, "view", 1.0, "{}"),            # ...step 0 SAME ts later batch
               (3, T + datetime.timedelta(seconds=5), 7, "purchase", 1.0, "{}")]
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    src = tmp_path / "tie_src"
    src.mkdir()
    spark.createDataFrame(rows_b0, cols).coalesce(1).write.parquet(str(src / "b0"))
    time.sleep(1.1)
    spark.createDataFrame(rows_b1, cols).coalesce(1).write.parquet(str(src / "b1"))

    stream_in = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q = (
        funnel_stateful(stream_in)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("funnel_tie_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.step_idx): r.ts
        for r in spark.sql("SELECT * FROM funnel_tie_out").collect()
    }
    # all three steps fill: view@T, click@T (the tie), purchase@T+5
    assert got == {
        (7, 0): T,
        (7, 1): T,
        (7, 2): T + datetime.timedelta(seconds=5),
    }
    # and the batch twin agrees on counts
    batch_df = spark.createDataFrame(rows_b0 + rows_b1, cols)
    batch = {r["step_idx"]: r["n_users"] for r in funnel_counts(batch_df).collect()}
    assert batch == {0: 1, 1: 1, 2: 1}


def test_read_prev_ignores_failed_attempt(spark, tmp_path):
    """Regression (round-4 ADVICE): prev snapshot for micro-batch N is
    v{N-1} by construction — a partial v{N} left by a failed attempt
    must be ignored, or a replay would double-fold the batch and
    overwrite a path it is lazily reading."""
    from glirel_spark.streaming.commit import read_prev

    out = str(tmp_path / "g")
    spark.createDataFrame(
        [("a", "p", "b", 3)], ["subj", "pred", "obj", "n_mentions"]
    ).write.parquet(f"{out}/v00000")
    # a *different* v00001 left behind by a failed attempt
    spark.createDataFrame(
        [("x", "p", "y", 99)], ["subj", "pred", "obj", "n_mentions"]
    ).write.parquet(f"{out}/v00001")

    assert read_prev(spark, out, 0) is None
    prev1 = read_prev(spark, out, 1)
    assert [tuple(r) for r in prev1.collect()] == [("a", "p", "b", 3)]
    # replay of batch 1 ignores the stale v00001
    prev_replay = read_prev(spark, out, 1)
    assert prev_replay.collect() == prev1.collect()
    assert read_prev(spark, out, 5) is None  # gap -> None, not dir max


def test_media_stream_twins_equal_batch(spark, tmp_path):
    """Streaming caption mining + media-atomic chunking (foreachBatch,
    micro-batch == document granularity) produce exactly the batch
    operators' rows."""
    from glirel_spark.operators import multimodal
    from glirel_spark.sources.tables import interleaved_documents
    from glirel_spark.streaming.commit import read_batches
    from glirel_spark.streaming.media_stream import (
        caption_pairs_batch,
        interleaved_chunks_batch,
        run_media_stream,
    )
    from glirel_spark.streaming.triples_stream import read_documents_stream

    batch_inter = interleaved_documents(
        spark.read.parquet(SF + "/documents.parquet")
    )
    for name, tfn, bfn in [
        ("cap", caption_pairs_batch, multimodal.caption_pairs),
        ("chunk", interleaved_chunks_batch, multimodal.interleaved_chunks),
    ]:
        out = str(tmp_path / f"{name}_out")
        ckpt = str(tmp_path / f"{name}_ckpt")
        run_media_stream(read_documents_stream(spark, SF), tfn, out, ckpt)
        got = read_batches(spark, out)
        want = bfn(batch_inter)
        assert got.count() == want.count() > 0
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
