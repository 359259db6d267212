"""Interleaved corpus synthesis + the span-sequence equality invariant
(BASELINE.json input_hint: per-row (kind, text, media_ref, order))."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

from glirel_spark.sources.tables import (
    TableIO,
    interleaved_documents,
    span_sequence_signature,
    text_of,
)

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from gen_golden import SF_DIRS  # noqa: E402


def _flat(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_text_roundtrip(spark):
    flat = _flat(spark)
    inter = interleaved_documents(flat)
    back = text_of(inter)
    joined = flat.select(F.col("doc_id").cast("string").alias("doc_id"),
                         F.col("text").alias("orig")).join(back, "doc_id")
    assert joined.filter(F.col("orig") != F.col("text")).count() == 0


def test_declared_documents_schema_matches_the_files(spark):
    """TableIO reads ``documents`` with a declared schema (no inference
    job at plan build); it must equal what Spark infers from every scale
    factor's file, so the declaration cannot drift from the data."""
    files = sorted(Path(SF_DIRS["sf0.001"]).parent.glob("sf*/documents.parquet"))
    assert files
    for path in files:
        declared = TableIO(spark, str(path.parent)).table("documents").schema
        assert declared == spark.read.parquet(str(path)).schema, path


def test_schema_matches_input_hint(spark):
    inter = interleaved_documents(_flat(spark))
    assert inter.schema["doc_id"].dataType.simpleString() == "string"
    el = inter.schema["spans"].dataType.elementType
    assert [f.name for f in el.fields] == ["kind", "text", "media_ref", "offset"]
    assert [f.dataType.simpleString() for f in el.fields] == [
        "string", "string", "string", "int",
    ]


def test_media_interleave_properties(spark):
    inter = interleaved_documents(_flat(spark))
    spans = inter.select("doc_id", F.explode("spans").alias("s"))
    media = spans.filter(F.col("s.kind") == "media")
    text = spans.filter(F.col("s.kind") == "text")
    n_media, n_text = media.count(), text.count()
    assert 0.1 < n_media / (n_media + n_text) < 0.3   # ~20% media
    assert media.filter(F.col("s.media_ref").isNull()).count() == 0
    assert media.filter(F.col("s.text").isNotNull()).count() == 0
    assert text.filter(F.col("s.text").isNull()).count() == 0
    # offsets are 0..n-1 in order
    bad = inter.select(
        (F.transform("spans", lambda s, i: s["offset"] == i.cast("int"))).alias("ok")
    ).filter(F.exists("ok", lambda x: ~x))
    assert bad.count() == 0


def test_span_signature_detects_divergence(spark):
    inter = interleaved_documents(_flat(spark))
    sig_a = span_sequence_signature(inter)
    # identical table -> zero signature mismatches (anti-join empty)
    mismatches = sig_a.join(sig_a.withColumnRenamed("span_signature", "other"), "doc_id") \
        .filter(F.col("span_signature") != F.col("other"))
    assert mismatches.count() == 0
    # a mutated row IS detected
    mutated = inter.withColumn(
        "spans",
        F.expr("transform(spans, s -> named_struct("
               "'kind', s.kind, 'text', coalesce(s.text, '') || '_X',"
               "'media_ref', s.media_ref, 'offset', s.offset))"),
    )
    sig_b = span_sequence_signature(mutated).withColumnRenamed("span_signature", "other")
    diff = sig_a.join(sig_b, "doc_id").filter(F.col("span_signature") != F.col("other"))
    assert diff.count() == sig_a.count()


def test_media_stats_match_span_structure(spark):
    from glirel_spark.operators.multimodal import media_stats
    from glirel_spark.plans import pipeline

    inter = pipeline.interleaved(spark, "/root/testdata/sf0.001")
    stats = media_stats(inter)
    # recompute from the spans arrays independently (explode form)
    import pyspark.sql.functions as F

    exploded = (
        inter.select("doc_id", F.explode("spans").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("s.kind") == "media", 1).otherwise(0)).alias("m"),
        )
    )
    joined = stats.join(exploded, "doc_id")
    bad = joined.filter(
        (F.col("n_spans") != F.col("n"))
        | (F.col("n_media_spans") != F.col("m"))
        | (F.col("n_text_spans") != F.col("n") - F.col("m"))
    )
    assert bad.count() == 0
    assert stats.filter(F.col("n_media_spans") > 0).count() > 0


def test_decode_media_corrupt_payload_flagging(spark):
    """decode_media on non-image payloads: every row flagged
    decode_ok=false with the exception class (never a throw) on BOTH
    tiers, schema identical; require_codec=True asserts the full PIL
    tier and raises loudly when only the vendored PNG tier exists."""
    import pytest

    from glirel_spark.operators import multimodal as mm
    from glirel_spark.plans import pipeline
    from glirel_spark.sources import tables

    inter = pipeline.interleaved(spark, "/root/testdata/sf0.001")
    media = mm.media_table(inter).limit(8)
    out = mm.decode_media(media)
    assert out.schema.simpleString() == (
        "struct<doc_id:string,media_ref:string,width:int,height:int,"
        "mode:string,mean_luma:double,decode_ok:boolean,err:string>"
    )
    rows = out.collect()
    assert len(rows) == 8
    # synthetic payloads are not valid images: flag by exception class
    assert all(not r.decode_ok and r.err != "" for r in rows)
    if not mm.media_codec_available():
        assert mm.media_codec_tier() == "png"
        with pytest.raises(NotImplementedError):
            mm.decode_media(media, require_codec=True)
    del tables


def test_decode_media_real_path_decodes_png(spark):
    """The REAL codec path: a hand-built valid PNG (pure zlib+struct,
    no imaging lib needed to WRITE it) decodes to its true dimensions.
    Runs on BOTH tiers — PIL where installed, the vendored stdlib PNG
    decoder otherwise — so this is never skipped."""
    from glirel_spark.operators import multimodal as mm

    import struct
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    w = h = 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    raw = b"".join(b"\x00" + bytes([10 * (y + 1)] * w) for y in range(h))
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    df = spark.createDataFrame(
        [("d0", "m0", list(png))],
        "doc_id string, media_ref string, payload_bytes array<int>",
    )
    r = mm.decode_media(df).collect()[0]
    assert r.decode_ok and (r.width, r.height) == (2, 2) and r.mode == "L"
    assert r.mean_luma == 15.0  # rows of 10s and 20s


def test_media_reuse_fingerprint_law(spark):
    """media_reuse: identical payloads cluster; payloads here depend only
    on doc_id mod 256, so two docs in the same residue class must land
    in the same fingerprint cluster and n_copies counts every media span
    of every doc in the class."""
    from glirel_spark.operators import multimodal as mm
    from glirel_spark.sources.tables import interleaved_documents

    inter = interleaved_documents(_flat(spark))
    reuse = mm.media_reuse(inter)
    rows = {r.content_fp: r for r in reuse.collect()}

    media = mm.media_table(inter).select("doc_id", "media_ref").collect()
    # ground truth: cluster key = doc_id mod 256 (payload law)
    by_class: dict[int, list] = {}
    for r in media:
        by_class.setdefault(int(r.doc_id) % 256, []).append(r)
    # every fingerprint cluster must be exactly one residue class
    assert len(rows) == len(by_class)
    sizes = sorted(len(v) for v in by_class.values())
    assert sorted(r.n_copies for r in rows.values()) == sizes
    # real cross-doc reuse exists at sf0.001 (500 docs over 256 classes)
    assert any(r.n_docs > 1 for r in rows.values())
    # canonical ref is the lexicographic min of the class's refs
    mins = sorted(min(x.media_ref for x in v) for v in by_class.values())
    assert sorted(r.canonical_ref for r in rows.values()) == mins
    # integer-exact storage accounting
    for r in rows.values():
        assert r.bytes_saved == (r.n_copies - 1) * 64


def test_media_reuse_single_shuffle_plan(spark):
    """The payload must never shuffle: exactly one exchange (the fp
    groupBy), and the aggregate has a map-side partial."""
    from glirel_spark.operators import multimodal as mm
    from glirel_spark.sources.tables import interleaved_documents

    plan = mm.media_reuse(
        interleaved_documents(_flat(spark))
    )._jdf.queryExecution().executedPlan().toString()
    # countDistinct rewrites to a two-level agg: 2 exchanges max, and
    # none of them may carry the payload column
    assert plan.lower().count("exchange") <= 2
    assert "payload_bytes" not in plan.split("Exchange", 1)[-1]
