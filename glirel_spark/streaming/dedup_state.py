"""Stateful streaming exact-dedup via ``applyInPandasWithState`` — the
streaming twin of operators/corpus_dedup.exact_dedup for an ingestion
pipeline that must drop duplicates ON ARRIVAL (a crawler feed), not in
a nightly batch.

Key = the order-sensitive document fingerprint
(corpus_dedup.fingerprint_expr, the batch fingerprint's own fold —
map-only, an array fold on the arriving doc row). State per
fingerprint is ONE string: the keeper doc_id, fixed forever by the
first micro-batch that sees the fingerprint (first-occurrence-wins —
the streaming analog of the batch rule keeper = min(doc_id), equal to
it whenever arrival order respects doc_id order, which the test
replays). Every document is emitted immediately with its verdict, so
output is append-mode and batch == stream row for row.

Scale: state is O(distinct fingerprints) x ~24 bytes — the minimum any
exact streaming dedup can hold; contrast a stream-stream self-join,
which buffers full documents within the watermark.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from glirel_spark.operators.corpus_dedup import fingerprint_expr

OUT_SCHEMA = "doc_id string, fp long, keeper string, is_duplicate boolean"
STATE_SCHEMA = "keeper string"


def dedup_stateful(docs: DataFrame) -> DataFrame:
    """docs: (streaming) DataFrame with doc_id + text columns."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    with_fp = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        fingerprint_expr(F.split(F.col("text"), " ")).alias("fp"),
    )

    def update(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (fp,) = key
        df = pd.concat(list(pdfs), ignore_index=True)
        # deterministic within-batch order: the batch rule's min(doc_id)
        df = df.sort_values("doc_id", kind="mergesort")
        if state.exists:
            (keeper,) = state.get
        else:
            keeper = str(df["doc_id"].iloc[0])
            state.update((keeper,))
        out = pd.DataFrame(
            {
                "doc_id": df["doc_id"].astype(str),
                "fp": fp,
                "keeper": keeper,
                "is_duplicate": df["doc_id"].astype(str) != keeper,
            }
        )
        yield out

    return with_fp.groupBy("fp").applyInPandasWithState(
        update, OUT_SCHEMA, STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )
