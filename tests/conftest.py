from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from glirel_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("glirel-tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def neural_decode_chain():
    """The relational reference for the neural path: the scored relation
    (score_pairs_neural) -> enrich with mention text/type and the label
    dimension -> decode.decode at ``top_k``."""
    from pyspark.sql import functions as F

    from glirel_spark import config
    from glirel_spark.model.udf import score_pairs_neural
    from glirel_spark.operators import decode as decode_ops
    from glirel_spark.operators import scoring

    def chain(docs, mentions, threshold=config.THRESHOLD, top_k=1):
        scored = score_pairs_neural(docs, mentions)
        m = mentions.select("doc_id", "start", "end", "type", "text")
        h = m.toDF("doc_id", "h_start", "h_end", "h_type", "h_text")
        t = m.toDF("doc_id", "t_start", "t_end", "t_type", "t_text")
        enriched = (
            scored.join(h, ["doc_id", "h_start", "h_end"])
            .join(t, ["doc_id", "t_start", "t_end"])
            .join(F.broadcast(scoring.labels_df(docs.sparkSession)), "label", "left")
            .withColumn("raw", F.lit(None).cast("int"))
        )
        return decode_ops.decode(enriched, threshold, top_k)

    return chain
