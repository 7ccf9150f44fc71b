"""The fused pass's memos live as long as the reused Python worker.

cloudpickle ships a module-level function by reference and a nested
closure by value (with copies of the globals it names). The pass body is
module-level, so a worker that ran an extraction task keeps the phrase
memo for its next task."""

import functools
import pickle

from pyspark import cloudpickle

from document_parser_private_spark.operators import resume
from document_parser_private_spark.plans.pipeline import extract_pipeline


def test_pass_body_ships_by_reference():
    for fn in (resume._extract_batches, resume._experience_entries):
        assert pickle.loads(cloudpickle.dumps(fn)) is fn
    # what mapInArrow is handed
    fused = functools.partial(resume._extract_batches, id_col="doc_id")
    assert pickle.loads(cloudpickle.dumps(fused)).func \
        is resume._extract_batches


def test_memo_survives_into_the_next_task(spark, corpus_df):
    extract_pipeline(corpus_df, repartition=False).write.format("noop") \
        .mode("overwrite").save()

    def probe(batches):
        import os

        import pyarrow as pa

        from document_parser_private_spark.operators import resume as R
        for _ in batches:
            pass
        yield pa.record_batch(
            [pa.array([os.getpid()]), pa.array([len(R._MEMO)])],
            names=["pid", "memo"])

    rows = (spark.range(0, 32, numPartitions=32)
            .mapInArrow(probe, "pid long, memo long").collect())
    assert len(rows) == 32
    # at least one probe task ran in a worker the extraction job left
    # behind, and found its phrase memo still filled
    assert max(r["memo"] for r in rows) > 0, rows
