"""Interleaved Arrow maxRecordsPerBatch sweep over the fused extraction
pass (VERDICT r3 #7): one knob controls Python-side batch locality for
the single MapInArrow node, so measure it instead of guessing.

maxRecordsPerBatch is a runtime SQLConf — one JVM, set per run, fully
interleaved rounds so VM throttling windows hit every size equally.
Usage: python BENCH/ab_arrow.py [rounds]   (NEVER while a probe runs)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SIZES = [64, 256, 512, 1024, 4096, 10000]


def main(rounds: int = 3) -> None:
    from document_parser_private_spark.corpus import write_corpus_parquet
    from document_parser_private_spark.plans.pipeline import extract_pipeline
    from document_parser_private_spark.session import get_spark

    corpus_path = os.path.join(REPO, ".bench", "ab_corpus_20k")
    if not os.path.exists(corpus_path):
        write_corpus_parquet(corpus_path, n=20_000, seed=42, shards=32)

    spark = get_spark(app_name="ab_arrow", cores=32)
    docs = spark.read.parquet(corpus_path)
    n = docs.count()

    def once() -> float:
        t0 = time.perf_counter()
        extract_pipeline(docs, repartition=False).write.format("noop").mode(
            "overwrite").save()
        return time.perf_counter() - t0

    once()  # warm: JIT, python workers, page cache
    best: dict[int, float] = {}
    for r in range(rounds):
        for size in SIZES:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", str(size))
            dt = once()
            best[size] = min(best.get(size, 1e9), dt)
            print(f"round {r} size {size}: {dt:.2f}s", flush=True)
    out = {
        "sizes": {str(s): round(best[s], 3) for s in SIZES},
        "docs": n,
        "docs_per_sec_best": {str(s): round(n / best[s], 1) for s in SIZES},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 3)
