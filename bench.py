"""Benchmark runner — prints ONE JSON line with per-query seconds.

Headline: full extraction throughput (documents/sec) over a deterministic
interleaved spans corpus sized to the scale factor, plus the engine's other
operator families at ``$SPARK_GRAFT_SF_DIR``:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 python bench.py

Extra env knobs:
    SPARK_GRAFT_BENCH_DOCS   corpus size (default scales with sf)
    SPARK_GRAFT_CORPUS_DIR   cache dir for the generated corpus parquet
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", str(max(2000, int(400_000 * sf)))))
    corpus_dir = os.environ.get(
        "SPARK_GRAFT_CORPUS_DIR", f"/tmp/engine_bench_corpus_{n_docs}"
    )

    from ebook_conversion_to_text_for_machine_learning_spark.session import build_session
    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        extract_spans,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.testing.corpus import (
        write_corpus,
    )
    import __spark_entry__ as entrymod

    spark = build_session(
        app_name="engine-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 32),
    )
    spark.sparkContext.setLogLevel("ERROR")

    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        write_corpus(spark, corpus_dir, n_docs, partitions=max(cpus * 2, 64))

    timings: dict[str, float] = {}

    # q_extract: the headline — full interleaved extraction.
    corpus = spark.read.parquet(corpus_dir)
    start = time.time()
    extracted = extract_spans(corpus)
    n_out = extracted.count()
    timings["extract_interleaved"] = time.time() - start
    docs_per_sec = n_out / timings["extract_interleaved"]

    # Every registered query over the driver tables — the list comes
    # from the one registry, so a new query is benched without edits here.
    for name, query in entrymod.queries().items():
        start = time.time()
        # noop sink, not count(): count() lets Catalyst prune pure-projection
        # queries down to the scan, timing nothing (measured 2.1s vs 5.0s on
        # document_features at sf0.01) — the noop write forces every column.
        query(spark, sf_dir).write.mode("overwrite").format("noop").save()
        timings[name] = time.time() - start

    total = sum(timings.values())
    print(
        json.dumps(
            {
                "metric": "engine_bench_wall_time",
                "value": round(total, 3),
                "unit": "sec",
                "queries": {k: round(v, 3) for k, v in timings.items()},
                "sf": sf,
                "extract_docs": n_out,
                "extract_docs_per_sec": round(docs_per_sec, 1),
                "cpus": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
