"""spark-submit entry point for the extraction pipeline.

Packaging (BASELINE.json north_rule: "ships via spark-submit --py-files"):

    cd <repo> && zip -r /tmp/engine.zip ebook_conversion_to_text_for_machine_learning_spark
    spark-submit \
      --master yarn --deploy-mode cluster \
      --packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:1.5.0 \
      --py-files /tmp/engine.zip \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.execution.arrow.maxRecordsPerBatch=512 \
      ebook_conversion_to_text_for_machine_learning_spark/plans/job.py \
      --input  <parquet dir or iceberg table> \
      --output <parquet dir or iceberg table> \
      --lineage <lineage path> --metrics <metrics path> \
      --repartition 4096

At 10^12 documents pick ``--repartition`` ≈ 2-3 × total executor cores so
one wave of Python tasks covers the cluster; Arrow batch size then bounds
per-worker memory (session.py).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import Observation
from pyspark.sql import functions as F

from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import SPLITS
from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
    _append,
    _read_table_or_none,
    run_extraction_job,
)
from ebook_conversion_to_text_for_machine_learning_spark.session import build_session


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(description="ebook spans extraction job")
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument(
        "--lineage", default=None,
        help="extract mode: append per-partition lineage (doc/span counts, fold cpu_us) "
        "to <lineage>_partitions. Resume needs none: every run skips the doc_ids in --output",
    )
    parser.add_argument("--metrics", default=None)
    parser.add_argument("--repartition", type=int, default=None)
    parser.add_argument(
        "--mode",
        choices=("extract", "sequences", "mix", "compact"),
        default="extract",
        help="extract: spans out (default). sequences: full curation chain "
        "(extract -> quality -> dedup -> scrub -> chunk -> split) to a "
        "training-sequence table. mix: sequences plus repetition filter, "
        "optional eval-set decontamination, and token-budget bin packing. "
        "compact: dedupe a landed sequence table by text_hash (one chunk "
        "set per distinct text).",
    )
    parser.add_argument("--chunk-tokens", type=int, default=128)
    parser.add_argument("--chunk-overlap", type=int, default=16)
    parser.add_argument("--min-quality", type=float, default=0.5)
    parser.add_argument("--pack-budget", type=int, default=512)
    parser.add_argument("--pack-shards", type=int, default=64)
    parser.add_argument(
        "--eval-set",
        default=None,
        help="mix mode: path/table with a text column; documents whose "
        "3-gram overlap with it reaches 10%% are dropped (decontamination)",
    )
    parser.add_argument(
        "--seen-hashes",
        default=None,
        help="sequences mode: path/table of a previous run's output (its "
        "text_hash column drives incremental dedup via left-anti join)",
    )
    parser.add_argument("--master", default=None)
    parser.add_argument(
        "--catalog",
        action="store_true",
        help="treat --input/--output/--lineage/--metrics as catalog table "
        "names and write via writeTo().append() (atomic Iceberg snapshot "
        "commits) instead of parquet dirs",
    )
    args = parser.parse_args(argv)

    spark = build_session(app_name="ebook-extraction", master=args.master)
    try:
        if args.catalog or args.input.count("/") == 0 or args.input.count(".") >= 2:
            input_df = spark.read.table(args.input)  # Iceberg / catalog table
        else:
            input_df = spark.read.parquet(args.input)
        if args.mode == "compact":
            from ebook_conversion_to_text_for_machine_learning_spark.plans.training_prep import (
                compact_sequences,
            )

            if not args.catalog and args.input.rstrip("/") == args.output.rstrip("/"):
                raise SystemExit(
                    "--mode compact cannot rewrite a parquet dir in place "
                    "(Spark refuses to overwrite a path it is reading); "
                    "write to a new --output and swap, or use --catalog "
                    "tables where createOrReplace commits atomically"
                )
            observed = Observation()
            out = compact_sequences(input_df).observe(observed, F.count("*").alias("n"))
            # a compaction output is a full rewrite — append would make
            # the dedup job itself create duplicates on rerun
            if args.catalog:
                out.writeTo(args.output).createOrReplace()
            else:
                out.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"mode": "compact", "rows_kept": observed.get["n"]}))
        elif args.mode in ("sequences", "mix"):
            from ebook_conversion_to_text_for_machine_learning_spark.plans.training_prep import (
                prepare_training_mix,
                prepare_training_sequences,
            )

            seen = (
                _read_table_or_none(spark, args.seen_hashes, args.catalog)
                if args.seen_hashes
                else None
            )
            if args.mode == "mix":
                eval_df = None
                if args.eval_set:
                    eval_df = (
                        spark.read.table(args.eval_set)
                        if args.catalog
                        else spark.read.parquet(args.eval_set)
                    )
                seqs = prepare_training_mix(
                    input_df,
                    eval_df=eval_df,
                    min_quality=args.min_quality,
                    chunk_tokens=args.chunk_tokens,
                    overlap=args.chunk_overlap,
                    budget=args.pack_budget,
                    n_shards=args.pack_shards,
                    seen_hashes=seen,
                )
            else:
                seqs = prepare_training_sequences(
                    input_df,
                    min_quality=args.min_quality,
                    chunk_tokens=args.chunk_tokens,
                    overlap=args.chunk_overlap,
                    seen_hashes=seen,
                )
            # The summary is observed on the append itself: the chain runs
            # once, and a second action after the append would recompute
            # it against the grown table when --seen-hashes names --output.
            observed = Observation()
            _append(
                seqs.observe(
                    observed,
                    *(F.count_if(F.col("split") == s).alias(s) for s in SPLITS),
                ),
                args.output,
                args.catalog,
            )
            counts = {s: n for s, n in observed.get.items() if n}
            print(json.dumps({"mode": args.mode, "chunks_by_split": counts}))
        else:
            summary = run_extraction_job(
                spark,
                input_df,
                args.output,
                lineage_path=args.lineage,
                metrics_path=args.metrics,
                repartition=args.repartition,
                catalog=args.catalog,
            )
            print(json.dumps(summary, default=str))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
