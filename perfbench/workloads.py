"""The workloads: inputs, set-up, one timed cycle, and output checks.

Each workload is a closed loop with one call outstanding: the harness runs
whole cycles until the run's seconds are used up. A cycle is one repeated
call (``extract_batch``) or ``APPEND_EVERY`` probe calls then one append to
both indexes (``ann_probe``), so every run measures the same mix of reads
and writes. The near-dup ingest sequence (``NearDupIngest``) is not a
workload of its own: it runs after the timed loop of a traced
``ann_probe`` run.

Every call into the engine runs inside a span named after the engine
function it calls (``tracing.Tracer``); the harness turns those spans into
call latencies and, in a traced run, into per-layer Spark metrics.
"""

from __future__ import annotations

import hashlib
import math
import time
from pathlib import Path

import numpy as np

from perfbench import inputs


class Workload:
    name = ""
    #: span name of the call whose latency is ``call_s_p50``
    call = ""
    #: what ``items_per_s`` counts
    items = ""
    #: The index workloads pre-generate inputs for as many cycles as a run
    #: of ``seconds`` could make if every cycle took this long; a cycle runs
    #: dozens of Spark jobs, so it stays well above this.
    MIN_CYCLE_S = 0.25

    def __init__(self, tracer, work: Path, cache: Path, seed: int, seconds: float) -> None:
        self.spark = None
        self.tracer = tracer
        self.work = work
        self.cache = cache
        self.seed = seed
        self.max_cycles = int(seconds / self.MIN_CYCLE_S) + 1
        #: standalone per-layer metrics this workload fills in
        self.layer: dict[str, float] = {}

    def setup(self, spark) -> None:
        """Index builds and warm-up calls; ``spark`` is the run's session."""
        raise NotImplementedError

    def cycle(self) -> int:
        raise NotImplementedError

    def traced_extra(self) -> None:
        """Calls made only in a traced run, after the timed loop."""

    def check(self) -> tuple[int, int, dict]:
        """(attempted, failed, details) over everything the loop did."""
        raise NotImplementedError


# --- extract_batch -----------------------------------------------------------


class ExtractBatch(Workload):
    """``plans.pipeline.run_extraction_job`` over the BASELINE input contract,
    each call into fresh output, lineage and metrics directories."""

    name = "extract_batch"
    call = "plans.pipeline.run_extraction_job"
    items = "docs"

    N_DOCS = 4000
    GIANT_SHARE = 0.005
    PERMUTED_SHARE = 0.25
    PARTS = 8
    #: one generated doc in this many (by doc_id hash) is re-extracted
    #: in-process and compared span by span
    SAMPLE_EVERY = 40
    NOOP_CALLS = 3
    #: After one warm-up call the next four calls still ran 10-40% slower
    #: (JIT and Python worker warm-up) and spread the median between runs.
    #: After two half-size calls (below) the first timed call runs up to 25%
    #: slower than the third, which the median over the run's calls absorbs.
    WARMUP_CALLS = 2
    #: The warm-up calls read this many of the ``PARTS`` input files: one
    #: task per file, so every Python worker and every job of the call is
    #: warmed at half the cost of a full call.
    WARMUP_PARTS = 4

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.docs, self.golden_ids = inputs.extract_corpus(
            self.seed, self.N_DOCS, self.GIANT_SHARE, self.PERMUTED_SHARE
        )
        key = f"extract_batch-{self.seed}-{self.N_DOCS}-v{inputs.GENERATOR_VERSION}"
        self.input_dir = inputs.cached_dir(
            self.cache, key, lambda d: inputs.write_extract_corpus(self.docs, d, self.PARTS)
        )
        self.n_calls = 0
        self.failed_docs = 0

    def _job(self, out: Path, df=None) -> dict:
        from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
            run_extraction_job,
        )

        return run_extraction_job(
            self.spark,
            self.input_df if df is None else df,
            str(out / "out"),
            lineage_path=str(out / "lineage"),
            metrics_path=str(out / "metrics"),
        )

    def _count_summary(self, summary: dict) -> None:
        docs = sum(m["docs"] for m in summary["metrics"])
        not_ok = sum(m["docs"] for m in summary["metrics"] if m["status"] != "ok")
        self.failed_docs += not_ok + abs(len(self.docs) - docs)

    def setup(self, spark) -> None:
        from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
            INPUT_SCHEMA,
        )

        self.spark = spark
        self.input_df = spark.read.schema(INPUT_SCHEMA).parquet(str(self.input_dir))
        warmup_files = sorted(str(p) for p in self.input_dir.glob("*.parquet"))
        warmup_df = spark.read.schema(INPUT_SCHEMA).parquet(*warmup_files[: self.WARMUP_PARTS])
        for i in range(self.WARMUP_CALLS):
            with self.tracer.span("setup.warmup"):
                self._job(self.work / "warmup" / str(i), warmup_df)

    def cycle(self) -> int:
        out = self.work / "calls" / str(self.n_calls)
        with self.tracer.span(self.call):
            summary = self._job(out)
        self.n_calls += 1
        self._count_summary(summary)
        return len(self.docs)

    def traced_extra(self) -> None:
        from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
            extract_spans,
        )

        # The same input through the operator alone, into a sink that writes
        # nothing: run_extraction_job minus this is the sinks' and lineage's
        # share.
        for _ in range(self.NOOP_CALLS):
            with self.tracer.span("operators.extract.extract_spans"):
                extract_spans(self.input_df).write.mode("overwrite").format("noop").save()

    def _sample_ids(self) -> list[str]:
        return [
            d["doc_id"]
            for d in self.docs
            if int(hashlib.md5(d["doc_id"].encode()).hexdigest(), 16) % self.SAMPLE_EVERY == 0
            and d["doc_id"] not in self.golden_ids
        ]

    def check(self) -> tuple[int, int, dict]:
        from pyspark.sql import functions as F

        from ebook_conversion_to_text_for_machine_learning_spark.core.extract import (
            extract_document,
        )
        from ebook_conversion_to_text_for_machine_learning_spark.testing.fixtures import (
            GOLDEN_DOCS,
        )

        by_id = {d["doc_id"]: d for d in self.docs}
        expected = {doc["doc_id"]: [tuple(s) for s in exp] for doc, exp in GOLDEN_DOCS}
        sample = self._sample_ids()
        t0 = time.perf_counter()
        for doc_id in sample:
            d = by_id[doc_id]
            rows = [(k, t, r) for k, t, r, _ in sorted(d["spans"], key=lambda s: s[3])]
            spans, status = extract_document(d["fmt"], rows, d["title"], d["author"])
            expected[doc_id] = [tuple(s) for s in spans] if status == "ok" else None
        us_per_doc = (time.perf_counter() - t0) * 1e6 / max(len(sample), 1)

        outputs = self.spark.read.parquet(str(self.work / "calls" / "*" / "out")).withColumn(
            "call", F.regexp_extract(F.input_file_name(), r"/calls/(\d+)/out/", 1).cast("int")
        )
        counts = {
            r["call"]: (r["n"], r["ids"])
            for r in outputs.groupBy("call")
            .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("ids"))
            .collect()
        }
        mismatched = 0
        for call in range(self.n_calls):
            n, ids = counts.get(call, (0, 0))
            mismatched += abs(n - len(self.docs)) + abs(ids - len(self.docs))
        checked = outputs.where(F.col("doc_id").isin(list(expected))).collect()
        seen: dict[int, set] = {}
        for r in checked:
            seen.setdefault(r["call"], set()).add(r["doc_id"])
            got = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
            if expected[r["doc_id"]] is None or got != expected[r["doc_id"]]:
                mismatched += 1
        mismatched += sum(len(expected) - len(seen.get(c, ())) for c in range(self.n_calls))

        fold_us = (
            self.spark.read.parquet(str(self.work / "calls" / "*" / "lineage_partitions"))
            .agg(F.sum("cpu_us"))
            .collect()[0][0]
        )
        self.layer["core.extract_document.us_per_doc"] = us_per_doc
        self.layer["core.fold_cpu_s"] = (fold_us or 0) / 1e6 / max(self.n_calls, 1)
        attempted = self.n_calls * len(self.docs)
        return attempted, self.failed_docs + mismatched, {
            "calls": self.n_calls,
            "docs_per_call": len(self.docs),
            "checked_docs_per_call": len(expected),
            "failed_docs": self.failed_docs,
            "mismatched": mismatched,
        }


# --- near-dup ingest ----------------------------------------------------------


class NearDupIngest(Workload):
    """The per-trigger call sequence of ``streaming.dedup.stream_near_dedup``
    without the file source: one ``ingest_batch_against_index`` per arriving
    batch against a ``write_minhash_index`` index, then
    ``compact_minhash_index``.

    Not a workload of the regression check: the index build, one ingest and
    one compaction take 35-45 s in a fresh process (per-job and
    per-partition-directory costs, not the batch size), and 22 such runs
    do not fit the check's time budget beside the other workloads. A traced
    ``ann_probe`` run runs the sequence once after its own loop
    (``AnnProbe.traced_extra``), so the dedup and index-maintenance layers
    keep their per-layer numbers and output checks."""

    name = "near_dup_ingest"
    call = "operators.dedup.ingest_batch_against_index"
    items = "docs"

    N_BASE = 300
    BATCH_DOCS = 50
    DUPS_PER_BATCH = 5
    PARTS = 4

    def __init__(self, *args) -> None:
        super().__init__(*args)
        n_batches = self.max_cycles
        self.corpus = inputs.NearDupCorpus(
            self.seed,
            n_base=self.N_BASE,
            batch_docs=self.BATCH_DOCS,
            n_batches=n_batches,
            n_dups=self.DUPS_PER_BATCH,
        )
        key = (
            f"near_dup_ingest-{self.seed}-{self.N_BASE}x{self.BATCH_DOCS}x{n_batches}"
            f"-v{inputs.GENERATOR_VERSION}"
        )
        self.input_dir = inputs.cached_dir(
            self.cache, key, lambda d: self.corpus.write(d, self.PARTS)
        )
        self.index = str(self.work / "minhash_index")
        self.next_batch = 0
        #: batch number -> [(doc_id, dup_of)]
        self.annotated: dict[int, list] = {}
        self.folded: list[int] = []

    def _ingest(self) -> None:
        from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
            ingest_batch_against_index,
        )

        b = self.next_batch
        batch =self.spark.read.parquet(str(self.input_dir / f"batch={b}"))
        with self.tracer.span(self.call):
            annotated = ingest_batch_against_index(self.spark, batch, self.index, batch_id=b + 1)
        self.annotated[b] = [(r[0], r[1]) for r in annotated.select("doc_id", "dup_of").collect()]
        self.next_batch += 1

    def setup(self, spark) -> None:
        from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
            write_minhash_index,
        )

        self.spark = spark
        with self.tracer.span("operators.dedup.write_minhash_index"):
            write_minhash_index(spark.read.parquet(str(self.input_dir / "base")), self.index)

    def cycle(self) -> int:
        from ebook_conversion_to_text_for_machine_learning_spark.operators.index_maintenance import (
            compact_minhash_index,
        )

        self._ingest()
        with self.tracer.span("operators.index_maintenance.compact_minhash_index"):
            self.folded.append(compact_minhash_index(self.spark, self.index))
        return self.BATCH_DOCS

    def check(self) -> tuple[int, int, dict]:
        text = self.corpus.text
        missed = bad_pairs = bad_rows = 0
        intra = index = novel = 0
        for b, rows in self.annotated.items():
            ids = self.corpus.batches[b]
            got = [doc_id for doc_id, _ in rows]
            batch_ids = set(ids)
            # each doc exactly once
            bad_rows += len(got) - len(set(got)) + len(batch_ids ^ set(got))
            dup_of = dict(rows)
            for doc_id in ids:
                if doc_id in self.corpus.planted and dup_of.get(doc_id) is None:
                    missed += 1
            for doc_id, src in rows:
                if src is None:
                    novel += 1
                    continue
                if src in batch_ids:
                    intra += 1
                else:
                    index += 1
                a, c = inputs.shingles(text[doc_id]), inputs.shingles(text[src])
                if 2 * len(a & c) < len(a | c):
                    bad_pairs += 1
        self.layer["operators.dedup.dups_intra"] = intra
        self.layer["operators.dedup.dups_index"] = index
        self.layer["operators.dedup.novel"] = novel
        self.layer["operators.index_maintenance.batch_partitions_max"] = max(self.folded, default=0)
        attempted = sum(len(self.corpus.batches[b]) for b in self.annotated)
        return attempted, missed + bad_pairs + bad_rows, {
            "batches": len(self.annotated),
            "planted_dups": sum(
                1 for b in self.annotated for d in self.corpus.batches[b] if d in self.corpus.planted
            ),
            "missed_dups": missed,
            "pairs_below_jaccard_0.5": bad_pairs,
            "bad_rows": bad_rows,
            "compactions": len(self.folded),
            # beside the per-layer files_read: the index's own file count
            "index_files": sum(1 for _ in Path(self.index).rglob("*.parquet")),
        }


# --- ann_probe ---------------------------------------------------------------


class AnnProbe(Workload):
    """``ivfpq_topk`` probe batches over persisted ``write_ann_index`` cells
    and ``write_pq_index`` codes, with ``append_to_ann_index`` +
    ``append_to_pq_index`` of a fresh vector batch after every
    ``APPEND_EVERY``-th probe batch, so later probes see appended vectors."""

    name = "ann_probe"
    call = "operators.similarity.ivfpq_topk"
    items = "probes"

    N_BASE = 8000
    DIM = 64
    PROBE_BATCH = 64
    APPEND_BATCH = 32
    #: Eight probe batches per cycle, so ``call_s_p50`` is a median over
    #: eight calls.
    APPEND_EVERY = 8
    #: With one warm-up batch the timed probes still sped up by a third
    #: over the next seven calls; with two, the first timed call still ran
    #: up to 40% slower than the rest.
    WARMUP_CALLS = 3
    K = 10
    NPROBE = 4
    #: LSH bands of the ANN index and hyperplanes per band. ivfpq_topk reads
    #: only the index's cells; the bands are still signed (the LSH kernel
    #: runs) and written, into one partition directory per band and bucket
    #: prefix: 1 band of 4 planes makes 16 of them instead of 256 per band.
    N_BANDS = 1
    BAND_PLANES = 4
    PARTS = 4

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.n_probe_batches = self.WARMUP_CALLS + self.max_cycles * self.APPEND_EVERY
        n_probe = self.PROBE_BATCH * self.n_probe_batches
        n_append = self.APPEND_BATCH * self.max_cycles
        self.vecs = inputs.planted_vectors(self.seed, self.N_BASE + n_probe + n_append, self.DIM)
        self.probe0 = self.N_BASE
        self.append0 = self.N_BASE + n_probe

        def write(d: Path) -> None:
            inputs.write_vectors(self.vecs[: self.N_BASE], 0, d / "base", self.PARTS)
            inputs.write_vectors(self.vecs[self.probe0 : self.append0], self.probe0, d / "probes", 1)
            inputs.write_vectors(self.vecs[self.append0 :], self.append0, d / "appends", 1)

        key = (
            f"ann_probe-{self.seed}-{self.N_BASE}x{self.DIM}-{n_probe}-{n_append}"
            f"-v{inputs.GENERATOR_VERSION}"
        )
        self.input_dir = inputs.cached_dir(self.cache, key, write)
        self.ann = str(self.work / "ann_index")
        self.pq = str(self.work / "pq_index")
        self.next_probe = 0
        self.n_appended = 0
        #: (probe batch, appended batches visible, rows)
        self.answers: list[tuple[int, int, list]] = []
        self.near_dup: NearDupIngest | None = None

    def _refresh_tables(self) -> None:
        from pyspark.sql import functions as F

        cells = self.spark.read.parquet(f"{self.ann}/cells")
        self.corpus = cells.select(
            F.col("item_id").alias("vec_id"), F.col("item_vec").alias("embedding")
        )
        self.cells = cells.select(F.col("item_id").alias("vec_id"), "cell_id")
        self.codes = self.spark.read.parquet(f"{self.pq}/codes")

    def _slice(self, sub: str, first: int, n: int):
        from pyspark.sql import functions as F

        return self.spark.read.parquet(str(self.input_dir / sub)).where(
            (F.col("vec_id") >= first) & (F.col("vec_id") < first + n)
        )

    def _probe(self, span: str) -> None:
        from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
            ivfpq_topk,
        )

        b = self.next_probe
        if b >= self.n_probe_batches:
            raise RuntimeError(
                f"ann_probe ran out of pre-generated probe batches: a cycle took less "
                f"than MIN_CYCLE_S ({self.MIN_CYCLE_S} s)"
            )
        probes = self._slice("probes", self.probe0 + b * self.PROBE_BATCH, self.PROBE_BATCH)
        with self.tracer.span(span):
            rows = ivfpq_topk(
                self.corpus,
                probes,
                self.centroids,
                self.books,
                k=self.K,
                nprobe=self.NPROBE,
                cells=self.cells,
                codes=self.codes,
            ).collect()
        self.answers.append((b, self.n_appended, [tuple(r) for r in rows]))
        self.next_probe += 1

    def setup(self, spark) -> None:
        from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
            ivf_centroids,
            read_pq_index,
            write_ann_index,
            write_pq_index,
        )

        self.spark = spark
        base = spark.read.parquet(str(self.input_dir / "base"))
        with self.tracer.span("operators.similarity.write_ann_index"):
            # The codebook write_ann_index would sample itself, kept for the
            # probes. IVF codebook at sqrt(N): a codebook near N cells makes
            # the stride sample and the assignment O(N^2).
            self.centroids = ivf_centroids(base, target_cells=round(math.sqrt(self.N_BASE)))
            write_ann_index(
                base,
                self.DIM,
                self.ann,
                n_bands=self.N_BANDS,
                band_planes=self.BAND_PLANES,
                centroids=self.centroids,
            )
        with self.tracer.span("operators.similarity.write_pq_index"):
            write_pq_index(base, self.pq)
        self.books, _ = read_pq_index(spark, self.pq)
        self._refresh_tables()
        for _ in range(self.WARMUP_CALLS):
            self._probe("setup.warmup")

    def cycle(self) -> int:
        from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
            append_to_ann_index,
            append_to_pq_index,
        )

        for _ in range(self.APPEND_EVERY):
            self._probe(self.call)
        batch = self._slice(
            "appends", self.append0 + self.n_appended * self.APPEND_BATCH, self.APPEND_BATCH
        )
        with self.tracer.span("operators.similarity.append_to_ann_index"):
            append_to_ann_index(batch, self.ann, batch_id=self.n_appended + 1)
        with self.tracer.span("operators.similarity.append_to_pq_index"):
            append_to_pq_index(batch, self.pq, batch_id=self.n_appended + 1)
        self.n_appended += 1
        self._refresh_tables()
        return self.APPEND_EVERY * self.PROBE_BATCH

    def traced_extra(self) -> None:
        # One cycle of the near-dup ingest sequence, in its own index under
        # this run's directory.
        self.near_dup = NearDupIngest(self.tracer, self.work / "near_dup", self.cache, self.seed, 0)
        self.near_dup.setup(self.spark)
        self.near_dup.cycle()

    def _index_vectors(self, n_appended: int) -> tuple[np.ndarray, np.ndarray]:
        n_app = n_appended * self.APPEND_BATCH
        ids = np.concatenate(
            [np.arange(self.N_BASE), np.arange(self.append0, self.append0 + n_app)]
        )
        return ids, np.concatenate(
            [self.vecs[: self.N_BASE], self.vecs[self.append0 : self.append0 + n_app]]
        ).astype(np.float64)

    def check(self) -> tuple[int, int, dict]:
        bad_cos = bad_rows = hits = total = attempted = 0
        for b, n_appended, rows in self.answers:
            ids, mat = self._index_vectors(n_appended)
            pos = {int(i): n for n, i in enumerate(ids)}
            unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            first = self.probe0 + b * self.PROBE_BATCH
            probe_ids = range(first, first + self.PROBE_BATCH)
            by_probe: dict[int, list] = {}
            for probe_id, item_id, cosine, rank in rows:
                by_probe.setdefault(probe_id, []).append((rank, item_id, cosine))
            for probe_id in probe_ids:
                attempted += 1
                got = sorted(by_probe.get(probe_id, []))
                bad = [r for r, _, _ in got] != list(range(1, self.K + 1))
                q = self.vecs[probe_id].astype(np.float64)
                q /= np.linalg.norm(q)
                for _, item_id, cosine in got:
                    if item_id not in pos:
                        bad = True
                        continue
                    ref = float(unit[pos[item_id]] @ q)
                    # the operator rounds to 4 decimals
                    if abs(cosine - ref) > 0.5e-4 + 1e-9:
                        bad_cos += 1
                        bad = True
                exact = ids[np.argsort(-(unit @ q), kind="stable")[: self.K]]
                hits += len(set(exact.tolist()) & {i for _, i, _ in got})
                total += self.K
                bad_rows += bad
        details = {
            "probe_calls": len(self.answers),
            "appends": self.n_appended,
            "bad_probes": bad_rows,
            "bad_cosines": bad_cos,
            # beside the per-layer files_read: the probed tables' file counts
            "cells_files": sum(1 for _ in Path(self.ann, "cells").rglob("*.parquet")),
            "codes_files": sum(1 for _ in Path(self.pq, "codes").rglob("*.parquet")),
            "recall_at_10": hits / total if total else 0.0,
        }
        if self.near_dup is not None:
            nd_attempted, nd_failed, details["near_dup"] = self.near_dup.check()
            attempted += nd_attempted
            bad_rows += nd_failed
            self.layer.update(self.near_dup.layer)
        return attempted, bad_rows, details


WORKLOADS = {w.name: w for w in (ExtractBatch, AnnProbe)}
