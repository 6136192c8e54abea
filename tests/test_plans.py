"""Physical-plan audits: pin the scale-critical properties of the plans
Catalyst actually produces, so a regression that silently de-optimizes a
hot path (lost pushdown, surprise shuffle, row-wise Python) fails CI.

These mirror what `.explain("formatted")` review found by hand: at 100 TB
the difference between these plans and naive ones is the job.
"""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_embeddings_probe_filter_pushed_to_scan(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(emb.where(F.col("vec_id") < 10).select("vec_id"))
    assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)]" in plan
    # Column pruning: the scan must not read the 64-float embedding column.
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "embedding" not in read_schema


def test_documents_scan_prunes_to_projected_columns(spark):
    q = entrymod.queries()["token_stats"](spark, SF_DIR)
    plan = plan_of(q)
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in read_schema and "doc_id" in read_schema
    for unused in ("lang", "source", "n_chars"):
        assert unused not in read_schema


def test_pricing_summary_pushes_date_filter_and_partial_agg(spark):
    q = entrymod.queries()["pricing_summary"](spark, SF_DIR)
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate," in plan
    # Map-side combine: partial + final HashAggregate pair.
    assert plan.count("HashAggregate") >= 2


def test_nation_revenue_broadcasts_dimensions(spark):
    q = entrymod.queries()["nation_revenue"](spark, SF_DIR)
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_extraction_plan_is_arrow_not_rowwise_python(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        extract_spans,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.sources.tables import (
        documents_as_txt_spans,
    )

    plan = plan_of(extract_spans(documents_as_txt_spans(spark, SF_DIR)))
    assert "MapInArrow" in plan or "MapInPandas" in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time Python UDF


def test_extraction_job_output_write_is_one_pass(spark):
    """The extraction job's output write runs the fold once: one
    MapInArrow fed straight by the scan — no checkpointed-RDD scan, and
    no Exchange unless ``repartition`` asks for the salted shuffle."""
    from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
        _tallied_output,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.sources.tables import (
        documents_as_txt_spans,
    )

    todo = documents_as_txt_spans(spark, SF_DIR)
    plan = plan_of(_tallied_output(todo, None)[0])
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 1
    assert "Exchange" not in plan
    assert "ExistingRDD" not in plan
    salted = plan_of(_tallied_output(todo, 8)[0])
    assert len(re.findall(r"^\(\d+\) MapInArrow", salted, re.M)) == 1
    assert "Arguments: hashpartitioning(xxhash64(doc_id" in salted


def test_ivf_assignment_has_no_shuffle(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators import (
        similarity as S,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(S.ivf_assign(emb, S.ivf_centroids(emb, target_cells=10)))
    assert "Exchange" not in plan  # codebook is inlined; pure projection


def test_simhash_signature_agg_is_partial_and_integer_only(spark):
    q = entrymod.queries()["simhash_signatures"](spark, SF_DIR)
    plan = plan_of(q)
    # Two-phase hash aggregate: map-side partial sums before the shuffle.
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial" in plan.lower()
    assert "BatchEvalPython" not in plan
    # The shuffle is keyed on doc_id, not on token/text payloads.
    exchange_lines = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert exchange_lines and all("tok" not in l for l in exchange_lines)


def test_simhash_near_pairs_joins_on_block_values(spark):
    q = entrymod.queries()["simhash_near_pairs"](spark, SF_DIR)
    plan = plan_of(q)
    key_lines = [l for l in plan.splitlines() if "keys [" in l]
    assert key_lines, plan
    # Join keys are block slices of the signature — never text.
    assert any("block_val" in l for l in key_lines)
    assert all("text" not in l for l in key_lines)


def test_embedding_near_dup_arrow_candidates_are_narrow(spark):
    q = entrymod.queries()["embedding_near_dup"](spark, SF_DIR)
    plan = plan_of(q)
    assert "MapInArrow" in plan  # Arrow matmul signature path
    assert "BatchEvalPython" not in plan
    key_lines = [l for l in plan.splitlines() if "keys [" in l]
    assert key_lines, plan
    # Candidate join keys on (band_id, bucket); vectors join back by id only.
    assert any("bucket" in l for l in key_lines)
    assert all("embedding" not in l for l in key_lines)


def test_sample_frames_stays_jvm_side(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators import media as M

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(M.sample_frames(M.attach_payloads(docs, "image")))
    assert "Generate" in plan  # bounded explode
    assert "Python" not in plan and "Exchange" not in plan


def test_minhash_candidates_join_keys_are_narrow(spark):
    q = entrymod.queries()["minhash_candidates"](spark, SF_DIR)
    plan = plan_of(q)
    # The self-join must key on (band_id, bucket) — never carry raw text.
    join_lines = [l for l in plan.splitlines() if "Join" in l and "Input" not in l]
    assert join_lines, plan
    assert "text" not in " ".join(join_lines)


def test_resume_anti_join_is_anti(spark, tmp_path):
    from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
        resume_filter,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.sources.tables import (
        documents_as_txt_spans,
    )

    docs = documents_as_txt_spans(spark, SF_DIR)
    committed = docs.select("doc_id").limit(5)
    plan = plan_of(resume_filter(docs, committed))
    assert "LeftAnti" in plan
    # One anti join on the committed ids: no distinct (HashAggregate) under it.
    assert "HashAggregate" not in plan


def test_training_sequences_single_data_shuffle(spark):
    """The full curation chain (extract → quality → dedup → scrub → chunk →
    split) must keep exactly ONE data shuffle — the dedup aggregate; the
    quality self-join broadcasts and split assignment is a projection."""
    import re

    q = entrymod.queries()["training_sequences"](spark, SF_DIR)
    plan = plan_of(q)
    # formatted mode labels nodes "(N) Exchange" — count node headers.
    headers = re.findall(r"^\(\d+\) (\w+)", plan, flags=re.M)
    assert headers.count("Exchange") == 1, headers
    assert "BatchEvalPython" not in plan


def test_ngram_jaccard_interns_tokens_before_pair_join(spark):
    """The O(n²) verify must intersect interned LONG arrays: the vocab
    dictionary joins broadcast, and no string gram array reaches the
    pairwise block join."""
    q = entrymod.queries()["ngram_jaccard"](spark, SF_DIR)
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan  # vocab dictionary join
    # The pair join condition intersects bigint arrays, not strings.
    cond_lines = [l for l in plan.splitlines() if "array_intersect" in l]
    assert cond_lines, plan


def test_incremental_dedup_with_seen_hashes(spark):
    """A second curation run given the first run's output hashes must emit
    only genuinely new texts (anti-join on text_hash), and the anti-join
    must be a LeftAnti in the plan."""
    from tests import fixtures as fx
    from tests.conftest import spans_df

    from ebook_conversion_to_text_for_machine_learning_spark.plans.training_prep import (
        prepare_training_data,
    )

    docs = fx.random_corpus(40, seed=31)
    first = prepare_training_data(spans_df(spark, docs))
    seen = first.select("text_hash")

    # Same input again → everything already seen → empty.
    rerun = prepare_training_data(spans_df(spark, docs), seen_hashes=seen)
    assert rerun.count() == 0
    assert "LeftAnti" in plan_of(rerun)

    # A batch mixing old + new docs emits only the new ones.
    more = fx.random_corpus(60, seed=31)[40:]
    for i, d in enumerate(more):
        d["doc_id"] = f"late-{i:04d}"
    mixed = prepare_training_data(spans_df(spark, docs + more), seen_hashes=seen)
    new_only = prepare_training_data(spans_df(spark, more))
    assert {r.text_hash for r in mixed.collect()} == {
        r.text_hash for r in new_only.collect()
    }


def test_dedup_against_index_cost_is_batch_bounded(spark):
    """The incremental-dedup contract: query-time cost scales with the
    batch, never the indexed corpus. Pinned block-by-block on the
    FORMATTED plan (a bare substring check was vacuous — simple-mode
    strings like 'LeftSemi, BuildRight' never appear in formatted
    output, and unrelated BroadcastExchange nodes satisfied the old
    fallback): (a) the candidate prefilter is a BROADCAST hash join
    whose own detail block says LeftSemi — the corpus-scale grams/ table
    streams through it unshuffled; (b) no join in the plan is a
    SortMergeJoin, i.e. nothing shuffles a full index table into a merge
    join; (c) index-side totals come from the counts/ scan."""
    import re

    plan = plan_of(entrymod.queries()["dedup_against_index"](spark, SF_DIR))
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    semi_bhj = [
        b
        for b in blocks
        if b.split("\n", 1)[0].split(") ", 1)[-1].startswith("BroadcastHashJoin")
        and "Join type: LeftSemi" in b
    ]
    assert semi_bhj, "broadcast LeftSemi prefilter missing from plan"
    assert "SortMergeJoin" not in plan
    assert "/counts" in plan
    assert "BatchEvalPython" not in plan
    # (d) both corpus-scale index tables partition-prune on the batch's
    # realized pfx sets — the scans carry a pfx INSET PartitionFilter, so
    # a small batch reads a handful of index files, not the whole table.
    for table in ("/bands", "/grams"):
        scans = [
            b
            for b in blocks
            if "Scan parquet" in b.split("\n", 1)[0] and table in b
        ]
        assert scans, f"no parquet scan of {table} in plan"
        assert all(
            "PartitionFilters" in b and "pfx" in b.split("PartitionFilters", 1)[1]
            for b in scans
        ), f"{table} scan missing pfx partition filter"


def test_indexed_ann_scans_partition_prune(spark):
    """The persisted-ANN contract: a probe batch must not scan the
    corpus-scale index tables. The LSH path's bands/ scan prunes on the
    probes' bucket prefixes; the IVF path's cells/ scan prunes on the
    probed cells' partition keys — both visible as partition filters on
    the parquet scans."""
    import re

    def scan_blocks(plan, table):
        blocks = re.split(r"\n(?=\(\d+\) )", plan)
        return [
            b
            for b in blocks
            if "Scan parquet" in b.split("\n", 1)[0] and table in b
        ]

    lsh = plan_of(entrymod.queries()["lsh_ann_topk_indexed"](spark, SF_DIR))
    bands = scan_blocks(lsh, "/bands")
    assert bands, "no bands/ scan in the LSH indexed plan"
    assert all(
        "PartitionFilters" in b and "pfx" in b.split("PartitionFilters", 1)[1]
        for b in bands
    ), "bands/ scan missing pfx partition filter"

    ivf = plan_of(entrymod.queries()["ivf_ann_topk_indexed"](spark, SF_DIR))
    cells = scan_blocks(ivf, "/cells")
    assert cells, "no cells/ scan in the IVF indexed plan"
    assert all(
        "PartitionFilters" in b
        and "cell_pfx" in b.split("PartitionFilters", 1)[1]
        for b in cells
    ), "cells/ scan missing cell_pfx partition filter"


def test_decontaminate_corpus_side_is_shuffle_free(spark):
    """The corpus side of decontamination must stay a pure map: eval grams
    are aggregated (a one-row exchange) and broadcast; the corpus is never
    hash-partitioned and never touches Python."""
    plan = plan_of(entrymod.queries()["decontaminate"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan
    # formatted mode prints the partitioning in the Arguments block
    assert "Arguments: hashpartitioning" not in plan


def test_decontaminate_join_path_single_scan_on_hashes(spark):
    """broadcast_eval=False must join on gram hashes — never
    collect/broadcast the eval grams as an array (the whole point of the
    path) and never touch Python — and must tokenize the corpus exactly
    ONCE: the explode carries n_grams, so there is no second
    totals-subtree scan (corpus + eval = two parquet scans total, not
    three). Eval-side dedup happens before the join so duplicate eval
    grams cannot inflate hit counts."""
    import re

    plan = plan_of(entrymod.queries()["decontaminate_join"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # formatted explain lists every node once in the details section as
    # "(<n>) Scan parquet" — two scans = corpus once + eval once
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    # n_grams must be recovered by COUNTING exploded rows, never by a
    # size(<shingles>) projected next to the explode: Catalyst re-inlines
    # the full shingle expression into the post-Generate Project and
    # recomputes it per exploded row — O(grams²) per doc (measured 231s
    # vs 11s at sf0.1). The shingle builder itself uses size() INSIDE the
    # Generate (its >= 3 guard), so pin the recompute's signature — a
    # size() over the materialized CASE expression cast to the n_grams
    # column — rather than size() anywhere.
    assert "size(CASE WHEN" not in plan


def test_gram_novelty_first_owner_is_partial_aggregate(spark):
    """The first-owner decision must be a map-side-combinable min(doc_id)
    aggregate on the gram hash (line_dedup's skew-immune shape) — never a
    window — and the corpus is tokenized once (one parquet scan feeds
    both sides through the exploded rows)."""
    plan = plan_of(entrymod.queries()["gram_novelty"](spark, SF_DIR))
    assert "partial_min" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_repeated_passages_is_one_aggregate_no_window(spark):
    """Corpus-wide passage grouping must be a hash aggregate over the
    exploded narrow (doc_id, md5) rows — map-side combinable — never a
    window, never Python; at most the two exchanges Spark's two-phase
    distinct-count plans."""
    plan = plan_of(entrymod.queries()["repeated_passages"](spark, SF_DIR))
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Arguments: hashpartitioning") <= 2


def test_filter_funnel_single_scan_single_row_exchange(spark):
    """The funnel is ONE corpus scan collapsing to one counter row: the
    only exchange is the SinglePartition merge of that row, and the scan
    reads just the columns the stage predicates touch."""
    import re

    plan = plan_of(entrymod.queries()["quality_filter_funnel"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert plan.count("Arguments: SinglePartition") == 1
    assert "Arguments: hashpartitioning" not in plan
    assert "ReadSchema: struct<text:string,lang:string>" in plan


def test_pq_adc_scan_reads_codes_not_vectors(spark, tmp_path):
    """The whole point of PQ: with a persisted codes table, the ADC scan
    must never re-read or re-encode the corpus vectors — the plan reads
    the codes parquet only and scores it in one LUT-gather MapInArrow,
    with no join and no re-aggregation."""
    import re

    from ebook_conversion_to_text_for_machine_learning_spark.operators import (
        similarity as S,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = S.pq_codebooks(emb, target_codes=16)
    codes_path = str(tmp_path / "pq_codes")
    S.pq_encode(emb, books).write.parquet(codes_path)

    probes = emb.where(F.col("vec_id") < 10)
    out = S.pq_adc_topk(
        emb, probes, books, k=5, codes=spark.read.parquet(codes_path)
    )
    plan = plan_of(out)
    # ONE scan — the codes table. The probe LUT is built eagerly at
    # call time and shipped via broadcast variable, so the lazy plan
    # touches nothing else; the corpus embedding parquet must NOT
    # appear at all.
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "embeddings.parquet" not in plan
    # Exactly ONE MapInArrow — the LUT-gather scorer. A second one
    # would be a corpus re-encode.
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 1
    assert "BatchEvalPython" not in plan
    # No join, no re-aggregation: candidates come pre-scored and
    # chunk-pruned; the only exchange is the top-k window's.
    assert "Join" not in plan
    # Correctness of the persisted path: identical to the live encode.
    live = S.pq_adc_topk(emb, probes, books, k=5)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, live.collect()))


def test_line_dedup_keeper_is_partial_aggregate_not_window(spark):
    """The keeper decision must be a map-side-combinable partial aggregate
    (min(struct(doc_id, line_idx)) grouped on the line hash), NOT a
    row_number window: window partitions funnel every corpus-wide
    occurrence of the empty line / boilerplate through ONE reducer and
    cannot be split by AQE. Shuffle budget: agg input + doc_id reassembly
    (the keeper join-back broadcasts at test scale; at lake scale it is a
    shuffled join whose skewed partitions AQE splits)."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        line_dedup,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(line_dedup(docs))
    assert "partial_min" in plan
    assert "Window" not in plan
    assert plan.count("Arguments: hashpartitioning") <= 3
    assert "BatchEvalPython" not in plan


def test_training_mix_plan_shuffle_budget(spark):
    """The composed mix chain: Arrow extraction, per-row quality filter,
    ONE text-carrying dedup aggregate shuffle, post-dedup repetition-flag
    aggregates on narrow gram rows (4 exchanges keyed on text_hash-derived
    groupings; AQE reuses the dedup exchange so extraction runs once),
    broadcast decontamination, ONE packing-window shuffle. Exactly two of
    the exchanges carry document text."""
    plan = plan_of(entrymod.queries()["training_mix"](spark, SF_DIR))
    assert "MapInArrow" in plan or "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Arguments: hashpartitioning") == 5


def test_document_features_projection_plus_narrow_flag_join(spark):
    """Every signal except the repetition flag is one codegen'd
    projection; the flag joins in from the explode+aggregate path (per-row
    HOF aggregates interpret at ~30× the CPU — see the operator
    docstring). Exactly four hash-partitioned Exchanges (the narrow
    gram/doc aggregations) and no Python; how the flag join itself is
    planned (broadcast or shuffled) is left to the planner."""
    plan = plan_of(entrymod.queries()["document_features"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert plan.count("Arguments: hashpartitioning") == 4
    assert "Scan parquet" in plan
