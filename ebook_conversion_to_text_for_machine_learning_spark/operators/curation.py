"""Corpus-curation operators: PII scrubbing, chunking, split assignment.

The last mile of a training-data pipeline after extraction/dedup: redact
obvious PII patterns, cut documents into fixed-size token chunks with
overlap, and assign deterministic train/val/test splits. All three are
pure built-in expressions (regexp / sequence / slice / md5 arithmetic) —
no Python, no shuffle beyond what the caller does — and every pattern is
portable between Spark's Java regex and DuckDB's RE2 (no backreferences,
no lookaround) so each operator has an exact SQL oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
    hex_digit,
    shingles_col,
)
from ebook_conversion_to_text_for_machine_learning_spark.operators.text_stats import (
    fingerprint_col,
    guarded_quality_x10k_col,
    tokens_col,
)

#: Redaction patterns — deliberately RE2-safe (shared with the SQL oracle).
#: URLs are scrubbed FIRST so their userinfo/query parts cannot later match
#: the email/phone patterns.
URL_PATTERN = r"https?://[^\s]+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9][0-9() \-]{6,}[0-9]"

URL_TOKEN = "<URL>"
EMAIL_TOKEN = "<EMAIL>"
PHONE_TOKEN = "<PHONE>"


def scrub_text_col(text: Column) -> Column:
    """The redaction chain as a pure column expression (URL → email →
    phone), composable into any projection."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, URL_PATTERN, URL_TOKEN),
            EMAIL_PATTERN,
            EMAIL_TOKEN,
        ),
        PHONE_PATTERN,
        PHONE_TOKEN,
    )


def pii_count_cols(text: Column) -> list[Column]:
    """``n_urls``, ``n_emails``, ``n_phones``: match counts of each
    redaction pattern in ``text`` (bigint)."""
    return [
        F.size(F.regexp_extract_all(text, F.lit(pattern), 0)).cast("long").alias(name)
        for name, pattern in (
            ("n_urls", URL_PATTERN),
            ("n_emails", EMAIL_PATTERN),
            ("n_phones", PHONE_PATTERN),
        )
    ]


def scrub_pii(df: DataFrame) -> DataFrame:
    """Redact URLs, emails, and phone-number-shaped runs; count each kind.

    Counts are taken on the ORIGINAL text (so a URL containing an ``@``
    still counts once as a URL and once as an email-shaped match, exactly
    as the oracle sees it); replacements are applied in URL → email →
    phone order.
    """
    text = F.col("text")
    return df.select(
        "doc_id", scrub_text_col(text).alias("scrubbed_text"), *pii_count_cols(text)
    )


def chunk_documents(
    df: DataFrame,
    *,
    chunk_tokens: int = 128,
    overlap: int = 16,
    carry_cols: tuple = (),
    bpe_merges=None,
) -> DataFrame:
    """Cut each document into whitespace-token chunks with overlap.

    Chunk ``i`` covers tokens ``[i·(chunk_tokens−overlap),
    i·(chunk_tokens−overlap) + chunk_tokens)``; the last chunk may be
    short; empty documents yield no chunks. One bounded ``explode`` per
    document (≤ ⌈n/step⌉ rows), all slicing JVM-side — at corpus scale the
    output is the training-sequence table and this is the whole plan.
    ``carry_cols`` ride through to every chunk row unchanged (provenance
    columns like a text hash), avoiding a re-join downstream.

    ``bpe_merges`` (a merge list, e.g. ``bpe.DEFAULT_BPE_MERGES``) adds
    ``n_bpe_chunk_tokens`` — the chunk's REAL tokenizer token count
    under the vocab — so ``pack_sequences(count_col=
    "n_bpe_chunk_tokens")`` budgets bins in model tokens instead of the
    whitespace proxy. Chunk *boundaries* stay word-aligned (standard BPE
    never merges across words, so a word's symbol count is independent
    of its neighbors and the per-chunk counts sum exactly).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("require 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens_col(F.col("text"))
    n = F.size(toks)
    # Last start is (ceil(n/step)-1)*step, strictly below n by construction,
    # so sequence's closed upper bound never emits an empty trailing chunk.
    starts = F.when(
        n > 0,
        F.sequence(
            F.lit(0),
            (F.ceil(n.cast("double") / step) - 1).cast("int") * step,
            F.lit(step),
        ),
    ).otherwise(F.array().cast("array<int>"))
    carried = list(carry_cols)
    chunk_text = F.array_join(
        F.slice(F.col("_toks"), F.col("chunk_start") + 1, chunk_tokens), " "
    )
    cols = [
        (F.col("chunk_start") / step).cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        chunk_text.alias("chunk_text"),
        F.size(F.slice(F.col("_toks"), F.col("chunk_start") + 1, chunk_tokens)).cast("long").alias("n_chunk_tokens"),
    ]
    if bpe_merges is not None:
        from ebook_conversion_to_text_for_machine_learning_spark.operators.bpe import (
            bpe_token_count_col,
        )

        cols.append(
            bpe_token_count_col(chunk_text, bpe_merges).alias("n_bpe_chunk_tokens")
        )
    return df.select(
        "doc_id", *carried, toks.alias("_toks"), F.explode(starts).alias("chunk_start")
    ).select("doc_id", *carried, *cols)


#: Split thresholds over the 0..255 bucket space (first two md5 hex chars):
#: ~80% train, ~10% val, ~10% test.
TRAIN_UPPER = 205
VAL_UPPER = 230
#: The values ``split_col`` assigns.
SPLITS = ("train", "val", "test")


def _hex_bucket(id_col: Column, n_chars: int) -> Column:
    """0..16^n_chars−1 bucket from the first ``n_chars`` md5 hex chars of
    the id — strpos arithmetic only (``dedup.hex_digit``), so the SQL
    oracle computes the identical bucket. Two chars (0..255) place
    splits and shards; four (0..65535) give sampling rates a precision
    of 1/65536."""
    h = F.md5(id_col.cast("string"))
    bucket = hex_digit(h, 1)
    for pos in range(2, n_chars + 1):
        bucket = bucket * 16 + hex_digit(h, pos)
    return bucket


def split_col(id_col: Column) -> Column:
    """train/val/test as a pure column expression over the id — composable
    into any plan without a join (an id's split never changes)."""
    bucket = _hex_bucket(id_col, 2)
    train, val, test = SPLITS
    return (
        F.when(bucket < TRAIN_UPPER, F.lit(train))
        .when(bucket < VAL_UPPER, F.lit(val))
        .otherwise(F.lit(test))
    )


def split_assign(df: DataFrame) -> DataFrame:
    """Deterministic, rerun-stable train/val/test assignment by id hash.

    Hash-based (not random) so resumed/incremental runs assign every
    document identically with zero coordination — the property that
    matters when the corpus arrives over months.
    """
    return df.select(
        "doc_id",
        _hex_bucket(F.col("doc_id"), 2).cast("int").alias("bucket"),
        split_col(F.col("doc_id")).alias("split"),
    )


def stratified_sample(
    df: DataFrame, rates: dict[str, float], *, default_rate: float = 0.0
) -> DataFrame:
    """Deterministic hash-based stratified sampling: keep each row with its
    group's rate, decided by the row id's 16-bit md5 bucket.

    Corpus-balancing for training mixes (e.g. downsample dominant
    languages or sources). Hash-based, not random: a row's keep/drop
    decision never changes across reruns or incremental arrivals — the
    same property ``split_assign`` relies on — and requires zero
    coordination, zero shuffle, zero Python. Rates are quantized to
    1/65536 (``floor(rate * 65536)`` buckets kept) so the decision is
    exact integer arithmetic in any engine.
    """
    bucket = _hex_bucket(F.col("doc_id"), 4)
    cutoff = F.lit(None).cast("int")
    for group, rate in sorted(rates.items()):
        cutoff = F.when(F.col("lang") == group, F.lit(int(rate * 65536))).otherwise(cutoff)
    cutoff = F.coalesce(cutoff, F.lit(int(default_rate * 65536)))
    return (
        df.withColumn("sample_bucket", bucket.cast("int"))
        .where(F.col("sample_bucket") < cutoff)
    )


def pack_sequences(
    chunks: DataFrame,
    *,
    budget: int = 512,
    n_shards: int = 64,
    count_col: str = "n_chunk_tokens",
    shard_col: str | None = None,
    carry_cols: tuple = (),
) -> DataFrame:
    """Pack chunk rows into fixed-token-budget training bins.

    Streaming offset packing: within each (split, shard), chunks are laid
    end-to-end in ``(doc_id, chunk_idx)`` order and a chunk starting at
    cumulative offset ``S`` lands in ``bin_id = S div budget``. A chunk
    straddling a bin boundary consumes the next bin's offset space, so
    every bin except a shard's last holds within ``max_chunk − 1`` tokens
    of ``budget`` on either side — the standard contiguous-fill trade
    that avoids bin-state iteration entirely. Deterministic: the same
    corpus always packs identically.

    Scale shape: ``shard = doc_id mod n_shards`` bounds every window
    partition to ~1/n_shards of a split, so the sort-based window never
    funnels a whole split through one reducer — raise ``n_shards`` with
    the corpus (bins are only ever consumed shard-locally, their ids have
    no cross-shard meaning). One shuffle total; integer arithmetic only.

    ``shard_col`` names an existing column to shard by instead of the
    ``doc_id mod n_shards`` default (needed when ``doc_id`` is a string,
    e.g. an md5-bucket shard); ``carry_cols`` ride through unchanged
    (chunk text, provenance hashes).
    """
    from pyspark.sql import Window

    if shard_col is None:
        with_shard = chunks.withColumn(
            "shard", (F.col("doc_id") % n_shards).cast("long")
        )
    else:
        with_shard = chunks.withColumn("shard", F.col(shard_col).cast("long"))
    w = (
        Window.partitionBy("split", "shard")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset = F.sum(F.col(count_col)).over(w) - F.col(count_col)
    return with_shard.select(
        "split",
        "shard",
        "doc_id",
        "chunk_idx",
        *carry_cols,
        F.col(count_col).cast("long").alias("n_tokens"),
        offset.cast("long").alias("bin_offset"),
        F.floor(offset / F.lit(budget)).cast("long").alias("bin_id"),
    )


def domain_affinity(corpus: DataFrame, target: DataFrame, *, n: int = 2) -> DataFrame:
    """DSIR-style domain-affinity scoring (Xie et al. 2023, importance
    resampling): rank corpus documents by how much their n-gram profile
    resembles a TARGET domain, so a pretraining mix can upsample
    target-like data without training a classifier.

    Exact-integer surrogate for the paper's hashed-ngram log-likelihood
    ratio: each distinct gram ``g`` of a document contributes
    ``w(g) = (tf_target(g) · 10⁴) div tf_corpus(g)`` and the document
    scores the integer mean of its gram weights —
    ``affinity_x10k = Σw div n_grams``. Monotone in the target-vs-corpus
    frequency ratio like the LLR, but free of ``ln()`` (not correctly
    rounded; engines disagree at quantization boundaries — the same
    reason ``temperature_mix_plan`` restricts itself to sqrt).
    ``tf_corpus ≥ 1`` for every gram a document contains (the document
    itself), so the division is total.

    Scale shape: the corpus gram table explodes ONCE to narrow
    ``(doc_id, md5(gram))`` rows and is reused for both the corpus
    frequencies (one partial-agg groupBy) and the per-doc rollup; the
    target frequencies join on the hash (broadcast when the target is
    benchmark-sized). Nothing re-tokenizes, nothing touches Python.

    Returns (doc_id, n_grams, affinity_x10k) for every corpus document;
    gram-less documents score 0.
    """
    grams = corpus.select(
        "doc_id", F.explode_outer(shingles_col(F.col("text"), n)).alias("_g")
    ).select("doc_id", F.md5("_g").alias("gram_hash"))
    corpus_tf = grams.where(F.col("gram_hash").isNotNull()).groupBy(
        "gram_hash"
    ).agg(F.count("*").cast("long").alias("_tfc"))
    target_tf = (
        target.select(
            F.explode(shingles_col(F.col("text"), n)).alias("_g")
        )
        .select(F.md5("_g").alias("gram_hash"))
        .groupBy("gram_hash")
        .agg(F.count("*").cast("long").alias("_tft"))
    )
    weighted = (
        grams.join(corpus_tf, "gram_hash", "left")
        .join(F.broadcast(target_tf), "gram_hash", "left")
        .select(
            "doc_id",
            "gram_hash",
            F.expr(
                "CASE WHEN gram_hash IS NOT NULL THEN "
                "(coalesce(_tft, CAST(0 AS BIGINT)) * 10000) div _tfc "
                "ELSE CAST(0 AS BIGINT) END"
            ).alias("_w"),
        )
    )
    return weighted.groupBy("doc_id").agg(
        F.count("gram_hash").cast("long").alias("n_grams"),
        F.expr(
            "CASE WHEN count(gram_hash) > 0 THEN "
            "sum(_w) div count(gram_hash) ELSE CAST(0 AS BIGINT) END"
        ).alias("affinity_x10k"),
    )


#: Temperatures supported by ``temperature_mix_plan``. Restricted to
#: powers of 1/2 so the weight is computed by REPEATED ``sqrt`` — IEEE
#: requires sqrt to be correctly rounded, so Spark and any SQL engine
#: produce bit-identical weights; a general ``pow(x, t)`` is not
#: correctly rounded and its last-ulp slack would flip ``floor`` exactly
#: when n_tokens^t lands on an integer (perfect squares — common).
_MIX_TEMPERATURES = (1.0, 0.5, 0.25)


def temperature_mix_plan(
    df: DataFrame, *, token_budget: int, temperature: float = 0.5
) -> DataFrame:
    """Per-source sampling plan under temperature reweighting — the
    standard multi-source LLM mix rule (weight ∝ n_tokens^T, T < 1
    upsamples small sources), turned into actionable integer targets.

    For each source: ``weight = floor(n_tokens^T)`` (exact-integer via
    repeated sqrt, see ``_MIX_TEMPERATURES``), ``target_tokens =
    token_budget · weight ÷ Σweight`` (integer division), the capped
    ``sample_rate_x10k`` for sources with surplus data, and
    ``epochs_x10k`` (> 10000 means the source repeats — the quantity a
    mix review reads to spot over-epoching of small sources).

    Scale shape: ONE partial-agg scan to per-source token counts (key
    space = the source list), a broadcast one-row total, integer
    arithmetic throughout — exact in any engine, no float summation
    anywhere.
    """
    if temperature not in _MIX_TEMPERATURES:
        raise ValueError(
            f"temperature_mix_plan: temperature must be one of "
            f"{_MIX_TEMPERATURES} (repeated-sqrt exactness), got {temperature}"
        )
    toks = tokens_col(F.col("text"))
    per_source = (
        df.select("source", F.size(toks).cast("long").alias("_n"))
        .groupBy("source")
        .agg(F.sum("_n").alias("n_tokens"))
    )
    w = F.col("n_tokens").cast("double")
    t = temperature
    while t < 1.0:
        w = F.sqrt(w)
        t *= 2.0
    weighted = per_source.select(
        "source", "n_tokens", F.floor(w).cast("long").alias("weight")
    )
    total = weighted.agg(F.sum("weight").alias("_tw"))
    budget = int(token_budget)
    return weighted.crossJoin(F.broadcast(total)).select(
        "source",
        "n_tokens",
        "weight",
        F.expr(
            f"CASE WHEN _tw > 0 THEN ({budget} * weight) div _tw "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("target_tokens"),
        F.expr(
            f"CASE WHEN n_tokens > 0 AND _tw > 0 THEN "
            f"least(CAST(10000 AS BIGINT), ((({budget} * weight) div _tw) * 10000) div n_tokens) "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("sample_rate_x10k"),
        F.expr(
            f"CASE WHEN n_tokens > 0 AND _tw > 0 THEN "
            f"((({budget} * weight) div _tw) * 10000) div n_tokens "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("epochs_x10k"),
    )


def filter_funnel(
    df: DataFrame, stages: "list[tuple[str, Column]]"
) -> DataFrame:
    """Stage-attributed survival counts for a sequential filter chain —
    the report a curation run publishes so every dropped document is
    accountable to exactly one named filter (the FineWeb/Gopher-style
    ablation table).

    ``stages`` is an ordered list of ``(name, boolean Column)``; a
    document is IN stage ``i`` iff it passed all stages before it, so
    each document's drop is attributed to the FIRST predicate it fails.
    NULL predicate values count as drops (a filter that cannot evaluate
    must not silently pass data through).

    Scale shape: ONE corpus scan — the cumulative-survival flags are
    plain boolean expressions evaluated per row, collapsed by a single
    partial-agg ``sum()`` aggregate into one row of counters, and the
    per-stage rows are then exploded from that one-row frame (constant
    cost). No joins, no windows, no second scan, no Python; adding a
    stage adds one conjunction to the row expression, not a pass.

    Returns one row per stage: (stage_idx, stage, n_in, n_dropped,
    n_out), where ``n_in`` of stage 1 is the corpus size and ``n_out``
    of stage k is the surviving-document count.
    """
    if not stages:
        raise ValueError("filter_funnel: stages must be non-empty")
    names = [name for name, _ in stages]
    if len(set(names)) != len(names):
        raise ValueError(f"filter_funnel: duplicate stage names in {names}")
    cum = F.lit(True)
    aggs = [F.count("*").cast("long").alias("_c0")]
    for i, (_, pred) in enumerate(stages, start=1):
        cum = cum & F.coalesce(pred, F.lit(False))
        # coalesce: sum() over an empty corpus is NULL, and the funnel
        # must still report k well-formed zero rows.
        aggs.append(
            F.coalesce(F.sum(cum.cast("long")), F.lit(0))
            .cast("long")
            .alias(f"_c{i}")
        )
    counters = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col(f"_c{i - 1}").alias("n_in"),
                (F.col(f"_c{i - 1}") - F.col(f"_c{i}")).alias("n_dropped"),
                F.col(f"_c{i}").alias("n_out"),
            )
            for i, name in enumerate(names, start=1)
        ]
    )
    return counters.select(F.explode(rows).alias("s")).select("s.*")


def source_mix_stats(df: DataFrame) -> DataFrame:
    """Per-source curation rollup — the table a mixing decision reads.

    For each source: document and token counts, exact-integer mean
    quality (``corpus_stats``' x10k trick — float ``avg()`` would depend
    on partial-agg summation order and break oracle parity), distinct
    normalized fingerprints, the exact-duplicate rate, and the source's
    share of corpus tokens. The two rates are INTEGER-divided x10k
    values, exact in any engine. Scale shape: one scan into a per-source
    partial aggregate (the key space is the source list, orders of
    magnitude smaller than the corpus), plus a broadcast one-row total
    for the share — no window, no second scan.

    Returns (source, n_docs, n_tokens, mean_quality_x10k, n_unique,
    dup_rate_x10k, token_share_x10k).
    """
    text = F.col("text")
    per_doc = df.select(
        "source",
        F.size(tokens_col(text)).cast("long").alias("_n_tokens"),
        guarded_quality_x10k_col(text).cast("long").alias("_q10k"),
        fingerprint_col(text).alias("_fp"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_n_tokens").cast("long").alias("n_tokens"),
        F.floor(F.sum("_q10k") / F.count("*")).cast("long").alias(
            "mean_quality_x10k"
        ),
        F.count_distinct("_fp").cast("long").alias("n_unique"),
    )
    total = agg.agg(F.sum("n_tokens").alias("_total_tokens"))
    return agg.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        "mean_quality_x10k",
        "n_unique",
        F.expr("((n_docs - n_unique) * 10000) div n_docs").alias(
            "dup_rate_x10k"
        ),
        # zero-total guard: an all-empty corpus must yield share 0, not
        # NULL (Spark div) / an error (DuckDB //) — and n_docs >= 1 by
        # construction, so the dup rate needs no twin guard
        F.expr(
            "CASE WHEN _total_tokens > 0 THEN (n_tokens * 10000) div _total_tokens "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("token_share_x10k"),
    )
