"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale shape (the part that matters at 10^12 docs):

- exact: one hash-aggregate on ``md5(text)`` — map-side partial agg, one
  shuffle over distinct hashes, no data explosion.
- minhash: one shingle explode + ``groupBy(doc_id)`` yields each doc's
  signature and distinct gram-hash array (``_sketch``), candidates come
  from a band-bucket self-join (shuffle keyed on narrow bucket strings,
  never on raw text), then exact Jaccard verifies only the candidates.
- simhash: per-row signature from built-in expressions; near-dup search is
  a bucket join on signature prefixes.
- n-gram Jaccard: O(n²) only within a blocking key — usable as the
  verifier behind minhash candidates, or standalone on small blocks.

Portability constraint: all hashing is md5-hex (identical in Spark and
DuckDB) so every operator has an exact SQL oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ebook_conversion_to_text_for_machine_learning_spark.operators.index_maintenance import (
    FULL_BUILD_BATCH_ID,
    MINHASH_BANDS,
    MINHASH_COUNTS,
    MINHASH_GRAMS,
    MINHASH_TABLES,
    check_append_batch_id,
    has_landed,
    prune_to_probe_keys,
    write_batch,
)
from ebook_conversion_to_text_for_machine_learning_spark.operators.text_stats import (
    ngrams_col,
    tokens_col,
)

#: MinHash configuration: k independent hash slots; bands of ``BAND_SIZE``
#: rows → ``K // BAND_SIZE`` LSH bands. Candidate probability follows the
#: standard S-curve P(candidate | J) = 1 − (1 − J^r)^b with r=BAND_SIZE,
#: b=K//BAND_SIZE: the (16, 2) default gives P(0.5)≈0.90, P(0.7)≈0.996,
#: P(0.9)≈1.0 in SHINGLE space — measured on a 22k-doc corpus with 2,000
#: planted mutations, moving K from 8 to 16 lifted recall 65%→83% with
#: zero spurious candidates (random docs never share a band). The
#: verifier prunes false positives cheaply, so lean toward recall; for
#: even lower-J recall run (K=128, BAND_SIZE=4). Only ``_sketch`` and
#: ``minhash_signatures`` (``k``) and ``minhash_bands`` (both) take the
#: knobs as parameters; ``_candidate_pairs``, the verifiers,
#: ``_write_index`` and ``_probe_index`` run at these module constants,
#: and the oracle builders derive from the same constants.
MINHASH_K = 16
BAND_SIZE = 2

#: SimHash signature width in bits (two bits per md5 hex nibble, portable).
#: 64 bits (not 16) so the pigeonhole blocks stay selective at corpus scale:
#: with max_hamming=2 the three blocks are 21/21/22 bits wide (~2M-4M
#: distinct values each), so block-join fan-out shrinks as ~N²/2^21 instead
#: of the old ~N²/2^5 — the difference between a candidate join and a
#: de-facto cross product at 10^12 documents.
SIMHASH_BITS = 64

_HEX = "0123456789abcdef"


def hex_digit(hx: Column, pos: int) -> Column:
    """0..15 value of char ``pos`` (1-based) of md5-hex column ``hx`` —
    strpos arithmetic, identical in Spark and DuckDB."""
    return F.instr(F.lit(_HEX), F.substring(hx, pos, 1)) - 1


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup: one keeper (min doc_id) per distinct text hash."""
    return (
        df.select(F.md5(F.col("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


def shingles_col(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct): ``text_stats.ngrams_col`` without
    repeats, so documents with fewer than ``n`` tokens yield an empty
    shingle set."""
    return F.array_distinct(ngrams_col(text, n))


def _sketch(df: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """Per-document near-dup sketch: (doc_id, sig_0..sig_{k-1}, grams).

    The ONE definition of a document's MinHash signature and of its
    distinct gram hashes, from ONE shingle explode and ONE
    ``groupBy(doc_id)``. Every MinHash consumer derives from it:
    ``minhash_signatures`` is its projection (Catalyst prunes the unused
    ``collect_list`` and gram md5), the verifiers intersect its ``grams``
    arrays, and the index writer persists its bands, exploded ``grams``
    and array sizes. So the persisted index and the batch side of
    ``dedup_against_index`` can never desynchronize on shingle width or
    hash salt (every candidate would silently fail verification if they
    did), and ``ingest_batch_against_index``, which checkpoints one
    sketch, tokenizes and signs its batch exactly once.

    Slot ``i`` is the lexicographic min over shingles of an 8-hex-char
    (32-bit) slice of a salted md5 — ``md5(g || ':' || i//4)`` sliced at
    ``(i%4)*8``. Slicing one digest into four independent 32-bit hash
    values needs ⌈k/4⌉ md5 calls per shingle instead of k (md5 dominated
    this operator's profile: 2 digests beat 8 by ~2× end-to-end), and
    fixed-width hex slices keep lexicographic-min ≡ numeric-min,
    bit-identical in any engine with standard md5. ``grams`` holds
    ``md5(g)`` of every distinct 3-shingle (``shingles_col`` is distinct
    per doc, so the array is too, and an intersection's size is the
    match count).

    Explode shingles once, then k parallel min-aggregates: building the
    shingle array inside k separate array_min expressions would rebuild
    it k times per row (Catalyst inlines collapsed projections). The
    min()s combine map-side; the ``collect_list`` ships each gram hash
    once. Documents with no shingles (fewer than 3 tokens) survive the
    ``explode_outer`` as one null-gram row, so they keep null signatures
    and a null ``grams`` without a second read of ``df``.

    Large-doc assumption: the verifiers carry a doc's whole ``grams``
    array on every candidate row it appears in, and one task builds it.
    A doc's distinct-shingle set is assumed to fit comfortably in one row
    (33 bytes per gram: a 10^5-shingle book is ~3 MB). A corpus of
    multi-MB shingle sets with many candidate partners inflates per-row
    memory and shuffle payload; no per-doc gram-count bound is enforced.
    """
    exploded = df.select("doc_id", F.explode_outer(shingles_col(F.col("text"))).alias("g"))
    n_digests = (k + 3) // 4
    digests = exploded.select(
        "doc_id",
        F.md5("g").alias("gram_hash"),
        *[
            F.md5(F.concat(F.col("g"), F.lit(f":{d}"))).alias(f"h{d}")
            for d in range(n_digests)
        ],
    )
    aggs = [
        F.min(F.substring(F.col(f"h{i // 4}"), (i % 4) * 8 + 1, 8)).alias(f"sig_{i}")
        for i in range(k)
    ]
    grams = F.collect_list("gram_hash")
    return digests.groupBy("doc_id").agg(
        *aggs, F.when(F.size(grams) > 0, grams).alias("grams")
    )


def minhash_signatures(df: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """Per-document MinHash signature from k independent hash slots:
    ``_sketch`` without its gram array (null signatures for gram-less
    docs)."""
    return _sketch(df, k).drop("grams")


def minhash_bands(signatures: DataFrame, k: int = MINHASH_K, band_size: int = BAND_SIZE) -> DataFrame:
    """Explode signatures into (band_id, bucket) rows for the LSH join.

    Buckets concatenate with null-PROPAGATING ``concat`` (the SQL ``||``
    the oracle uses), and null buckets are dropped: gram-less docs carry
    null signatures, and ``concat_ws`` used to collapse those to a shared
    ``""`` bucket — every pair of gram-less docs then collided in every
    band, a quadratic candidate blowup that the verify join discarded at
    full cost (and a divergence from the SQL twin, whose NULL buckets
    never join).
    """
    bands = []
    for b in range(k // band_size):
        cols: list = []
        for j in range(band_size):
            if j:
                cols.append(F.lit("|"))
            cols.append(F.col(f"sig_{b * band_size + j}"))
        bands.append(
            F.struct(F.lit(b).alias("band_id"), F.concat(*cols).alias("bucket"))
        )
    return (
        signatures.select("doc_id", F.explode(F.array(*bands)).alias("band"))
        .select("doc_id", "band.band_id", "band.bucket")
        .where(F.col("bucket").isNotNull())
    )


def _candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs colliding in at least one LSH band."""
    bands = minhash_bands(signatures)
    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_candidate_pairs(df: DataFrame) -> DataFrame:
    """Distinct candidate pairs that collide in at least one LSH band."""
    return _candidate_pairs(minhash_signatures(df))


def _verified_pairs(sketch: DataFrame) -> DataFrame:
    """``minhash_verified_pairs`` over a ``_sketch`` frame."""

    def side(s: str) -> DataFrame:
        return sketch.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("grams").alias(f"_g{s}"),
            F.size("grams").alias(f"_n{s}"),
        )

    n_common = F.size(F.array_intersect(F.col("_ga"), F.col("_gb"))).cast("long")
    n_union = (F.col("_na") + F.col("_nb")).cast("long") - n_common
    return (
        _candidate_pairs(sketch)
        .join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            n_union.alias("n_union"),
        )
        .where(F.lit(2) * F.col("n_common") >= F.col("n_union"))
    )


def minhash_verified_pairs(df: DataFrame) -> DataFrame:
    """LSH candidates + exact-Jaccard verification within ONE frame.

    The self-join twin of ``dedup_against_index``'s batch-vs-index
    verify: identical gram definition (both intersect ``_sketch``'s
    distinct gram-hash arrays, the rows the index's ``grams/`` table
    persists) and identical acceptance rule (``2 * n_common >= n_union``,
    J ≥ 0.5). Band-bucket join generates candidates; only candidates pay
    the verify — the standard sub-quadratic shape, O(frame) for a
    micro-batch.

    Verify shape: each candidate pair row carries both docs' distinct
    gram ARRAYS and intersects them in place (``array_intersect`` —
    a per-row hash set that fits L1/L2), instead of exploding pairs ×
    grams into a |cands|·|grams/doc|-row join probed against a
    frame-scale (doc, gram) hash relation at DRAM latency. Same rows
    exchanged once instead of twice, no giant re-aggregation, and the
    dense-batch case (many co-batch near-dups, e.g. the streaming
    intra-trigger pass) stops being memory-wall-bound: measured on a
    100k-doc batch with ~19 co-batch near-dups per doc (950k verified
    pairs), the explode-join verify ran 100s at local[8] scaling
    0.55 from local[2]; this shape is the same formulation the
    ``minhash_verified_dedup`` registry query has always run.
    Gram-less docs (< 3 tokens) carry null signatures and never become
    candidates (``minhash_bands`` drops null buckets), so inner-joining
    the gram arrays loses no pair.

    Returns (doc_a, doc_b, n_common, n_union) with ``doc_a < doc_b``.
    """
    return _verified_pairs(_sketch(df))


def size_bucket_keys(n_grams: Column, threshold: float) -> Column:
    """(skey, guest) structs implementing EXACT size-bucketed blocking.

    A pair with Jaccard ≥ t satisfies ``max ≤ min/t`` (|∩| ≤ min,
    |∪| ≥ max), so with power-of-two size buckets ``bkt = bit_length(n)``
    the two docs' buckets differ by at most ``G = ceil(log2(1/t))``
    (G = 1 at the standard t = 0.5). Each doc therefore emits its home
    bucket (guest = 0) plus its G lower buckets (guest = distance), and
    the pair join matches on the composite key rejecting guest×guest
    rows: a same-bucket pair meets exactly once (home×home at its
    bucket; every shared lower key is guest×guest), and a
    distance-d pair exactly once (home×guest_d at the smaller bucket —
    the larger doc's home key is never shared). Output is thus provably
    identical to whole-block joining, while the join key gains the size
    bucket — the difference between "every doc in a language is one
    block" and blocks bounded by the corpus's size histogram.

    ``bit_length`` via ``length(conv(n, 10, 2))`` — pure integer/string
    ops, no float log2 boundary risk, identical in DuckDB
    (``length(bin(n))``) should an oracle ever need the key.
    """
    import math

    if not 0.0 < threshold <= 1.0:
        raise ValueError("size bucketing needs 0 < threshold <= 1")
    g = max(1, math.ceil(math.log2(1.0 / threshold))) if threshold < 1.0 else 1
    bkt = F.length(F.conv(n_grams.cast("string"), 10, 2))
    return F.array(
        F.struct(bkt.alias("skey"), F.lit(0).alias("guest")),
        *[
            F.struct((bkt - d).alias("skey"), F.lit(d).alias("guest"))
            for d in range(1, g + 1)
        ],
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    block_col: str,
    n: int = 1,
    threshold: float = 0.5,
    size_bucketed: bool = True,
) -> DataFrame:
    """Token n-gram Jaccard similarity for pairs within a blocking key.

    CONTRACT: this is O(n²) *within each (block, size-bucket)* — with
    ``size_bucketed=True`` (default) the caller's ``block_col`` is
    composed with ``size_bucket_keys``'s power-of-two gram-count
    buckets, which provably preserves the output (see that docstring)
    while bounding each join group by the size histogram instead of the
    whole block — a coarse ``block_col`` like language stays usable at
    corpus scale as long as no single (lang, size-decade) slice is
    quadratically large. ``size_bucketed=False`` keeps the raw
    block-only join (tiny-block verifier use). For corpus-wide near-dup
    detection ``minhash_candidate_pairs`` + exact-Jaccard verify
    (``minhash_verified_dedup``) remains the sub-quadratic path.

    Empty-document semantics (behavior change vs pre-ANSI builds): two
    docs whose gram sets are BOTH empty are defined as identical —
    J(∅, ∅) := 1.0 — and the pair IS emitted. The old non-ANSI 0/0
    division yielded NULL and silently dropped such pairs; callers
    feeding empty/whitespace-only docs who relied on that drop should
    filter ``n_grams > 0`` upstream.
    """
    sh = F.array_distinct(shingles_col(F.col("text"), n)) if n > 1 else F.array_distinct(
        tokens_col(F.col("text"))
    )
    base = df.select(
        "doc_id",
        F.col(block_col).alias("block"),
        sh.alias("grams"),
        F.size(sh).alias("n_grams"),
    )
    if size_bucketed:
        base = base.select(
            "*", F.explode(size_bucket_keys(F.col("n_grams"), threshold)).alias("sk")
        ).select(
            "doc_id", "block", "grams", "n_grams", "sk.skey", "sk.guest"
        )
    left = base.alias("l")
    right = base.alias("r")
    # |A∪B| = |A| + |B| - |A∩B| with per-doc sizes precomputed — one array
    # pass per pair instead of two (array_union materializes a new array).
    inter = F.size(F.array_intersect(F.col("l.grams"), F.col("r.grams"))).cast("double")
    union = (F.col("l.n_grams") + F.col("r.n_grams")).cast("double") - inter
    # Two empty gram sets are identical: J := 1 (the raw ratio is 0/0,
    # which ANSI mode rightly refuses to divide).
    j_exact = F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    jaccard = F.round(j_exact, 4)
    # Size-ratio prefilter: J ≥ t and |∩| ≤ min imply
    # min ≥ t/(1+t) · (|A|+|B|), so wildly mismatched sizes can never pass
    # the threshold. Integer-only predicate in the join condition → pruned
    # before the O(|A|+|B|) array_intersect runs. Semantically a no-op
    # because the output filter below compares the UNROUNDED ratio (a pair
    # whose true J is just under t must not survive via round-half-up).
    size_ok = (
        F.least(F.col("l.n_grams"), F.col("r.n_grams")).cast("double") * (1.0 + threshold)
        >= (F.col("l.n_grams") + F.col("r.n_grams")).cast("double") * threshold
    )
    cond = (
        (F.col("l.block") == F.col("r.block"))
        & (F.col("l.doc_id") < F.col("r.doc_id"))
        & size_ok
    )
    if size_bucketed:
        cond = (
            (F.col("l.skey") == F.col("r.skey"))
            & ~((F.col("l.guest") >= 1) & (F.col("r.guest") >= 1))
            & cond
        )
    # Threshold acceptance goes LAST inside the join condition: a
    # .where() above the join gets pushdown-prepended to the conjunction,
    # making the O(n) array_intersect run before the cheap integer
    # guards (1.4× slower measured on the driver query's twin of this
    # plan). The unrounded ratio decides; `jaccard` is display-rounded.
    return left.join(right, cond & (j_exact >= threshold)).select(
        F.col("l.doc_id").alias("doc_a"),
        F.col("r.doc_id").alias("doc_b"),
        jaccard.alias("jaccard"),
    )


def repeated_passages(df: DataFrame, *, width: int = 8, min_docs: int = 2) -> DataFrame:
    """Cross-document repeated-passage detection: token windows of
    ``width`` consecutive tokens, hashed at stride 1, grouped corpus-wide.

    This is the Spark-native stand-in for exact substring dedup (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models Better"):
    a suffix array is a single-machine structure, but TOKEN-ALIGNED
    sliding windows give the same guarantee distributively — any passage
    of ``width`` or more shared tokens produces at least one identical
    window in every document containing it, regardless of character
    offsets, because token boundaries are content-defined alignment
    points. Unlike ``line_dedup`` (exact whole-line granularity) and
    MinHash (document-level similarity), this finds the *passages*
    themselves — the boilerplate headers, license blocks and quoted
    chunks that repeat across otherwise-distinct documents.

    Scale shape: one explode to narrow ``(doc_id, md5(window))`` rows —
    fan-out is ~n_tokens per document, same order as the shingle explode
    ``minhash_signatures`` already pays — then ONE hash aggregate.
    ``count(distinct doc_id)`` is Spark's two-phase distinct-aggregate
    (partial sets map-side), and the singleton-window majority never
    survives the HAVING, so the output is bounded by the true repeated
    mass. Nothing touches Python; no window functions.

    Returns one row per passage seen in at least ``min_docs`` distinct
    documents: (passage_hash, n_docs, n_occurrences, first_doc).
    Occurrences within one document all count toward ``n_occurrences``.
    """
    # The window array is built INSIDE the explode argument — never
    # projected next to an aggregate of itself (the size()-beside-explode
    # Catalyst re-inlining trap documented in ``decontaminate``).
    exploded = df.select(
        "doc_id", F.explode(ngrams_col(F.col("text"), width)).alias("_w")
    ).select("doc_id", F.md5("_w").alias("passage_hash"))
    return (
        exploded.groupBy("passage_hash")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def _write_index(sketch: DataFrame, path: str, batch_id: int) -> None:
    """The ONE index writer: a checkpointed ``_sketch`` frame's bands,
    exploded ``grams`` and array sizes (gram-less docs: no rows) become
    index batch ``batch_id`` of the three tables, each through
    ``index_maintenance.write_batch``."""
    bands = minhash_bands(sketch)
    grams = sketch.select("doc_id", F.explode("grams").alias("gram_hash"))
    counts = sketch.where(F.col("grams").isNotNull()).select(
        "doc_id", F.size("grams").cast("long").alias("n_grams")
    )
    for spec, frame in (
        (MINHASH_BANDS, bands), (MINHASH_GRAMS, grams), (MINHASH_COUNTS, counts)
    ):
        write_batch(frame, path, spec, batch_id)


def write_minhash_index(df: DataFrame, path: str) -> None:
    """Persist a corpus's near-dup index for INCREMENTAL dedup.

    Three narrow parquet tables under ``path``: ``bands/`` — the LSH
    band table ``(doc_id, band_id, bucket)`` that generates candidates —
    ``grams/`` — ``(doc_id, gram_hash)`` rows, the md5 of each distinct
    3-shingle, that verify them with exact Jaccard — and ``counts/`` —
    per-doc gram totals ``(doc_id, n_grams)``, so query time never
    aggregates the corpus-scale gram table (the batch's few candidates
    join the tiny counts table instead). All three come from one
    ``_sketch`` pass (``_write_index``). Storing hashes instead of gram
    arrays keeps the index a fraction of corpus size, and the verify
    never re-reads the indexed corpus's text.

    Layout: ``index_maintenance.MINHASH_TABLES`` — the full build is
    batch 0 and ``append_to_minhash_index`` grows the index one
    idempotent batch partition at a time; ``MINHASH_BANDS`` and
    ``MINHASH_GRAMS`` sub-partition on a prefix of the join key (bucket
    / gram_hash), so ``dedup_against_index`` probes prune index files by
    partition instead of scanning the corpus-scale tables.
    Overwrite-idempotent: a full rebuild is a plain re-run.
    """
    _write_index(_sketch(df).localCheckpoint(), path, FULL_BUILD_BATCH_ID)


def append_to_minhash_index(df: DataFrame, path: str, *, batch_id: int) -> None:
    """Grow a ``write_minhash_index`` index by one batch — O(batch).

    Writes the batch's bands/grams/counts rows into ``batch_id=<id>``
    partitions with DYNAMIC partition overwrite, so only this batch's
    partitions are touched: the corpus-scale ``batch_id=0`` build (and
    every other batch) is never re-read or re-signatured, and replaying
    a crashed append (at-least-once ingest) rewrites the same partitions
    instead of appending duplicates — the same idempotency contract as
    every ``batch_id``-partitioned table (``operators/index_maintenance.py``).
    A missing index path is created.

    Contract: ``batch_id`` must be unique per logical batch (> 0; 0 is
    the full build) and ``df`` must hold only doc_ids NOT already in the
    index — i.e. the docs ``dedup_against_index`` marked novel. A doc
    indexed under two batch_ids would double its gram rows and inflate
    ``n_common``; ``ingest_batch_against_index`` sequences the two steps
    correctly.
    """
    check_append_batch_id(batch_id)
    _write_index(_sketch(df).localCheckpoint(), path, batch_id)


def dedup_against_index(
    spark,
    batch: DataFrame,
    path: str,
    *,
    exclude_batch_id: int | None = None,
) -> DataFrame:
    """Near-dup flag a NEW batch against a ``write_minhash_index`` corpus.

    The incremental-curation shape: the landed corpus is touched only
    through its index tables, so dedup cost scales with the batch, not
    the corpus. The batch is sketched (``_sketch``, materialized once by
    localCheckpoint) with the same hash family the index was written
    with; a band-bucket join — the same narrow-key shuffle as
    ``minhash_candidate_pairs``, with the index side replacing the
    self-join — yields (batch doc, indexed doc) candidates, and exact
    Jaccard verifies them by intersecting, on the candidate row, the
    batch doc's sketch array with the indexed doc's gram hashes
    collected into one array (``array_intersect``; grams are distinct
    per doc, so intersection size == match count, without a pair×gram
    explosion probed against a hash relation at DRAM latency — see
    ``minhash_verified_pairs``). The index-side arrays are built from
    the prefix-PRUNED gram scan, which loses no intersection element: a
    pruned-away gram's prefix appears in no batch gram, so it could
    never match. ``n_union`` derives from the batch array size and the
    ``counts/`` table's FULL per-doc totals (never the pruned scan).
    Same acceptance rule as ``minhash_verified_dedup``:
    ``2 * n_common >= n_union`` (J >= 0.5).

    Index-side scans PARTITION-PRUNE on the batch's realized prefix
    sets (``index_maintenance.prune_to_probe_keys`` over the
    ``MINHASH_BANDS``/``MINHASH_GRAMS`` specs): both sets come from ONE
    collect over the checkpointed sketch — a small probe batch reads a
    handful of index files instead of the corpus-scale tables.
    ``exclude_batch_id`` additionally prunes that batch's own
    partitions, so an at-least-once replay of ingest batch N never sees
    the half-appended rows of its failed attempt (which would flag every
    replayed doc as a dup of itself and lose it).

    Returns (doc_id, dup_of, n_common, n_union) — one row per verified
    (batch, indexed) pair; batch docs with no row are novel.
    """
    return _probe_index(spark, _sketch(batch).localCheckpoint(), path, exclude_batch_id)


def _probe_index(
    spark, sketch: DataFrame, path: str, exclude_batch_id: int | None
) -> DataFrame:
    """``dedup_against_index`` for a materialized ``_sketch`` frame."""
    base = path.rstrip("/")
    idx_bands = spark.read.parquet(f"{base}/bands")
    idx_grams = spark.read.parquet(f"{base}/grams")
    # Index-side totals come from the precomputed counts/ table — never a
    # corpus-scale aggregate of grams/ at query time (that would break
    # the cost-scales-with-the-batch contract).
    n_idx = spark.read.parquet(f"{base}/counts")
    if exclude_batch_id is not None:
        idx_bands = idx_bands.where(F.col("batch_id") != exclude_batch_id)
        idx_grams = idx_grams.where(F.col("batch_id") != exclude_batch_id)
        n_idx = n_idx.where(F.col("batch_id") != exclude_batch_id)
    n_idx = n_idx.select("doc_id", F.col("n_grams").alias("_ni"))

    b_bands = minhash_bands(sketch)
    b_grams = sketch.select(F.explode("grams").alias("gram_hash"))
    idx_bands, idx_grams = prune_to_probe_keys(
        (idx_bands, MINHASH_BANDS, b_bands), (idx_grams, MINHASH_GRAMS, b_grams)
    )
    cands = (
        b_bands.alias("b")
        .join(
            idx_bands.alias("i"),
            (F.col("b.band_id") == F.col("i.band_id"))
            & (F.col("b.bucket") == F.col("i.bucket")),
        )
        .select(
            F.col("b.doc_id").alias("doc_id"),
            F.col("i.doc_id").alias("dup_of"),
        )
        .distinct()
    )
    # Prefilter the corpus-scale gram table with a BROADCAST semi-join on
    # the (batch-scale) candidate set: grams/ is scanned but never
    # shuffled — only the candidates' gram rows enter the array-collect
    # exchange below. Without this the per-doc collect would shuffle the
    # whole index.
    cand_grams = (
        idx_grams.withColumnRenamed("doc_id", "dup_of")
        .join(F.broadcast(cands.select("dup_of").distinct()), "dup_of", "left_semi")
    )
    # Verify by in-place array intersection (the minhash_verified_pairs
    # shape): a candidate index doc's distinct gram hashes are collected
    # ONCE and carried on the candidate row, so its grams ship once
    # instead of once per pair and the intersection is a per-row set
    # that fits L1/L2 — not a pair×gram explosion probed against a
    # candidate-corpus-scale hash relation at DRAM latency (measured on
    # the intra twin: 2× faster at local[8], 2→8 phase scaling 0.551 →
    # 0.867). The batch side's arrays are the sketch's own.
    i_arr = cand_grams.groupBy("dup_of").agg(
        F.collect_list("gram_hash").alias("_ia")
    )
    return (
        cands.join(sketch.select("doc_id", F.col("grams").alias("_ba")), "doc_id")
        .join(i_arr, "dup_of")
        .join(n_idx.withColumnRenamed("doc_id", "dup_of"), "dup_of")
        .select(
            "doc_id",
            "dup_of",
            F.size(F.array_intersect(F.col("_ba"), F.col("_ia")))
            .cast("long")
            .alias("n_common"),
            F.size("_ba").cast("long").alias("_nb"),
            F.col("_ni"),
        )
        .select(
            "doc_id",
            "dup_of",
            "n_common",
            (F.col("_nb") + F.col("_ni") - F.col("n_common")).alias("n_union"),
        )
        .where(F.lit(2) * F.col("n_common") >= F.col("n_union"))
    )


def _best_match(pairs: DataFrame, key: str, match: str) -> DataFrame:
    """(doc_id, dup_of): per ``key`` doc, its best ``match`` — max
    n_common, min id tie-break."""
    return (
        pairs.groupBy(key)
        .agg(F.min(F.struct(-F.col("n_common"), F.col(match))).alias("_b"))
        .select(F.col(key).alias("doc_id"), F.col(f"_b.{match}").alias("dup_of"))
    )


def ingest_batch_against_index(
    spark,
    batch: DataFrame,
    path: str,
    *,
    batch_id: int,
) -> DataFrame:
    """One incremental-ingest step: dedup a batch, then GROW the index.

    The loop ``dedup_against_index`` exists for, closed: flag the
    batch's near-dups against the persisted index, mark the rest novel,
    and append only the novel docs' rows to the index under this
    ``batch_id`` — so tomorrow's batch dedups against today's novelties
    without ever re-signaturing the landed corpus. Per-call cost is
    O(batch) + the pruned index probe; the corpus is never rewritten.

    The batch is sketched ONCE (``_sketch``, checkpointed) and all three
    steps derive from that frame. First the verified-pairs rule runs
    WITHIN the batch, so two near-dup docs arriving in the same batch
    never both land as "novel": the greedy smaller-id keeper survives
    (per pair, ``doc_b`` is flagged as ``dup_of`` its best ``doc_a``
    match: max n_common, min doc_a tie-break). Then the sketch probes
    the index; only keepers take an index match, and only novel keepers'
    sketch rows are appended. An index where any table has nothing
    landed yet (``index_maintenance.has_landed``, a listing: missing, or
    a table dir a killed first write left with no committed files) is an
    empty index whose tables the append creates; any read failure of a
    landed table propagates. Chain caveat: in a near-dup chain
    a → b → c where (a, c) is not itself a verified pair, c's ``dup_of``
    points at b, which was also dropped (its own dup_of is a) —
    ``dup_of`` names the matched document, not the cluster
    representative; run ``dedup_components`` over the pair set when
    canonical cluster ids are needed.

    At-least-once safe: the probe excludes ``batch_id``'s own partitions
    (a replay after a half-completed append would otherwise see its own
    docs in the index, flag them as self-dups, and drop them), and the
    append overwrites only this batch's partitions. Intra-batch
    decisions are deterministic recomputations of the same batch, so a
    replay reproduces them exactly. The dup decisions are materialized
    (localCheckpoint) BEFORE the append, because appending mutates
    tables the decision plan scans.

    Returns the batch annotated with ``dup_of`` (null ⇒ novel, and the
    doc is now indexed) — the best-match keeper (max n_common, min
    doc_id tie-break) when duplicated.
    """
    check_append_batch_id(batch_id)
    sketch = _sketch(batch).localCheckpoint()
    intra = _best_match(_verified_pairs(sketch), "doc_b", "doc_a")
    base = path.rstrip("/")
    if all(has_landed(spark, f"{base}/{t.name}") for t in MINHASH_TABLES):
        # The whole checkpointed sketch probes, not a keepers-only frame
        # derived from it: a derived frame's size estimate (a product of
        # join sizes) tips the planner into runtime bloom filters that
        # read the index tables twice — measured 546 files vs 273.
        dups = _probe_index(spark, sketch, path, batch_id)
        # An intra-batch dup keeps its intra-batch match.
        best = intra.unionByName(
            _best_match(dups, "doc_id", "dup_of").join(intra, "doc_id", "left_anti")
        )
    else:
        best = intra
    annotated = batch.join(best, "doc_id", "left").localCheckpoint()
    novel = annotated.where(F.col("dup_of").isNull()).select("doc_id")
    novel_sketch = sketch.join(F.broadcast(novel), "doc_id", "left_semi")
    _write_index(novel_sketch, path, batch_id)
    return annotated


def simhash_vote(hx: Column, j: int) -> Column:
    """±1 vote for signature bit ``j`` from md5-hex column ``hx``.

    Bit ``j`` reads nibble ``j // 2`` of the digest: even bits take the
    nibble's 8-bit, odd bits its 4-bit — 64 independent bits from 32
    nibbles, identical arithmetic in Spark and DuckDB.
    """
    nibble = hex_digit(hx, j // 2 + 1)
    mask = 8 if j % 2 == 0 else 4
    return F.when(nibble.bitwiseAND(F.lit(mask)) != 0, F.lit(1)).otherwise(F.lit(-1))


def simhash_signatures(df: DataFrame) -> DataFrame:
    """64-bit SimHash over distinct lowercase whitespace tokens.

    Bit j is the sign of the sum over distinct tokens of ±1 votes derived
    from md5 nibble bits (``simhash_vote`` documents the bit layout).
    Computed as one explode + 64-way partial-sum aggregate — the map-side
    combine reduces each task to 65 longs per document before the (narrow)
    shuffle, the same shape ``minhash_signatures`` uses.

    Hot-path formulation: the digest is unpacked ONCE per token into four
    32-bit words (``conv`` hex→long), so each per-bit aggregate is
    ``SUM((word >> shift) & 1)`` — pure integer ops, no per-bit string
    slicing (64 substring+instr per row benched ~2× slower). The ±1 vote
    sum over n tokens is ``2·s − n``, so sign(vote sum) > 0 ⇔ 2·s > n —
    identical bits to the vote definition and to the SQL oracle's
    character-based formulation. Documents with no tokens get signature 0
    (every vote sum is empty ⇒ every bit 0), restored via a left join.
    """
    toks = F.array_distinct(tokens_col(F.lower(F.col("text"))))
    words = df.select("doc_id", F.explode(toks).alias("tok")).select(
        "doc_id",
        *[
            F.conv(F.substring(F.md5("tok"), 8 * k + 1, 8), 16, 10)
            .cast("long")
            .alias(f"w{k}")
            for k in range(4)
        ],
    )

    def bit_sum(j: int) -> Column:
        p = j // 2  # hex-nibble index in the digest
        word = F.col(f"w{p // 8}")
        # Bit 3 (mask 8) of the nibble for even j, bit 2 (mask 4) for odd.
        shift = 4 * (7 - p % 8) + (3 - j % 2)
        return F.sum(F.shiftright(word, shift).bitwiseAND(F.lit(1))).alias(f"s{j}")

    sums = words.groupBy("doc_id").agg(
        F.count("*").alias("n"), *[bit_sum(j) for j in range(SIMHASH_BITS)]
    )
    value = F.when(F.lit(2) * F.col("s0") > F.col("n"), F.lit(-(1 << 63))).otherwise(
        F.lit(0)
    )
    for j in range(1, SIMHASH_BITS):
        value = value + F.when(
            F.lit(2) * F.col(f"s{j}") > F.col("n"), F.lit(1 << (SIMHASH_BITS - 1 - j))
        ).otherwise(F.lit(0))
    sigs = sums.select("doc_id", value.cast("long").alias("simhash"))
    return df.select("doc_id").join(sigs, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("simhash"), F.lit(0).cast("long")).alias("simhash")
    )


def simhash_near_pairs(df: DataFrame, max_hamming: int = 2) -> DataFrame:
    """Near-dup pairs by SimHash with a pigeonhole block join.

    The signature is split into ``max_hamming + 1`` disjoint bit blocks; two
    signatures within Hamming distance ``max_hamming`` must agree on at
    least one whole block, so the candidate join keys on (block_id, block
    value) — never a cross product — and ``bit_count(xor)`` verifies the
    exact distance on candidates only.
    """
    n_blocks = max_hamming + 1
    width = SIMHASH_BITS // n_blocks
    sigs = simhash_signatures(df)
    blocks = []
    for b in range(n_blocks):
        lo = b * width
        hi = SIMHASH_BITS if b == n_blocks - 1 else lo + width
        # Arithmetic shift + mask: well-defined on the signed 64-bit
        # signature and bit-identical in DuckDB (>> is arithmetic there too).
        value = F.shiftright(F.col("simhash"), lo).bitwiseAND(F.lit((1 << (hi - lo)) - 1))
        blocks.append(F.struct(F.lit(b).alias("block_id"), value.alias("block_val")))
    banded = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*blocks)).alias("blk")
    ).select("doc_id", "simhash", "blk.block_id", "blk.block_val")

    left = banded.alias("l")
    right = banded.alias("r")
    hamming = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    return (
        left.join(
            right,
            (F.col("l.block_id") == F.col("r.block_id"))
            & (F.col("l.block_val") == F.col("r.block_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def line_dedup(df: DataFrame, delim: str = "\n") -> DataFrame:
    """Corpus-level exact line dedup (C4-style): keep each distinct line
    only at its first occurrence, ordered by ``(doc_id, line_idx)``, and
    reassemble every document from its surviving lines.

    Scale shape: the keeper decision is a ``groupBy(md5(line))`` with
    ``min(struct(doc_id, line_idx))`` — a PARTIAL aggregate, so the empty
    line / "***" / boilerplate headers that occur billions of times at
    lake scale are combined map-side before any shuffle (the round-2
    ``row_number`` window funneled every corpus-wide occurrence of a line
    through ONE reducer — windows have no partial aggregation). The
    join-back that flags each occurrence keys on the same hash; its
    skewed partitions are splittable by AQE skew-join handling (the
    keeper side is one row per distinct line, so replicating it across
    splits is cheap), which a window partition never is. Reassembly is
    one ``groupBy(doc_id)``. Nothing touches Python. Documents whose
    every line loses come back with ``kept_text = ''`` rather than
    vanishing, so the output is a full-corpus projection suitable for a
    downstream quality filter.

    ``delim`` is treated as a LITERAL separator: the split regex is
    built with ``re.escape`` so metacharacter delimiters (``|``, ``.``)
    split and reassemble consistently.

    Mirrors the reference's whole-document append semantics only in
    spirit — the reference (a single-file converter) has no corpus-level
    operator; this is the training-data-pipeline extension the engine
    adds (C4/RefinedWeb line-level dedup).
    """
    import re

    lines = df.select(
        "doc_id",
        F.posexplode(
            F.split(F.col("text"), re.escape(delim), -1)
        ).alias("line_idx", "line"),
    ).withColumn("line_hash", F.md5(F.col("line")))
    # min(struct) compares (doc_id, line_idx) lexicographically — identical
    # keeper choice to the old ORDER BY doc_id, line_idx window, but
    # map-side combinable and therefore immune to blank-line skew.
    keepers = lines.groupBy("line_hash").agg(
        F.min(F.struct("doc_id", "line_idx")).alias("_keeper")
    )
    flagged = lines.join(keepers, "line_hash").withColumn(
        "keep",
        (F.col("doc_id") == F.col("_keeper.doc_id"))
        & (F.col("line_idx") == F.col("_keeper.line_idx")),
    )
    kept_struct = F.when(F.col("keep"), F.struct("line_idx", "line"))
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                # collect_list drops the nulls from the unmatched WHEN, and
                # array_sort on (line_idx, line) structs restores document
                # order regardless of shuffle arrival order.
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s.getField("line"),
            ),
            delim,
        ).alias("kept_text"),
    )


def source_pair_matrix(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Cross-source near-duplicate matrix: count verified pairs per
    UNORDERED source pair — the mixing diagnostic that shows which
    sources duplicate each other (crawl snapshot vs curated dump overlap
    decides who gets downweighted; within-source counts sit on the
    diagonal). Works over any (doc_a, doc_b) pair producer —
    ``minhash_verified_dedup``'s output, simhash pairs, embedding
    near-dups.

    Scale shape: two joins keyed on doc ids against a narrow
    (doc_id, source) projection, then one partial-agg groupBy whose key
    space is |sources|² — tiny. The pair table is the big side and it
    arrives already deduplicated; nothing here touches text.
    """
    src = docs.select("doc_id", F.col("source").alias("_s"))
    return (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("_s").alias("_sa")), "doc_a"
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("_s").alias("_sb")), "doc_b"
        )
        .groupBy(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


def gram_novelty(df: DataFrame, *, n: int = 3) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct word
    ``n``-gram shingles whose FIRST corpus occurrence (by ascending
    doc_id) is this document — the diversity/data-valuation signal a
    curation pass ranks on (a document whose every shingle already
    appeared earlier adds nothing even if it is not an exact or near
    duplicate of any single document).

    Scale shape (same skew-immune pattern as ``line_dedup``): shingles
    explode ONCE to narrow ``(doc_id, md5(gram))`` rows; the first-owner
    decision is ``groupBy(gram_hash).agg(min(doc_id))`` — a partial
    aggregate, map-side combinable, so a boilerplate shingle occurring
    billions of times collapses inside each task — and the join-back
    keys on the same hash, AQE-splittable. One final per-doc aggregate
    recovers both counts (row count == distinct-gram count, so the
    corpus is tokenized exactly once; the size-next-to-explode trap is
    documented in ``decontaminate``).

    Returns (doc_id, n_grams, n_novel, novelty_x10k) for every document;
    gram-less docs (< ``n`` tokens) report 0/0/0.
    """
    exploded = df.select(
        "doc_id", F.explode_outer(shingles_col(F.col("text"), n)).alias("_g")
    ).select("doc_id", F.md5("_g").alias("gram_hash"))
    first_owner = (
        exploded.where(F.col("gram_hash").isNotNull())
        .groupBy("gram_hash")
        .agg(F.min("doc_id").alias("_first_doc"))
    )
    flagged = exploded.join(first_owner, "gram_hash", "left")
    return flagged.groupBy("doc_id").agg(
        F.count("gram_hash").cast("long").alias("n_grams"),
        F.sum(
            F.when(F.col("doc_id") == F.col("_first_doc"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_novel"),
    ).select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.expr(
            "CASE WHEN n_grams > 0 THEN (n_novel * 10000) div n_grams "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("novelty_x10k"),
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    *,
    n: int = 3,
    threshold_pct: int = 10,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents whose word
    ``n``-gram shingles overlap an evaluation set.

    ``broadcast_eval=True`` (default): the eval side is aggregated to a
    single distinct-gram array and broadcast, so the corpus side is a
    pure map — no shuffle, no explode, no Python; ``array_intersect``
    runs in codegen per row. This is the right shape when the eval set
    is benchmark-sized (≤ millions of grams).

    ``broadcast_eval=False``: the held-out-corpus shape for eval sets
    too large to broadcast. Corpus shingles are computed ONCE — each doc
    explodes to narrow ``(doc_id, md5(gram))`` rows and the per-doc gram
    total is recovered by counting those rows in the final aggregate, so
    tokenization (the dominant cost at the scale this path exists for)
    runs exactly once and no separate totals subtree re-scans the corpus
    — then a LEFT join against the DISTINCT eval gram hashes marks hits
    (distinct on the eval side is what keeps eval-duplicate grams from
    multiplying rows) and one partial-agg groupBy yields both the total
    and the hit count. The join shuffles hash keys, never text. Same
    output columns and same
    oracle as the broadcast path — shingles are distinct per doc, so the
    hit count equals the intersection size.

    A document is ``contaminated`` when at least ``threshold_pct`` percent
    of its distinct shingles appear in the eval set (integer arithmetic —
    exact in any engine); gram-less documents (< ``n`` tokens) are never
    flagged.
    """
    grams = shingles_col(F.col("text"), n)
    if broadcast_eval:
        eval_set = (
            eval_df.select(F.explode(shingles_col(F.col("text"), n)).alias("g"))
            .agg(F.array_sort(F.collect_set("g")).alias("_eval_grams"))
        )
        counted = corpus.crossJoin(F.broadcast(eval_set)).select(
            "doc_id",
            F.size(grams).cast("long").alias("n_grams"),
            F.size(F.array_intersect(grams, F.col("_eval_grams")))
            .cast("long")
            .alias("n_contaminated"),
        )
    else:
        # n_grams is recovered by COUNTING the exploded rows, never by
        # F.size(grams) next to the explode: a size() projected alongside
        # a Generate lands in the post-Generate Project, where Catalyst
        # re-inlines the whole shingle expression and recomputes it per
        # exploded row — O(grams²) per doc (measured 231s vs 7s at
        # sf0.1). Shingles are distinct per doc, so row count == size;
        # explode_outer keeps gram-less docs as one null-gram row whose
        # md5 is null — count() skips it (n_grams = 0) and a null join
        # key matches nothing (n_contaminated = 0).
        exploded = corpus.select(
            "doc_id", F.explode_outer(grams).alias("_g")
        ).select("doc_id", F.md5("_g").alias("gram_hash"))
        eval_grams = (
            eval_df.select(
                F.explode(shingles_col(F.col("text"), n)).alias("_g")
            )
            .select(F.md5("_g").alias("gram_hash"))
            .distinct()
            .withColumn("_hit", F.lit(1).cast("long"))
        )
        counted = (
            exploded.join(eval_grams, "gram_hash", "left")
            .groupBy("doc_id")
            .agg(
                F.count("gram_hash").cast("long").alias("n_grams"),
                F.coalesce(F.sum("_hit"), F.lit(0).cast("long")).alias(
                    "n_contaminated"
                ),
            )
        )
    return counted.withColumn(
        "contaminated",
        (F.col("n_grams") > 0)
        & (F.col("n_contaminated") * 100 >= F.lit(threshold_pct) * F.col("n_grams")),
    )


def dedup_components(ids: DataFrame, pairs: DataFrame, *, max_iterations: int = 25) -> DataFrame:
    """Connected components over a near-duplicate pair graph: every
    document gets the minimum id reachable through the pairs as its
    ``component``, and ``is_keeper`` marks the one representative per
    duplicate cluster.

    This is the step that turns pairwise dedup output into an actionable
    keep/drop decision: similarity is not transitive, so radius-based
    pairs (simhash, verified minhash) form chains and only a transitive
    closure yields consistent clusters.

    Min-id label propagation, the standard Spark shape for CC at scale
    (GraphX/GraphFrames use the same algorithm): per iteration, each node
    takes the min of its own label and its neighbors' labels — one join +
    one partial-min aggregate on narrow (id, label) rows, converging in
    ``diameter(largest component)`` iterations (near-dup clusters are
    dense, so typically a handful). Each iteration is ``localCheckpoint``ed
    to truncate the lineage (iterative joins otherwise stack plans until
    the optimizer chokes); swap in ``checkpoint()`` with a reliable
    checkpoint dir for multi-hour production runs. Raises after
    ``max_iterations`` without convergence rather than returning a
    half-propagated labeling.

    ``ids`` must cover every endpoint appearing in ``pairs`` — edges to
    unknown ids are silently ignored (they have no label row to join).
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    )
    edges.persist()
    labels = ids.select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("component")
    ).localCheckpoint()
    try:
        for _ in range(max_iterations):
            nbr = (
                edges.join(labels, edges.src == labels.node)
                .groupBy(F.col("dst"))
                .agg(F.min("component").alias("nbr_min"))
            )
            stepped = labels.join(nbr, labels.node == nbr.dst, "left").select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
                (
                    F.coalesce(F.col("nbr_min"), F.col("component"))
                    < F.col("component")
                ).alias("_changed"),
            ).localCheckpoint()
            changed = stepped.where(F.col("_changed")).count()
            labels = stepped.drop("_changed")
            if changed == 0:
                # Stability under one-hop min propagation forces the label
                # to be constant per component (for every edge the two
                # labels bound each other), and that constant can only be
                # the component's min id — the exit is exact. (Pointer-
                # jumping compression was measured and removed: real
                # near-dup clusters are dense — 6 rounds on the 1.6M-pair
                # sf0.1 graph — so the extra join per round costs more
                # than the saved rounds; it only pays on long chains.)
                return labels.select(
                    F.col("node").alias("doc_id"),
                    "component",
                    (F.col("component") == F.col("node")).alias("is_keeper"),
                )
    finally:
        edges.unpersist()
    raise ValueError(
        f"dedup_components: not converged after {max_iterations} iterations; "
        "raise max_iterations (components deeper than expected)"
    )
