"""Distributed extraction operator — ``mapInArrow`` over flat Arrow buffers.

The relational shell is declarative (Catalyst plans the scan, pruning, and
any repartitioning); the per-document sequential semantics run inside one
Arrow-batch function per partition (``mapInArrow`` — pyarrow RecordBatch
in, RecordBatch out, no per-span Python objects). There is **no
row-at-a-time Python UDF** anywhere: data crosses the JVM↔Python boundary
as Arrow record batches only (BASELINE.json input_hint).

Skew policy (SURVEY.md §3.4): ``mapInArrow`` is a narrow transformation —
with well-sized input splits no shuffle is needed at all. For skewed inputs
(a few files full of giant PDFs), ``salted_repartition`` spreads documents
uniformly by hashing ``doc_id`` — a full shuffle, used only when requested,
because AQE cannot rebalance a skewed Python-map stage on its own. Within a
partition, Arrow batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` so one batch of tail-sized
documents stays within executor memory.
"""

from __future__ import annotations

from itertools import accumulate
from time import thread_time_ns
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ebook_conversion_to_text_for_machine_learning_spark.core.extract import (
    extract_document,
)

#: Input contract (BASELINE.json input_hint + metadata columns, SURVEY.md §1.3).
INPUT_SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

INPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("fmt", StringType(), False),
        StructField("title", StringType(), True),
        StructField("author", StringType(), True),
        StructField("spans", ArrayType(INPUT_SPAN_STRUCT), False),
    ]
)

OUTPUT_SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("order", IntegerType()),
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("fmt", StringType(), False),
        StructField("spans", ArrayType(OUTPUT_SPAN_STRUCT), False),
        StructField("n_spans", IntegerType(), False),
        StructField("n_media", IntegerType(), False),
        StructField("status", StringType(), False),
        # Per-document fold CPU time — summed per partition into lineage so
        # skew is observable in TIME, not just document counts (a partition
        # of 25-page PDFs and one of tweets have very different costs at
        # equal doc_count). Measured with thread_time_ns, so time the worker
        # spends descheduled is not counted; ~0.4 µs per clock read.
        StructField("elapsed_us", LongType(), False),
    ]
)


def decode_spans(spans):
    """A span ``list<struct>`` column → ``(offsets, kind, text, media_ref,
    position, list_nulls, span_nulls)``: the list offsets as an int32
    ndarray rebased to 0, the four struct fields as flat Arrow arrays, and
    the null masks of the lists (one per row) and of the span structs
    (one per flat span), each None when there are no nulls.

    ``flatten()`` reads only the column's own rows, so a sliced batch
    whose offsets do not start at 0 decodes correctly; the struct's own
    ``flatten()`` merges its validity into each field, so a null span
    reads as four null fields (the extraction kernel fills them to '' and
    0: an empty-kind span, which it ignores). The position field is the
    fourth one, ``offset`` on input spans and ``order`` on output spans.
    ``encode_spans(*decode_spans(col))`` gives back ``col``."""
    import pyarrow as pa

    if isinstance(spans, pa.ChunkedArray):
        spans = spans.combine_chunks()
    offsets = spans.offsets.to_numpy()
    flat = spans.flatten()
    nulls = (a.is_null() if a.null_count else None for a in (spans, flat))
    return (offsets - offsets[0], *flat.flatten(), *nulls)


def encode_spans(
    offsets, kinds, texts, refs, positions, list_nulls=None, span_nulls=None, position="offset"
):
    """``decode_spans`` in reverse: list offsets + the four span fields
    (Arrow arrays, ndarrays or Python lists) + optional boolean null masks
    of the lists and of the span structs → a ``list<struct<kind, text,
    media_ref, <position>>>`` array; ``position`` is ``offset`` for
    ``INPUT_SPAN_STRUCT`` and ``order`` for ``OUTPUT_SPAN_STRUCT``."""
    import pyarrow as pa

    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.StructArray.from_arrays(
            [
                pa.array(kinds, type=pa.string()),
                pa.array(texts, type=pa.string()),
                pa.array(refs, type=pa.string()),
                pa.array(positions, type=pa.int32()),
            ],
            names=["kind", "text", "media_ref", position],
            mask=span_nulls,
        ),
        mask=list_nulls,
    )


def docs_batch(docs):
    """Documents (dicts of ``doc_id, fmt, title, author`` and ``spans`` as
    ``(kind, text, media_ref, offset)`` tuples) → one ``INPUT_SCHEMA``
    RecordBatch, nullability included."""
    import pyarrow as pa

    offsets = list(accumulate((len(d["spans"]) for d in docs), initial=0))
    fields = list(zip(*(s for d in docs for s in d["spans"]))) or [[]] * 4
    arrays = [
        pa.array([d[name] for d in docs], type=pa.string())
        for name in ("doc_id", "fmt", "title", "author")
    ]
    arrays.append(encode_spans(offsets, *fields))
    return pa.RecordBatch.from_arrays(
        arrays,
        schema=pa.schema(
            pa.field(f.name, a.type, f.nullable) for f, a in zip(INPUT_SCHEMA.fields, arrays)
        ),
    )


def docs_df(spark, docs) -> DataFrame:
    """Driver-side documents → an ``INPUT_SCHEMA`` DataFrame via one Arrow
    table (``docs_batch``), no per-span Row objects."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.Table.from_batches([docs_batch(docs)]), schema=INPUT_SCHEMA
    )


def _extract_arrow_batches(batches):
    """One Arrow batch of documents in → one batch of extracted spans out.

    Operates on Arrow buffers directly (``mapInArrow``): the nested span
    structs are unboxed as four flat arrays + list offsets
    (``decode_spans``) instead of one Python dict per span, and the output
    list<struct> column is rebuilt the same way (``encode_spans``) —
    roughly 3× less (de)serialization than the pandas path for this
    span-heavy schema.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        doc_ids = batch.column(0).to_pylist()
        fmts = batch.column(1).to_pylist()
        titles = batch.column(2).to_pylist()
        authors = batch.column(3).to_pylist()
        offsets, *fields, _, _ = decode_spans(batch.column(4))
        list_offsets = offsets.tolist()
        # Null→'' happens vectorized in Arrow so row construction below is a
        # bare zip of slices (no per-element branch). to_numpy().tolist() is
        # one C-level pass per column; to_pylist() boxes an Arrow scalar per
        # span first (302,706 spans: 1.30 s → 0.09 s on one Xeon core).
        kinds, texts, refs = (
            pc.fill_null(f, "").to_numpy(zero_copy_only=False).tolist()
            for f in fields[:3]
        )
        offs = pc.fill_null(fields[3], 0).to_numpy(zero_copy_only=False)
        # Out-of-order detection for the whole batch in one vectorized pass:
        # doc i needs a sort iff any adjacent decrease falls inside its slice.
        if len(offs) > 1:
            dec_prefix = np.concatenate(
                ([0], np.cumsum(np.diff(offs) < 0, dtype=np.int64))
            )
        else:
            dec_prefix = np.zeros(max(len(offs), 1), dtype=np.int64)

        out_kinds: list = []
        out_texts: list = []
        out_refs: list = []
        out_orders: list = []
        out_offsets = [0]
        n_spans_col = []
        n_media_col = []
        status_col = []
        elapsed_col = []
        for i in range(len(doc_ids)):
            lo, hi = list_offsets[i], list_offsets[i + 1]
            rows = list(zip(kinds[lo:hi], texts[lo:hi], refs[lo:hi]))
            if hi - lo > 1 and dec_prefix[hi - 1] - dec_prefix[lo] > 0:
                order = np.argsort(offs[lo:hi], kind="stable")
                rows = [rows[j] for j in order]
            t_doc = thread_time_ns()
            result, status = extract_document(fmts[i], rows, titles[i], authors[i])
            elapsed_col.append((thread_time_ns() - t_doc) // 1000)
            n_media = 0
            for k, t, r, o in result:
                out_kinds.append(k)
                out_texts.append(t)
                out_refs.append(r)
                out_orders.append(o)
                if k == "media_ref":
                    n_media += 1
            out_offsets.append(len(out_kinds))
            n_spans_col.append(len(result))
            n_media_col.append(n_media)
            status_col.append(status)

        yield pa.RecordBatch.from_arrays(
            [
                pa.array(doc_ids, type=pa.string()),
                pa.array(fmts, type=pa.string()),
                encode_spans(
                    out_offsets, out_kinds, out_texts, out_refs, out_orders, position="order"
                ),
                pa.array(n_spans_col, type=pa.int32()),
                pa.array(n_media_col, type=pa.int32()),
                pa.array(status_col, type=pa.string()),
                pa.array(elapsed_col, type=pa.int64()),
            ],
            names=["doc_id", "fmt", "spans", "n_spans", "n_media", "status", "elapsed_us"],
        )


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Uniformly spread documents by a 64-bit hash of ``doc_id``.

    Breaks source-file clustering/skew (all the giant PDFs in one input
    split) before the Python-map stage; a deliberate full shuffle.

    This IS the doc-size skew strategy, deliberately: a document is an
    atomic unit of fold work, so the best any partitioner can do with a
    giant PDF is keep it AWAY from other giant PDFs — which a uniform
    random spread achieves with variance shrinking as 1/√(docs per
    partition) (at lake scale, ~10⁵ docs/partition makes per-partition
    cost essentially equal). Size-SORTED placement would be strictly
    worse: it co-locates the giants, and one 512-row Arrow batch of
    25-page PDFs is exactly the memory spike ``maxRecordsPerBatch``
    exists to prevent. Residual imbalance is observable per partition
    via the summed ``elapsed_us`` in lineage.

    The partition expression must stay HIGH-cardinality: Spark hash-partitions
    the expression value, so pre-folding it with ``pmod(..., N)`` would throw
    N distinct values into N buckets and leave ~1/e of the partitions empty
    (balls-in-bins) while doubling up others.
    """
    return df.repartition(num_partitions, F.xxhash64("doc_id"))


def extract_spans(
    df: DataFrame,
    *,
    repartition: int | None = None,
) -> DataFrame:
    """Run the per-format extraction over a documents_spans DataFrame.

    Narrow by default; pass ``repartition`` to salt-shuffle skewed inputs
    first. Column pruning happens in ``_map_extract``'s select, so the scan
    reads only the five contract columns regardless of extra input columns.
    """
    return _map_extract(df, _extract_arrow_batches, repartition)


def _map_extract(df: DataFrame, kernel, repartition: int | None) -> DataFrame:
    """The operator's one ``mapInArrow``: the five contract columns, an
    optional salted shuffle, then ``kernel`` — ``_extract_arrow_batches``
    or a wrapper that yields its batches unchanged."""
    projected = df.select("doc_id", "fmt", "title", "author", "spans")
    if repartition:
        projected = salted_repartition(projected, repartition)
    return projected.mapInArrow(kernel, schema=EXTRACTED_SCHEMA)
