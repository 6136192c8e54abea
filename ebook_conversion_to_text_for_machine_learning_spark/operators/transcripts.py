"""OCR-transcript sidecar enrichment.

At 10^12 documents OCR runs as its own offline job whose results land in a
sidecar table ``(doc_id, media_ref, transcript)``; the extraction engine
then consults transcripts wherever the reference would have called its OCR
(north_star replacement). This operator splices sidecar transcripts into
the input spans' image entries before extraction:

- one aggregation turns the sidecar into a per-document
  ``map<media_ref, transcript>`` (small rows — refs and transcripts only);
- a LEFT join attaches it, with the sidecar side broadcast so documents
  never shuffle their spans;
- a per-row array ``transform`` rewrites ``img`` span text via map lookup —
  pure Catalyst expressions, no Python.
"""

from __future__ import annotations

from typing import Any, Callable, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_transcripts(spans_df: DataFrame, transcripts_df: DataFrame) -> DataFrame:
    """Overwrite image-span text with sidecar transcripts where available.

    Non-image spans and images without a sidecar row are untouched (the
    reference's OCR-failure path leaves the empty transcript in place).
    """
    per_doc = F.broadcast(
        transcripts_df.groupBy("doc_id").agg(
            F.map_from_entries(
                F.collect_list(F.struct("media_ref", "transcript"))
            ).alias("_transcripts")
        )
    )

    enriched_spans = F.transform(
        F.col("spans"),
        lambda s: F.when(
            (s["kind"] == "img") & F.col("_transcripts").isNotNull()
            & F.col("_transcripts")[s["media_ref"]].isNotNull(),
            F.struct(
                s["kind"].alias("kind"),
                F.col("_transcripts")[s["media_ref"]].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ).otherwise(s),
    )
    return (
        spans_df.join(per_doc, "doc_id", "left")
        .withColumn("spans", enriched_spans)
        .drop("_transcripts")
    )


def run_ocr_with_retries(
    ocr_fn: Callable[[List[Any]], str],
    images: List[Any],
    *,
    max_retries: int = 3,
) -> str:
    """Reference ``run_ocr`` control flow (ocr.py:80-115) around an
    injected OCR callable.

    - empty image list → "" (ocr.py:93-95);
    - empty/None answer → "" (the reference's NoResponseError lands in its
      own except-return-"" path, ocr.py:110-115);
    - refusal answers retried; after ``max_retries`` extra attempts the
      reference raises into its except and returns "" (ocr.py:103-108);
    - any exception from the callable → "" — at 10^12 docs OCR failures
      must be data, never task failures;
    - successful answers pass through ``clean_ocr_response`` ("No text
      found" → "", ocr.py:70-77).
    """
    if not images:
        return ""
    from ebook_conversion_to_text_for_machine_learning_spark.core.media_prep import (
        GPT_REFUSALS,
        clean_ocr_response,
    )

    try:
        for _attempt in range(max_retries + 1):
            answer = ocr_fn(images)
            if not answer:
                return ""
            if any(refusal in answer for refusal in GPT_REFUSALS):
                continue
            return clean_ocr_response(answer)
        return ""
    except Exception:  # noqa: BLE001 — reference maps every OCR error to ""
        return ""


def apply_ocr(
    spans_df: DataFrame,
    ocr_fn: Callable[[List[Any]], str],
    *,
    image_loader: Optional[Callable[[str], Any]] = None,
    max_retries: int = 3,
) -> DataFrame:
    """Live-OCR enrichment: rewrite ``img`` span text via an injected OCR
    callable (the M5 completion; the sidecar path above stays the default
    at lake scale).

    ``ocr_fn`` receives a list of images and returns the recognized text —
    the reference's ``run_ocr`` contract, so an OpenAI-vision client, a
    local model, or a test mock drop in unchanged. ``image_loader`` maps a
    span's ``media_ref`` to the image payload handed to ``ocr_fn``
    (default: pass the ref itself). Runs as ``mapInArrow`` over the
    extraction kernel's span codec — one Python crossing per batch, only
    ``img`` span text rewritten, every other span field and column passed
    through as is (nulls included); refusal/retry handled per image by
    ``run_ocr_with_retries``; failures become empty transcripts (the
    reference's OCR-failure path), never task failures.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        decode_spans,
        encode_spans,
    )

    loader = image_loader or (lambda ref: ref)
    spans_at = spans_df.columns.index("spans")

    def batches(it):
        for batch in it:
            offsets, kinds, texts, refs, positions, *nulls = decode_spans(batch.column(spans_at))
            is_img = pc.fill_null(pc.equal(kinds, "img"), False)
            transcripts = [
                run_ocr_with_retries(
                    ocr_fn, [loader(ref)] if ref else [], max_retries=max_retries
                )
                for ref in refs.filter(is_img).to_pylist()
            ]
            texts = pc.replace_with_mask(texts, is_img, pa.array(transcripts, pa.string()))
            spans = encode_spans(offsets, kinds, texts, refs, positions, *nulls)
            yield batch.set_column(spans_at, "spans", spans)

    return spans_df.mapInArrow(batches, schema=spans_df.schema)
