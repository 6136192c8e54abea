"""PDF image extraction: the reference's M4 pipeline over the stdlib parser.

Composes the ported pure helpers (core/media_prep.py: ``expand_bits``,
``pillow_mode_for``, ``psliteral_to_str``, ``check_image_size``) into the
reference's full control flow (pdf_image_extractor.py:86-280):

- object lookup; non-stream objects → TypeError path → "" (:171-175);
- ``DCTDecode`` streams take the JPEG transcode path (:81-82 → :150-166);
- otherwise size gates (<5px → ImageTooSmallError, >1000px both sides →
  ImageTooLargeError, :254-259), color-space → mode mapping, bit
  expansion to 8-bit, then the frombytes→PNG conversion (:113-148);
- ``ImageTooSmallError`` retries the NEXT object id once — the soft-mask
  quirk: tiny stand-in images point at the real bitmap in the following
  object (:205-211, ``_find_next_image`` :221-240);
- ``ImageTooLargeError`` (full-page scan) and every other failure → ""
  (:212-219).

The two Pillow call sites (``Image.frombytes`` / ``Image.open``) are the
ONLY stubbed steps (no Pillow): the stub base64-encodes the
fully-prepared bytes (post filter-decode, post bit-expansion —
everything up to the codec is real).

At lake scale this runs pre-ingest (fixture generation resolving
``media_ref`` payloads), batched per file inside ``mapInArrow`` like
``ingest_files_distributed`` — never per-row Python in the engine.
"""

from __future__ import annotations

import base64
from typing import List

from ebook_conversion_to_text_for_machine_learning_spark.compat import (
    ImageTooLargeError,
    ImageTooSmallError,
)
from ebook_conversion_to_text_for_machine_learning_spark.core.media_prep import (
    check_image_size,
    expand_bits,
    pillow_mode_for,
    psliteral_to_str,
)
from ebook_conversion_to_text_for_machine_learning_spark.sources.pdf_text import (
    _PdfFile,
)


def _transcode_jpeg(jpeg_data: bytes) -> str:
    """Reference ``_transcode_to_png`` (:150-166) — Pillow step stubbed."""
    return base64.b64encode(jpeg_data).decode("utf-8")


def _image_from_binary(data: bytes, width: int, height: int, mode: str) -> str:
    """Reference ``_create_image_from_binary`` (:113-148) — Pillow stubbed.

    The reference returns "" when Pillow rejects the buffer (ValueError,
    e.g. wrong byte count for the mode); the stub reproduces that gate
    with the exact frombytes size arithmetic so truncated streams fail
    the same way they would in production.
    """
    bytes_per_pixel = {"1": 1, "L": 1, "RGB": 3, "CMYK": 4}.get(mode, 3)
    if len(data) < width * height * bytes_per_pixel:
        return ""  # Image.frombytes raises ValueError → reference returns ""
    return base64.b64encode(data).decode("utf-8")


def _parse_image_data(pdf: _PdfFile, obj_num: int, body: dict):
    """Reference ``_parse_image_data`` + ``_extract_color_data`` (:242-280)."""
    width = int(body.get("Width", 0) or 0)
    height = int(body.get("Height", 0) or 0)
    check_image_size(width, height)
    bit_depth = int(body.get("BitsPerComponent", 8) or 8)
    color_space = body.get("ColorSpace")
    if isinstance(color_space, list):
        color_space = color_space[0]
    mode = "1" if bit_depth == 1 else pillow_mode_for(psliteral_to_str(color_space))
    data = expand_bits(pdf.decoded_stream(obj_num), bit_depth)
    return width, height, mode, data


def _find_next_image(pdf: _PdfFile, obj_num: int, attempt: int):
    """Soft-mask hop (reference :221-240): tiny images retry obj_num+1 if
    it is a stream object; otherwise force the attempt cap."""
    next_obj = obj_num + 1
    entry = pdf.objects.get(next_obj)
    if entry is not None and entry[1] is not None:
        return next_obj, attempt + 1
    return obj_num, 100


def _get_image(pdf: _PdfFile, obj_num: int, attempt: int) -> str:
    if attempt > 1:
        return ""
    try:
        entry = pdf.objects.get(obj_num)
        if entry is None or entry[1] is None:
            raise TypeError(
                f"Invalid object. Received {type(entry)} instead of stream"
            )
        body, _raw = entry
        filt = body.get("Filter")
        if isinstance(filt, list) and filt:
            filt = filt[0]
        if psliteral_to_str(filt) == "DCTDecode":
            return _transcode_jpeg(_raw)
        width, height, mode, data = _parse_image_data(pdf, obj_num, body)
        return _image_from_binary(data, width, height, mode)
    except (ValueError, AttributeError, TypeError):
        return ""
    except ImageTooSmallError:
        new_num, next_attempt = _find_next_image(pdf, obj_num, attempt)
        return _get_image(pdf, new_num, next_attempt)
    except ImageTooLargeError:
        return ""
    except Exception:  # noqa: BLE001 — reference maps any failure to ""
        return ""


def extract_images(pdf_bytes: bytes, obj_nums: List[int]) -> List[str]:
    """Base64 images for the given object ids; failures drop out (reference
    ``extract_images`` filters falsy results, :104-112)."""
    pdf = _PdfFile(pdf_bytes)
    images = [_get_image(pdf, num, 0) for num in obj_nums]
    return [image for image in images if image]
