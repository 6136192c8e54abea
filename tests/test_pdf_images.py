"""PDF image extraction (M4 composition): the reference's _get_image control
flow (pdf_image_extractor.py:86-280) over the stdlib parser, with the two
Pillow call sites stubbed deterministically."""

import base64
import zlib

from ebook_conversion_to_text_for_machine_learning_spark.sources.pdf_images import (
    extract_images,
)
from ebook_conversion_to_text_for_machine_learning_spark.testing.pdf_fixture import (
    build_pdf,
)


def _one_image_pdf(spec):
    data, image_ids = build_pdf([[("img", spec), "caption line "]])
    return data, image_ids[0][0]


def test_flate_rgb_image_extracts_prepared_bytes():
    pixels = bytes((i % 256) for i in range(6 * 6 * 3))
    pdf, obj = _one_image_pdf(
        {"width": 6, "height": 6, "bpc": 8, "color_space": "DeviceRGB",
         "filter": "FlateDecode", "data": pixels}
    )
    (image,) = extract_images(pdf, [obj])
    assert base64.b64decode(image) == pixels  # filter-decode is real


def test_four_bit_data_is_expanded_to_8bit():
    # 75 raw bytes → 150 expanded pixels = 5*10 * 3 Bpp (RGB default mode,
    # matching the reference's fallback for unknown/gray color spaces).
    raw = bytes([0xF0, 0x0F] * 37) + b"\xf0"
    pdf, obj = _one_image_pdf(
        {"width": 5, "height": 10, "bpc": 4, "color_space": "DeviceGray",
         "filter": "FlateDecode", "data": raw}
    )
    (image,) = extract_images(pdf, [obj])
    out = base64.b64decode(image)
    assert len(out) == 150
    assert out[:4] == bytes([255, 0, 0, 255])  # 0xF0,0x0F nibbles scaled


def test_dctdecode_takes_the_jpeg_passthrough_path():
    jpeg = b"\xff\xd8\xff\xe0FAKEJPEG\xff\xd9"
    pdf, obj = _one_image_pdf(
        {"width": 40, "height": 40, "filter": "DCTDecode", "data": jpeg}
    )
    (image,) = extract_images(pdf, [obj])
    assert base64.b64decode(image) == jpeg  # no size gates on the DCT path


def test_too_small_image_hops_to_next_object_soft_mask():
    """Reference quirk (:205-211): a 2x2 soft-mask stand-in retries the
    NEXT object id, which holds the real bitmap."""
    small = {"width": 2, "height": 2, "data": b"\x00" * 4}
    real_pixels = bytes((i % 256) for i in range(8 * 8 * 3))
    real = {"width": 8, "height": 8, "color_space": "DeviceRGB",
            "filter": "FlateDecode", "data": real_pixels}
    pdf, ids = build_pdf([[("img", small), ("img", real), "text "]])
    small_id, real_id = ids[0]
    assert real_id == small_id + 1  # builder numbers page images consecutively
    (image,) = extract_images(pdf, [small_id])
    assert base64.b64decode(image) == real_pixels


def test_too_large_image_is_skipped():
    pdf, obj = _one_image_pdf(
        {"width": 1200, "height": 1300, "data": b"\x00"}
    )
    assert extract_images(pdf, [obj]) == []


def test_truncated_stream_fails_like_frombytes():
    pdf, obj = _one_image_pdf(
        {"width": 10, "height": 10, "color_space": "DeviceRGB",
         "filter": "FlateDecode", "data": b"\x01\x02\x03"}  # 3 ≪ 300 bytes
    )
    assert extract_images(pdf, [obj]) == []


def test_non_stream_object_and_unknown_id_yield_nothing():
    pdf, obj = _one_image_pdf({"width": 8, "height": 8, "data": b"\x00" * 64})
    assert extract_images(pdf, [1]) == []      # catalog: not a stream
    assert extract_images(pdf, [9999]) == []   # missing object
