"""Build real, spec-conformant PDF files for ingest tests — stdlib only.

``build_pdf`` emits a classic-xref PDF (header, indirect objects, xref
table, trailer) whose pages contain one ``Tj`` per text line inside a
single ``BT``/``ET`` block (``Td`` line advances), optionally preceded by
an image XObject ``Do``. This is the layout shape the reference's golden
PDFs exercise (one text line per layout line, images as separate
elements), so the stdlib reader (sources/pdf_text.py) — the one PDF
ingest path — sees the same well-formed file the reference reads.

``objstm=True`` switches to the PDF 1.5 serialization most modern
producers emit: every non-stream object (catalog, page tree, pages,
fonts) packs into a FlateDecode ``/Type /ObjStm``, and the file ends in a
cross-reference STREAM (``/Type /XRef``, ``W [1 4 2]``, PNG Up predictor)
instead of a classic table — exercising the extractor's xref-chain walk,
predictor reversal, and ObjStm unpacking. ``corrupt_objstm=True`` writes
garbage bytes as the ObjStm payload so the page tree is unrecoverable
(quarantine-path fixture).

``font_spec`` customizes the F1 font: ``{"encoding": "WinAnsiEncoding"}``
or ``{"encoding": {"base": ..., "differences": [code, name, ...]}}``
and/or ``{"tounicode": {"codespace": 1|2, "bfchar": {code: str},
"bfrange": [(lo, hi, start_str)]}}`` (the CMap ships as a stream object).
``{"type0": "UCS"|"Identity"}`` builds a composite Identity-H font whose
descendant CIDFontType2 carries that /CIDSystemInfo /Ordering, and page
text serializes as 2-byte hex show strings (CID == UTF-16BE code unit);
``{"type0_cjk": "<cmap>-H" | ("<cmap>-H", "<Ordering>")}`` builds a
composite font with that PREDEFINED CJK CMap /Encoding name
(e.g. ``"UniGB-UCS2-H"``, ``"90ms-RKSJ-H"``), serializing string items
as hex show strings in the CMap's code encoding —
the no-ToUnicode CID fixture.

Content streams are FlateDecode-compressed when ``compress=True`` —
covering the dominant machine-generated case — or stored raw.
"""

from __future__ import annotations

import zlib
from typing import Dict, List, Optional, Sequence, Tuple, Union

#: A page item: a text line (shown verbatim, one layout line), an image
#: marker — ``("img",)`` for a default 1×1 gray XObject, or
#: ``("img", spec)`` with a dict of ``width``/``height``/``bpc``/
#: ``color_space``/``filter`` ("FlateDecode" | "DCTDecode" | None) /
#: ``data`` (raw pixel or JPEG bytes) to exercise the image-decode
#: pipeline's gates and paths — or ``("rawtext", bytes)`` for one line of
#: raw show-string bytes (exercises font decoders: the bytes pass to the
#: active font's ToUnicode/encoding machinery verbatim).
PageItem = Union[str, tuple]


def _escape(text: str) -> bytes:
    return _escape_bytes(text.encode("latin-1"))


def _escape_bytes(raw: bytes) -> bytes:
    return (
        raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
    )


def _lzw_encode(data: bytes) -> bytes:
    """Forward PDF LZW (9-12 bit variable codes, EarlyChange=1) — the
    encoder twin of sources/pdf_text._lzw_decode, used only to build
    fixtures that exercise the decoder."""
    table: Dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    buf = 0
    nbits = 0
    res = bytearray()

    def emit(code: int) -> None:
        nonlocal buf, nbits
        buf = (buf << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            res.append((buf >> nbits) & 0xFF)

    def maybe_widen() -> None:
        # The decoder's table lags the encoder's by one entry at any
        # stream position (it reconstructs entry k on read k+1), so with
        # EarlyChange=1 the decoder widens at len == 2^w - 1 and the
        # encoder must widen at next_code == 2^w to stay bit-aligned.
        # At the 12-bit ceiling the table is full: emit a clear code and
        # restart, as real producers do.
        nonlocal width, next_code, table
        if next_code >= (1 << 12) - 1:
            emit(256)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        elif next_code >= (1 << width) and width < 12:
            width += 1

    emit(256)  # clear-table
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        maybe_widen()
        w = bytes([ch])
    if w:
        emit(table[w])
        next_code += 1  # decoder appends an entry for this emit too
        maybe_widen()
    emit(257)  # EOD
    if nbits:
        res.append((buf << (8 - nbits)) & 0xFF)
    return bytes(res)


def _run_length_encode(data: bytes) -> bytes:
    """Literal-runs-only RunLengthDecode payload (valid, if uncompressed)."""
    out = bytearray()
    for i in range(0, len(data), 128):
        chunk = data[i : i + 128]
        out.append(len(chunk) - 1)
        out += chunk
    out.append(128)  # EOD
    return bytes(out)


def encode_stream(content: bytes, filt: str) -> bytes:
    """Encode ``content`` for a given PDF /Filter name (fixtures only)."""
    import base64

    if filt == "FlateDecode":
        return zlib.compress(content)
    if filt == "LZWDecode":
        return _lzw_encode(content)
    if filt == "ASCIIHexDecode":
        return content.hex().encode("ascii") + b">"
    if filt == "ASCII85Decode":
        return base64.a85encode(content, adobe=False) + b"~>"
    if filt == "RunLengthDecode":
        return _run_length_encode(content)
    raise ValueError(f"unsupported fixture filter {filt}")


def _is_text(item: PageItem) -> bool:
    return isinstance(item, str) or (
        isinstance(item, tuple) and bool(item) and item[0] == "rawtext"
    )


def _page_content(
    items: Sequence[PageItem],
    image_names: List[str],
    utf16: bool = False,
    text_codec: Optional[str] = None,
) -> bytes:
    """Serialize items IN ORDER: each contiguous run of text lines gets
    its own BT/ET block and images emit in place, so text-image-text
    layouts round-trip with the documented item order (a single trailing
    image pass used to push mid-text images after the whole text block).
    Blocks descend a shared y cursor so layout-order readers agree."""
    ops: List[bytes] = []
    img_iter = iter(image_names)
    y = 720
    idx = 0
    while idx < len(items):
        if _is_text(items[idx]):
            run: List[bytes] = []
            while idx < len(items) and _is_text(items[idx]):
                it = items[idx]
                if utf16 or text_codec:
                    # Composite font: show-text carries the code bytes
                    # as a hex string — UTF-16BE code units for
                    # Identity-H, or the predefined CMap's national
                    # encoding (``text_codec``); rawtext bytes pass
                    # through verbatim (caller-built code sequences).
                    codec = text_codec or "utf-16-be"
                    raw = it.encode(codec) if isinstance(it, str) else it[1]
                    run.append(b"<" + raw.hex().encode() + b">")
                else:
                    body = (
                        _escape(it) if isinstance(it, str) else _escape_bytes(it[1])
                    )
                    run.append(b"(" + body + b")")
                idx += 1
            ops.append(b"BT")
            ops.append(b"/F1 12 Tf")
            ops.append(b"72 %d Td" % y)
            first = True
            for line in run:
                if not first:
                    ops.append(b"0 -14 Td")
                y -= 14
                ops.append(line + b" Tj")
                first = False
            ops.append(b"ET")
        elif items[idx][0] == "inline_img":
            # BI/ID/EI inline image whose binary payload is arbitrary —
            # including bytes that spell text operators. The extractor
            # must skip it wholesale.
            payload = items[idx][1]
            ops.append(
                b"BI /W %d /H 1 /BPC 8 /CS /G ID " % max(1, len(payload))
                + payload
                + b" EI"
            )
            idx += 1
        else:
            name = next(img_iter)
            ops.append(b"q 100 0 0 100 72 %d cm /" % y + name.encode() + b" Do Q")
            y -= 14
            idx += 1
    return b"\n".join(ops) + b"\n"


#: Standard-security-handler pad — duplicated from the spec on purpose so
#: the fixture's crypto is INDEPENDENT of the reader's (a shared helper
#: would let a symmetric implementation bug round-trip invisibly).
_FX_PAD = bytes.fromhex(
    "28BF4E5E4E758A4164004E56FFFA01082E2E00B6D0683E802F0CA9FE6453697A"
)


def _fx_rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for c in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(c ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)


def _fx_aes_cbc(key: bytes, iv: bytes, data: bytes) -> bytes:
    """AES-CBC encryption of whole blocks (128- or 256-bit key), run
    through ``cryptography`` rather than the reader's helper."""
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    return enc.update(data) + enc.finalize()


def _fx_aes_stream(key: bytes, iv: bytes, data: bytes) -> bytes:
    """AESV2/AESV3 stream layout, built here and not by the reader: the
    IV prefix, then the CBC body over PKCS#7-padded data."""
    pad = 16 - len(data) % 16
    return iv + _fx_aes_cbc(key, iv, data + bytes([pad]) * pad)


def _fx_crypt_setup(mode: str):
    """(doc_id, /Encrypt dict bytes, encrypt_stream(num, data) callable)
    for a fixture encryption mode — shared by the classic and ObjStm
    serializers. Modes: ``rc4-40`` (V1/R2), ``rc4-128`` (V2/R3),
    ``aes-128`` (V4/R4 AESV2), ``aes-256`` (V5/R6 AESV3, ISO 32000-2
    hardened hash), and the locked variants ``rc4-locked`` /
    ``aes-256-locked`` (non-empty USER password — the reader must
    quarantine)."""
    import hashlib

    if mode in ("aes-256", "aes-256-locked"):
        return _fx_crypt_setup_r6(locked=mode.endswith("locked"))

    locked = mode == "rc4-locked"
    aes = mode == "aes-128"
    if mode == "rc4-40":
        r, v, length = 2, 1, 5
    elif aes:
        r, v, length = 4, 4, 16
    else:
        r, v, length = 3, 2, 16
    user_pwd = b"secret" if locked else b""
    owner_pwd = b"owner"
    doc_id = hashlib.md5(b"engine-pdf-fixture-id").digest()

    def pad(pwd: bytes) -> bytes:
        return (pwd + _FX_PAD)[:32]

    # Algorithm 3: /O from the owner password.
    d = hashlib.md5(pad(owner_pwd)).digest()
    if r >= 3:
        for _ in range(50):
            d = hashlib.md5(d).digest()
    okey = d[:length]
    o = _fx_rc4(okey, pad(user_pwd))
    if r >= 3:
        for i in range(1, 20):
            o = _fx_rc4(bytes(b ^ i for b in okey), o)
    p_val = -44
    # Algorithm 2: the file key (from the USER password).
    key = hashlib.md5(
        pad(user_pwd) + o + (p_val & 0xFFFFFFFF).to_bytes(4, "little") + doc_id
    ).digest()[:length]
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:length]).digest()[:length]
    # Algorithm 4/5: /U.
    if r == 2:
        u = _fx_rc4(key, _FX_PAD)
    else:
        x = _fx_rc4(key, hashlib.md5(_FX_PAD + doc_id).digest())
        for i in range(1, 20):
            x = _fx_rc4(bytes(b ^ i for b in key), x)
        u = x + bytes(16)
    def encrypt_stream(num: int, data: bytes) -> bytes:
        salt = b"sAlT" if aes else b""
        ok = hashlib.md5(
            key + num.to_bytes(3, "little") + b"\x00\x00" + salt
        ).digest()[: min(length + 5, 16)]
        if aes:
            iv = hashlib.md5(b"fixture-iv-%d" % num).digest()
            return _fx_aes_stream(ok, iv, data)
        return _fx_rc4(ok, data)

    if aes:
        enc_body = (
            f"<< /Filter /Standard /V 4 /R 4 /Length 128 "
            f"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >> "
            f"/StmF /StdCF /StrF /StdCF "
            f"/O <{o.hex()}> /U <{u.hex()}> /P {p_val} >>"
        ).encode()
    else:
        enc_body = (
            f"<< /Filter /Standard /V {v} /R {r} /Length {length * 8} "
            f"/O <{o.hex()}> /U <{u.hex()}> /P {p_val} >>"
        ).encode()
    return doc_id, enc_body, encrypt_stream


def _fx_hash_2b(pwd: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """Fixture twin of the ISO 32000-2 algorithm 2.B hardened hash:
    ≥64 rounds of AES-128-CBC over ≥64 blocks."""
    import hashlib

    k = hashlib.sha256(pwd + salt + udata).digest()
    rnd = 0
    while True:
        e = _fx_aes_cbc(k[:16], k[16:32], (pwd + k + udata) * 64)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[sum(e[:16]) % 3](
            e
        ).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


def _fx_r6_material(locked: bool):
    """Deterministic R6 key material: the file key, /U, /UE, /O, /OE."""
    import hashlib

    user_pwd = b"secret" if locked else b""
    owner_pwd = b"owner"
    file_key = hashlib.sha256(b"engine-fixture-file-key").digest()
    vsalt, ksalt = b"VSALT001", b"KSALT001"
    ovsalt, oksalt = b"OVSALT01", b"OKSALT01"
    u = _fx_hash_2b(user_pwd, vsalt) + vsalt + ksalt
    ue = _fx_aes_cbc(_fx_hash_2b(user_pwd, ksalt), bytes(16), file_key)
    o = _fx_hash_2b(owner_pwd, ovsalt, u) + ovsalt + oksalt
    oe = _fx_aes_cbc(_fx_hash_2b(owner_pwd, oksalt, u), bytes(16), file_key)
    return file_key, u, ue, o, oe


def _fx_crypt_setup_r6(*, locked: bool):
    """AES-256 / V5 / R6 fixture: U = 2.B-hash(user pwd, vsalt) ||
    vsalt || ksalt; UE wraps the random file key under the 2.B
    intermediate key; O/OE computed honestly from the owner password
    with U as udata; /Perms is the AES-ECB(P record) the spec asks for
    (the reader does not consult it). ``locked`` signs U with a real
    user password so the reader's empty-password check must fail."""
    import hashlib

    doc_id = hashlib.md5(b"engine-pdf-fixture-id").digest()
    file_key, u, ue, o, oe = _fx_r6_material(locked)
    p_val = -44
    perms_rec = (
        (p_val & 0xFFFFFFFF).to_bytes(4, "little")
        + b"\xff\xff\xff\xff"
        + b"Tadb"
        + b"fix0"
    )
    # Single 16-byte block: CBC with a zero IV == the ECB block the spec
    # specifies for /Perms.
    perms = _fx_aes_cbc(file_key, bytes(16), perms_rec)

    def encrypt_stream(num: int, data: bytes) -> bytes:
        iv = hashlib.md5(b"fixture-iv-%d" % num).digest()
        return _fx_aes_stream(file_key, iv, data)

    enc_body = (
        f"<< /Filter /Standard /V 5 /R 6 /Length 256 "
        f"/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >> "
        f"/StmF /StdCF /StrF /StdCF "
        f"/O <{o.hex()}> /U <{u.hex()}> /OE <{oe.hex()}> /UE <{ue.hex()}> "
        f"/Perms <{perms.hex()}> /P {p_val} >>"
    ).encode()
    return doc_id, enc_body, encrypt_stream


def _fx_encrypt(bodies: dict, streams: dict, enc_num: int, mode: str) -> bytes:
    """Encrypt every stream in place (classic layout) and install the
    /Encrypt object; rewrites /Length when the cipher pads (AES).
    Returns the document ID."""
    import re as _re

    doc_id, enc_body, encrypt_stream = _fx_crypt_setup(mode)
    for num in list(streams):
        streams[num] = encrypt_stream(num, streams[num])
        bodies[num] = _re.sub(
            rb"/Length \d+",
            b"/Length %d" % len(streams[num]),
            bodies[num],
            count=1,
        )
    bodies[enc_num] = enc_body
    return doc_id


def build_pdf(
    pages: Sequence[Sequence[PageItem]],
    *,
    compress: bool = True,
    objstm: bool = False,
    corrupt_objstm: bool = False,
    font_spec: Optional[dict] = None,
    content_filter: Optional[str] = None,
    encrypt: Optional[str] = None,
) -> Tuple[bytes, List[List[int]]]:
    """Serialize a PDF; returns ``(pdf_bytes, image_object_ids_per_page)``.

    The returned image object ids are what the extractor (and pdfminer via
    ``stream.objid``) reports as each image span's ``media_ref``.
    ``encrypt``: None, or ``rc4-40`` / ``rc4-128`` / ``aes-128`` /
    ``aes-256`` (the empty user password opens them), or ``rc4-locked`` /
    ``aes-256-locked`` (a real user password), in either layout.
    """
    # --- object numbering: 1 Catalog, 2 Pages, 3 Font, then per page:
    # page, content, images...
    next_num = 4
    page_nums: List[int] = []
    content_nums: List[int] = []
    image_nums: List[List[int]] = []
    for items in pages:
        page_nums.append(next_num)
        content_nums.append(next_num + 1)
        next_num += 2
        imgs = []
        for it in items:
            if isinstance(it, tuple) and it and it[0] == "img":
                imgs.append(next_num)
                next_num += 1
        image_nums.append(imgs)

    bodies: Dict[int, bytes] = {}
    streams: Dict[int, bytes] = {}
    kids = " ".join(f"{n} 0 R" for n in page_nums)
    bodies[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    bodies[2] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {len(pages)} >>".encode()
    )
    font_extra = ""
    if font_spec and "tounicode" in font_spec:
        tu_num = next_num
        next_num += 1
        cmap = _cmap_bytes(font_spec["tounicode"])
        payload = zlib.compress(cmap)
        streams[tu_num] = payload
        bodies[tu_num] = (
            f"<< /Filter /FlateDecode /Length {len(payload)} >>".encode()
        )
        font_extra += f" /ToUnicode {tu_num} 0 R"
    if font_spec and "encoding" in font_spec:
        enc = font_spec["encoding"]
        if isinstance(enc, str):
            font_extra += f" /Encoding /{enc}"
        else:
            parts = []
            if enc.get("base"):
                parts.append(f"/BaseEncoding /{enc['base']}")
            diffs = enc.get("differences") or []
            if diffs:
                ser = " ".join(
                    str(d) if isinstance(d, int) else f"/{d}" for d in diffs
                )
                parts.append(f"/Differences [ {ser} ]")
            font_extra += f" /Encoding << {' '.join(parts)} >>"
    utf16_text = False
    page_text_codec: Optional[str] = None
    if font_spec and "type0_cjk" in font_spec:
        # Composite font with a PREDEFINED CJK CMap /Encoding name
        # (e.g. "UniGB-UCS2-H", "90ms-RKSJ-H"): show strings carry code
        # bytes in the CMap's national encoding / UTF-16. The descendant
        # /CIDSystemInfo /Ordering is cosmetic for extraction (the
        # decoder keys on the /Encoding name) but serialized for realism.
        spec = font_spec["type0_cjk"]
        cmap_name, ordering = spec if isinstance(spec, tuple) else (spec, "GB1")
        from ebook_conversion_to_text_for_machine_learning_spark.sources.pdf_text import (
            _PREDEFINED_CMAP_CODECS,
        )

        base = cmap_name[:-2] if cmap_name.endswith(("-H", "-V")) else cmap_name
        page_text_codec = _PREDEFINED_CMAP_CODECS[base]
        desc_num = next_num
        next_num += 1
        bodies[desc_num] = (
            "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Fake "
            "/CIDSystemInfo << /Registry (Adobe) "
            f"/Ordering ({ordering}) /Supplement 0 >> >>"
        ).encode()
        bodies[3] = (
            "<< /Type /Font /Subtype /Type0 /BaseFont /Fake "
            f"/Encoding /{cmap_name} /DescendantFonts [{desc_num} 0 R]"
            f"{font_extra} >>"
        ).encode()
    elif font_spec and "type0" in font_spec:
        # Composite Identity-H font: /DescendantFonts carries the
        # CIDFontType2 dict whose /CIDSystemInfo /Ordering the extractor
        # inspects; page text serializes as 2-byte hex show strings.
        utf16_text = True
        ordering = font_spec["type0"]
        desc_num = next_num
        next_num += 1
        bodies[desc_num] = (
            "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Fake "
            "/CIDSystemInfo << /Registry (Adobe) "
            f"/Ordering ({ordering}) /Supplement 0 >> >>"
        ).encode()
        bodies[3] = (
            "<< /Type /Font /Subtype /Type0 /BaseFont /Fake "
            f"/Encoding /Identity-H /DescendantFonts [{desc_num} 0 R]"
            f"{font_extra} >>"
        ).encode()
    else:
        bodies[3] = (
            "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
            f"{font_extra} >>"
        ).encode()

    for pi, items in enumerate(pages):
        names = [f"Im{j}" for j in range(len(image_nums[pi]))]
        xobj = ""
        if names:
            refs = " ".join(
                f"/{name} {num} 0 R" for name, num in zip(names, image_nums[pi])
            )
            xobj = f" /XObject << {refs} >>"
        bodies[page_nums[pi]] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >>{xobj} >> "
            f"/Contents {content_nums[pi]} 0 R >>"
        ).encode()

        content = _page_content(
            items, names, utf16=utf16_text, text_codec=page_text_codec
        )
        filt = content_filter or ("FlateDecode" if compress else None)
        if filt:
            data = encode_stream(content, filt)
            streams[content_nums[pi]] = data
            bodies[content_nums[pi]] = (
                f"<< /Length {len(data)} /Filter /{filt} >>".encode()
            )
        else:
            streams[content_nums[pi]] = content
            bodies[content_nums[pi]] = f"<< /Length {len(content)} >>".encode()

        specs = [
            it[1] if len(it) > 1 else {}
            for it in items
            if isinstance(it, tuple) and it and it[0] == "img"
        ]
        for num, spec in zip(image_nums[pi], specs):
            width = spec.get("width", 1)
            height = spec.get("height", 1)
            bpc = spec.get("bpc", 8)
            cs = spec.get("color_space", "DeviceGray")
            filt = spec.get("filter")
            raw = spec.get("data", b"\x00")
            if filt == "FlateDecode":
                payload = zlib.compress(raw)
            else:  # raw or DCTDecode (JPEG bytes stored verbatim)
                payload = raw
            filter_entry = f" /Filter /{filt}" if filt else ""
            streams[num] = payload
            bodies[num] = (
                f"<< /Type /XObject /Subtype /Image /Width {width} "
                f"/Height {height} /ColorSpace /{cs} /BitsPerComponent {bpc}"
                f"{filter_entry} /Length {len(payload)} >>"
            ).encode()

    if objstm:
        return (
            _serialize_objstm(bodies, streams, corrupt_objstm, encrypt=encrypt),
            image_nums,
        )

    trailer_extra = ""
    if encrypt:
        enc_num = next_num
        next_num += 1
        doc_id = _fx_encrypt(bodies, streams, enc_num, encrypt)
        trailer_extra = (
            f" /Encrypt {enc_num} 0 R /ID [<{doc_id.hex()}> <{doc_id.hex()}>]"
        )

    # --- serialize with a correct classic xref table ----------------------
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: Dict[int, int] = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode()
        out += bodies[num]
        if num in streams:
            out += b"\nstream\n" + streams[num] + b"\nendstream"
        out += b"\nendobj\n"
    xref_at = len(out)
    count = max(bodies) + 1
    out += f"xref\n0 {count}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, count):
        out += f"{offsets[num]:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {count} /Root 1 0 R{trailer_extra} >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out), image_nums


def _cmap_bytes(spec: dict) -> bytes:
    """Serialize a minimal ToUnicode CMap from a test spec."""
    nbytes = int(spec.get("codespace", 1))
    width = nbytes * 2
    lines = [
        b"/CIDInit /ProcSet findresource begin",
        b"12 dict begin begincmap",
        b"1 begincodespacerange",
        f"<{'0' * width}> <{'f' * width}>".encode(),
        b"endcodespacerange",
    ]
    bfchar = spec.get("bfchar") or {}
    if bfchar:
        lines.append(f"{len(bfchar)} beginbfchar".encode())
        for code, dst in sorted(bfchar.items()):
            dst_hex = dst.encode("utf-16-be").hex()
            lines.append(f"<{code:0{width}x}> <{dst_hex}>".encode())
        lines.append(b"endbfchar")
    bfrange = spec.get("bfrange") or []
    if bfrange:
        lines.append(f"{len(bfrange)} beginbfrange".encode())
        for lo, hi, start in bfrange:
            start_hex = start.encode("utf-16-be").hex()
            lines.append(
                f"<{lo:0{width}x}> <{hi:0{width}x}> <{start_hex}>".encode()
            )
        lines.append(b"endbfrange")
    lines += [b"endcmap end end"]
    return b"\n".join(lines) + b"\n"


def _png_up_predict(rows: bytes, rowlen: int) -> bytes:
    """Forward PNG Up filter (type byte 2 per row) — what real producers
    apply to xref streams; the extractor must reverse it."""
    out = bytearray()
    prev = bytes(rowlen)
    for r in range(0, len(rows), rowlen):
        row = rows[r : r + rowlen]
        out.append(2)
        out += bytes((row[j] - prev[j]) & 0xFF for j in range(len(row)))
        prev = row
    return bytes(out)


def _serialize_objstm(
    bodies: Dict[int, bytes],
    streams: Dict[int, bytes],
    corrupt: bool,
    encrypt: Optional[str] = None,
) -> bytes:
    """PDF 1.5 serialization: non-stream objects pack into one ObjStm;
    the file ends in an xref STREAM (W [1 4 2], FlateDecode + PNG Up
    predictor) — no classic table, no classic trailer.

    ``encrypt`` produces the full modern encrypted shape (xref stream +
    ObjStm + RC4/AES): direct streams AND the ObjStm's own compressed
    stream are enciphered (members inside an ObjStm are never encrypted
    individually, §7.6.2); the /Encrypt dictionary is serialized as a
    DIRECT object (it may not live in an object stream) and the xref
    stream stays plaintext per spec."""
    import re as _re

    enc_stream = None
    enc_num = None
    xref_extra = ""
    if encrypt:
        doc_id, enc_body, enc_stream = _fx_crypt_setup(encrypt)
        enc_num = max(bodies) + 1
        bodies[enc_num] = enc_body
        xref_extra = (
            f" /Encrypt {enc_num} 0 R /ID [<{doc_id.hex()}> <{doc_id.hex()}>]"
        )
        for num in list(streams):
            streams[num] = enc_stream(num, streams[num])
            bodies[num] = _re.sub(
                rb"/Length \d+",
                b"/Length %d" % len(streams[num]),
                bodies[num],
                count=1,
            )
    packed = [
        n for n in sorted(bodies) if n not in streams and n != enc_num
    ]
    direct = [n for n in sorted(bodies) if n in streams]
    if enc_num is not None:
        direct.append(enc_num)
    stm_num = max(bodies) + 1
    xref_num = stm_num + 1

    header_parts = []
    payload_parts = []
    cur = 0
    packed_idx: Dict[int, int] = {}
    for idx, n in enumerate(packed):
        packed_idx[n] = idx
        header_parts.append(f"{n} {cur}")
        payload_parts.append(bodies[n])
        cur += len(bodies[n]) + 1  # single-space joiner below
    header = (" ".join(header_parts) + "\n").encode()
    raw_stm = header + b" ".join(payload_parts)
    first = len(header)
    data_stm = (
        b"\x00not-a-flate-stream\xff" * 4 if corrupt else zlib.compress(raw_stm)
    )
    stm_body = (
        f"<< /Type /ObjStm /N {len(packed)} /First {first} "
        f"/Filter /FlateDecode /Length {len(data_stm)} >>"
    ).encode()

    if enc_stream is not None and not corrupt:
        data_stm = enc_stream(stm_num, data_stm)
        stm_body = (
            f"<< /Type /ObjStm /N {len(packed)} /First {first} "
            f"/Filter /FlateDecode /Length {len(data_stm)} >>"
        ).encode()

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: Dict[int, int] = {}
    for num in direct:
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + bodies[num]
        if num in streams:
            out += b"\nstream\n" + streams[num] + b"\nendstream"
        out += b"\nendobj\n"
    offsets[stm_num] = len(out)
    out += f"{stm_num} 0 obj\n".encode() + stm_body
    out += b"\nstream\n" + data_stm + b"\nendstream\nendobj\n"

    xref_at = len(out)
    size = xref_num + 1
    rows = bytearray()
    for objnum in range(size):
        if objnum == 0:
            etype, f2, f3 = 0, 0, 65535
        elif objnum in offsets:
            etype, f2, f3 = 1, offsets[objnum], 0
        elif objnum == xref_num:
            etype, f2, f3 = 1, xref_at, 0
        elif objnum in packed_idx:
            etype, f2, f3 = 2, stm_num, packed_idx[objnum]
        else:
            etype, f2, f3 = 0, 0, 0
        rows += etype.to_bytes(1, "big") + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    rowlen = 1 + 4 + 2
    xdata = zlib.compress(_png_up_predict(bytes(rows), rowlen))
    out += f"{xref_num} 0 obj\n".encode()
    out += (
        f"<< /Type /XRef /Size {size} /W [1 4 2] /Root 1 0 R{xref_extra} "
        f"/Filter /FlateDecode "
        f"/DecodeParms << /Predictor 12 /Columns {rowlen} >> "
        f"/Length {len(xdata)} >>"
    ).encode()
    out += b"\nstream\n" + xdata + b"\nendstream\nendobj\n"
    out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    return bytes(out)
