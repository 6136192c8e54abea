"""Stdlib PDF text extraction: the one ``.pdf`` ingest path.

The reference reads PDFs through pdfminer's layout tree
(pdf_conversion/pdf_text_extractor.py:43-129): per page it classifies
top-level elements — objects with a ``stream`` become images keyed by
object id, ``LTText`` elements become lines (``get_text()`` keeps the
trailing newline), and containers recurse into their FIRST child only.
Every PDF is read by this module instead, with no pdfminer dependency. It
implements the subset of the PDF object model that covers the
overwhelmingly common machine-generated ebook case with nothing but
``re`` + ``zlib`` (plus ``cryptography`` for AES-encrypted files):

- classic cross-reference PDFs (objects scanned directly, so damaged
  xref tables still parse);
- PDF 1.5+ cross-reference STREAMS (``/Type /XRef``, FlateDecode + PNG
  predictors) and object streams (``/Type /ObjStm``): the xref chain is
  walked newest-first from ``startxref`` so incremental updates resolve
  to the live object version, and any ObjStm unreachable through a
  parseable xref is blind-parsed as a fill-in (damaged-file robustness,
  same spirit as the direct object scan);
- uncompressed, FlateDecode, LZWDecode, ASCIIHexDecode, ASCII85Decode
  and RunLengthDecode streams, with ``/DecodeParms`` PNG/TIFF
  predictors un-applied after the decompressing filters;
- text via BT/ET blocks: ``Tj``/``TJ``/``'``/``"`` show-text operators,
  line advances from ``Td``/``TD``/``T*``/``Tm``/``'``; inline images
  (``BI``/``ID``/``EI``) are skipped wholesale so their binary payloads
  never tokenize as text;
- per-font byte→text decoding selected by ``Tf``: simple ``/ToUnicode``
  CMaps (bfchar/bfrange, 1- and 2-byte codespaces), base encodings
  (``/WinAnsiEncoding`` → cp1252, ``/MacRomanEncoding``), and
  ``/Differences`` arrays through a common-glyph AGL subset; fonts
  without any of these decode as Latin-1 exactly as before;
- image XObjects referenced by ``Do``, emitted as ``("img", "", objid)``
  in content order — the media_ref matches pdfminer's ``stream.objid``;
- the reference's 25-page cap (pdf_text_extractor.py:63 ``maxpages=25``).

Line semantics: every flushed text line becomes one ``("line", text+"\\n",
"")`` span, matching ``LTTextLine.get_text()``. The reference's
first-child-only container recursion reduces to the identity here because
each extracted line is modeled as its own single-line box (the same shape
its golden-test PDFs produce, one text box per line).

Encrypted files: the Standard security handler decrypts when the EMPTY
user password opens the file — the common owner-restricted case — for
legacy RC4 (V 1-2 / R 2-3, 40-128 bit), AES-128 (V 4 / R 4, AESV2) and
AES-256 (V 5 / R 5-6, AESV3 with the ISO 32000-2 hardened hash). AES
runs through ``cryptography`` (imported only when a file is AES-encrypted;
its CBC helper is pinned to the FIPS-197 C.1/C.3 known-answer vectors);
RC4 is pure Python. Password-protected files quarantine.

Identity-H/V composite fonts WITHOUT a ToUnicode CMap decode their
2-byte CIDs via ``_identity_cid_decoder``: when the descendant's
/CIDSystemInfo marks the Adobe-Identity-UCS convention (Ordering
``UCS``/``UCS2``) the CID is the Unicode code point and text round-trips;
any other ordering yields one U+FFFD per CID — count- and
structure-preserving, explicitly lossy. Non-Identity predefined CJK
CMaps (GB-EUC, 90ms-RKSJ, B5pc, KSC-EUC, the Uni*-UCS2/UTF16 families,
…) decode via ``_predefined_cmap_decoder``: their code spaces are
national text encodings or UTF-16 itself, so stdlib codecs recover the
text without pdfminer's tabular cmap files (the table documents the
approximation boundary). Not handled: Identity-H fonts of unknown
ordering (the glyph mapping lives in the font program) and glyph
repositioning via ``Tm`` with rotation.
"""

from __future__ import annotations

import re
import zlib
from typing import Dict, List, Optional, Tuple

InSpan = Tuple[str, str, str, int]

_MAX_PAGES = 25  # reference: extract_pages(..., maxpages=25)

_WHITESPACE = b"\x00\t\n\x0c\r "
_DELIMS = b"()<>[]{}/%"


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int) -> None:
        self.num = num

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"_Ref({self.num})"


class _Name(str):
    """PDF name object (``/Foo`` → ``_Name('Foo')``)."""


def _skip_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n:
        c = data[i : i + 1]
        if c in (b"\x00", b"\t", b"\n", b"\x0c", b"\r", b" "):
            i += 1
        elif c == b"%":  # comment to end of line
            while i < n and data[i : i + 1] not in (b"\r", b"\n"):
                i += 1
        else:
            break
    return i


_NUM_RE = re.compile(rb"[+-]?\d*\.?\d+")
_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R\b")


def _parse_value(data: bytes, i: int):
    """Parse one PDF object value at ``i``; returns (value, next_index)."""
    i = _skip_ws(data, i)
    c = data[i : i + 1]
    if c == b"<":
        if data[i : i + 2] == b"<<":
            return _parse_dict(data, i)
        return _parse_hex_string(data, i)
    if c == b"(":
        return _parse_literal_string(data, i)
    if c == b"[":
        i += 1
        out: list = []
        while True:
            i = _skip_ws(data, i)
            if data[i : i + 1] == b"]":
                return out, i + 1
            v, i = _parse_value(data, i)
            out.append(v)
    if c == b"/":
        j = i + 1
        while j < len(data) and data[j : j + 1] not in _WHITESPACE and data[
            j : j + 1
        ] not in (b"(", b")", b"<", b">", b"[", b"]", b"{", b"}", b"/", b"%"):
            j += 1
        return _Name(data[i + 1 : j].decode("latin-1")), j
    if data[i : i + 4] == b"true":
        return True, i + 4
    if data[i : i + 5] == b"false":
        return False, i + 5
    if data[i : i + 4] == b"null":
        return None, i + 4
    m = _REF_RE.match(data, i)
    if m:
        return _Ref(int(m.group(1))), m.end()
    m = _NUM_RE.match(data, i)
    if m:
        text = m.group(0)
        return (float(text) if b"." in text else int(text)), m.end()
    raise ValueError(f"unparseable PDF value at offset {i}: {data[i:i+20]!r}")


def _parse_dict(data: bytes, i: int):
    assert data[i : i + 2] == b"<<"
    i += 2
    out: Dict[str, object] = {}
    while True:
        i = _skip_ws(data, i)
        if data[i : i + 2] == b">>":
            return out, i + 2
        key, i = _parse_value(data, i)
        val, i = _parse_value(data, i)
        out[str(key)] = val


_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\x0c",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _parse_literal_string(data: bytes, i: int):
    assert data[i : i + 1] == b"("
    i += 1
    depth = 1
    out = bytearray()
    n = len(data)
    while i < n:
        c = data[i : i + 1]
        if c == b"\\":
            nxt = data[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
            elif nxt.isdigit():  # octal \ooo (1-3 digits)
                j = i + 1
                digits = b""
                while j < n and len(digits) < 3 and data[j : j + 1].isdigit():
                    digits += data[j : j + 1]
                    j += 1
                out.append(int(digits, 8) & 0xFF)
                i = j
            elif nxt in (b"\r", b"\n"):  # line continuation
                i += 2
                if nxt == b"\r" and data[i : i + 1] == b"\n":
                    i += 1
            else:
                out += nxt
                i += 2
            continue
        if c == b"(":
            depth += 1
        elif c == b")":
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
        out += c
        i += 1
    raise ValueError("unterminated PDF string")


def _parse_hex_string(data: bytes, i: int):
    end = data.index(b">", i + 1)
    hexdigits = re.sub(rb"[^0-9A-Fa-f]", b"", data[i + 1 : end])
    if len(hexdigits) % 2:
        hexdigits += b"0"
    return bytes.fromhex(hexdigits.decode("ascii")), end + 1


def _ascii_hex_decode(data: bytes) -> bytes:
    end = data.find(b">")
    if end != -1:
        data = data[:end]
    hexdigits = re.sub(rb"[^0-9A-Fa-f]", b"", data)
    if len(hexdigits) % 2:
        hexdigits += b"0"
    return bytes.fromhex(hexdigits.decode("ascii"))


def _ascii85_decode(data: bytes) -> bytes:
    import base64

    data = re.sub(rb"\s", b"", data)
    if data.endswith(b"~>"):
        data = data[:-2]
    if data.startswith(b"<~"):
        data = data[2:]
    try:
        return base64.a85decode(data, adobe=False)
    except ValueError as e:
        raise ValueError(f"ASCII85Decode failed: {e}") from e


def _run_length_decode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:  # EOD
            break
        if length < 128:
            out += data[i : i + length + 1]
            i += length + 1
        else:
            out += data[i : i + 1] * (257 - length)
            i += 1
    return bytes(out)


def _lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """PDF/TIFF LZW: variable 9-12 bit codes, 256=clear, 257=EOD.

    ``early_change`` (DecodeParms /EarlyChange, default 1) widens the
    code size one code EARLY — the spec default and what every producer
    emits."""
    out = bytearray()
    table: List[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: Optional[bytes] = None
    width = 9
    buf = 0
    nbits = 0
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (buf >> nbits) & ((1 << width) - 1)
            if code == 256:  # clear table
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError(f"LZW: bad first code {code}")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"LZW: code {code} beyond table")
            out += entry
            prev = entry
            if len(table) >= (1 << width) - early_change and width < 12:
                width += 1
    return bytes(out)


def _unpredict(data: bytes, predictor: int, columns: int, colors: int = 1,
               bpc: int = 8) -> bytes:
    """Reverse a /DecodeParms predictor (xref streams are almost always
    FlateDecode + PNG Up). Predictor 2 is the TIFF horizontal delta;
    10-15 are the PNG row filters (the per-row filter byte decides the
    actual filter, so all five are implemented)."""
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    if predictor == 2:
        if bpc != 8:
            raise ValueError(f"TIFF predictor with bpc={bpc} unsupported")
        out = bytearray(data)
        for r in range(0, len(out) - rowlen + 1, rowlen):
            for j in range(r + bpp, r + rowlen):
                out[j] = (out[j] + out[j - bpp]) & 0xFF
        return bytes(out)
    if predictor < 10:
        return data
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    n = len(data)
    while i < n:
        ft = data[i]
        i += 1
        row = bytearray(data[i : i + rowlen])
        i += rowlen
        if ft == 1:  # Sub
            for j in range(bpp, len(row)):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(len(row)):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(len(row)):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(len(row)):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[j] = (row[j] + pr) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG filter byte {ft}")
        out += row
        prev = row
    return bytes(out)


#: The standard-security-handler password pad (PDF 32000-1 §7.6.3.3).
_PDF_PAD = bytes.fromhex(
    "28BF4E5E4E758A4164004E56FFFA01082E2E00B6D0683E802F0CA9FE6453697A"
)


def _rc4(key: bytes, data: bytes) -> bytes:
    """RC4, 256-entry KSA + PRGA straight from the spec. Used ONLY to read
    legacy encrypted PDFs. Pure Python (~0.2 µs/byte) because
    ``cryptography``'s ARC4 sits in ``hazmat.decrepit`` and needs OpenSSL's
    legacy provider, which deployments can switch off."""
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


def _aes_cbc(key: bytes, iv: bytes, data: bytes, *, decrypt: bool) -> bytes:
    """AES-CBC without padding, 128- or 256-bit key: the reader's one AES
    provider. ``cryptography`` is imported here so unencrypted PDFs need
    nothing beyond the stdlib. A bad key size or ragged data raises
    ``ValueError``, which ingest maps to ``PDFConversionError``. So does a
    missing ``cryptography`` package: on an executor without it, an
    AES-encrypted file is that file's conversion error."""
    import importlib.util

    if importlib.util.find_spec("cryptography") is None:
        raise ValueError("AES-encrypted PDF needs the cryptography package")
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    cipher = Cipher(algorithms.AES(key), modes.CBC(iv))
    ctx = cipher.decryptor() if decrypt else cipher.encryptor()
    return ctx.update(data) + ctx.finalize()


def _aes_stream_decrypt(key: bytes, data: bytes) -> bytes:
    """AESV2/AESV3 stream layout (§7.6.2): 16-byte IV prefix, CBC body,
    PKCS#7 padding. Returns b'' for malformed (short / ragged) input or a
    last byte outside 1..16 — that one object then reads as empty instead
    of quarantining the file. Only the last pad byte is checked."""
    if len(data) < 32 or len(data) % 16:
        return b""
    out = _aes_cbc(key, data[:16], data[16:], decrypt=True)
    pad = out[-1]
    if not 1 <= pad <= 16:
        return b""
    return out[:-pad]


def _hash_2b(pwd: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 algorithm 2.B hardened hash (R6): iterated
    SHA-256/384/512 selected by an AES-128-CBC mix. At least 64 rounds,
    terminating when the mix's last byte <= round − 32. (The spec's
    "first 16 bytes of E as a big-endian integer mod 3" equals the byte
    SUM mod 3 because 256 ≡ 1 (mod 3).)"""
    import hashlib

    k = hashlib.sha256(pwd + salt + udata).digest()
    rnd = 0
    while True:
        k1 = (pwd + k + udata) * 64
        e = _aes_cbc(k[:16], k[16:32], k1, decrypt=False)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[sum(e[:16]) % 3](
            e
        ).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


def _std_empty_password_scheme(enc: dict, doc_id: bytes):
    """(file key, stream cipher) for the Standard security handler when
    the EMPTY user password opens the file — the overwhelmingly common
    case on real shelves (owner-restricted PDFs that any viewer opens
    without prompting). Returns ``(key, "rc4"|"aesv2"|"aesv3")``, or
    ``None`` when the handler/revision is unsupported (exotic crypt
    filters) or a real user password is required — the caller
    quarantines.

    Supported: V ∈ {1,2} / R ∈ {2,3} (RC4 40–128 bit) and V 4 / R 4 with
    the AESV2 crypt filter applied to streams (EncryptMetadata default),
    via algorithms 2 (key derivation) and 4/5 (U verification) of PDF
    32000-1 §7.6.3; and V 5 / R 5-6 with the AESV3 filter, whose file key
    unwraps from /UE (ISO 32000-2 algorithms 2.A/2.B).
    """
    import hashlib

    if str(enc.get("Filter")) != "Standard":
        return None
    v = enc.get("V", 0)
    r = enc.get("R", 0)
    method = None
    if v == 5 and r in (5, 6):
        # AES-256: /U = hash(32) || validation salt(8) || key salt(8);
        # the file key unwraps from /UE with the intermediate key. R5 is
        # Adobe's interim plain-SHA-256 derivation, R6 the ISO hardened
        # hash (2.A/2.B). No per-object keys under AESV3.
        cf = enc.get("CF")
        stdcf = cf.get("StdCF") if isinstance(cf, dict) else None
        cfm = str(stdcf.get("CFM")) if isinstance(stdcf, dict) else ""
        if cfm != "AESV3" or str(enc.get("StmF", "Identity")) != "StdCF":
            return None
        u = enc.get("U")
        ue = enc.get("UE")
        if not isinstance(u, bytes) or len(u) < 48 or not isinstance(ue, bytes):
            return None
        vsalt, ksalt = u[32:40], u[40:48]
        if r == 6:
            check = _hash_2b(b"", vsalt)
            ikey = _hash_2b(b"", ksalt)
        else:
            check = hashlib.sha256(vsalt).digest()
            ikey = hashlib.sha256(ksalt).digest()
        if check != u[:32]:
            return None  # a real user password is required
        file_key = _aes_cbc(ikey, bytes(16), ue[:32], decrypt=True)
        return (file_key, "aesv3")
    if v in (1, 2) and r in (2, 3):
        method = "rc4"
        length = int(enc.get("Length", 40)) // 8 if v == 2 else 5
    elif v == 4 and r == 4:
        # Only the vanilla AESV2 shape: /StmF /StdCF with /CFM /AESV2.
        cf = enc.get("CF")
        stdcf = cf.get("StdCF") if isinstance(cf, dict) else None
        cfm = str(stdcf.get("CFM")) if isinstance(stdcf, dict) else ""
        stmf = str(enc.get("StmF", "Identity"))
        if cfm != "AESV2" or stmf != "StdCF":
            return None
        if enc.get("EncryptMetadata") is False:
            return None  # would append ffffffff to the hash; rare — quarantine
        method = "aesv2"
        length = 16
    else:
        return None
    o = enc.get("O")
    u = enc.get("U")
    p = enc.get("P")
    if not isinstance(o, bytes) or not isinstance(u, bytes) or not isinstance(p, int):
        return None
    if not 5 <= length <= 16:
        return None
    digest = hashlib.md5(
        _PDF_PAD + o[:32] + (p & 0xFFFFFFFF).to_bytes(4, "little") + doc_id
    ).digest()
    key = digest[:length]
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:length]).digest()[:length]
    if r == 2:
        ok = _rc4(key, _PDF_PAD) == u[:32]
    else:
        x = _rc4(key, hashlib.md5(_PDF_PAD + doc_id).digest())
        for i in range(1, 20):
            x = _rc4(bytes(b ^ i for b in key), x)
        ok = x == u[:16]
    return (key, method) if ok else None


def _object_key(file_key: bytes, num: int, gen: int = 0, *, aes: bool = False) -> bytes:
    """Per-object key (§7.6.2 algorithm 1): md5(file key + 3 low-order
    object-number bytes + 2 generation bytes [+ the AES salt "sAlT"]),
    truncated to min(len+5, 16)."""
    import hashlib

    extra = b"sAlT" if aes else b""
    digest = hashlib.md5(
        file_key + num.to_bytes(3, "little") + gen.to_bytes(2, "little") + extra
    ).digest()
    return digest[: min(len(file_key) + 5, 16)]


_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")


class _PdfFile:
    """Minimal indirect-object store scanned straight off the raw bytes."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.objects: Dict[int, Tuple[dict, Optional[bytes]]] = {}
        #: byte offset just past each object's `obj` keyword, recorded by
        #: the stream-skipping scan (so scalar re-parses cannot be
        #: shadowed by fake "N G obj" bytes inside stream bodies)
        self._offsets: Dict[int, int] = {}
        #: byte offset of each object's "N G obj" header — lets the xref
        #: chain map a startxref/Prev file offset back to the object the
        #: scan already parsed there
        self._starts: Dict[int, int] = {}
        #: non-dict objects recovered from object streams (dicts go
        #: straight into ``objects``; ObjStm members never carry streams)
        self._scalars: Dict[int, object] = {}
        #: per-font-object decoder cache (bytes -> str), built lazily
        self._font_decoders: Dict[int, object] = {}
        self._scan()
        self._setup_decryption()
        # objnum -> (objstm_num, index_in_stream) per the xref stream
        # chain; authoritative for which ObjStm copy of an object is live
        self._xref_in_objstm: Dict[int, Tuple[int, int]] = {}
        self._load_xref_chain()
        self._load_object_streams()

    def _setup_decryption(self) -> None:
        """Decrypt RC4, AESV2 and AESV3 standard-handler files that open
        with the EMPTY user password (the common owner-restricted case);
        quarantine everything else encrypted instead of extracting
        ciphertext as mojibake. /Encrypt lives in the trailer dict (classic) or the
        xref stream dict (1.5+); both are parsed — a bare substring grep
        would false-positive on content.

        When the key verifies, every object's stream is decrypted in
        place BEFORE the xref chain / ObjStm pass, with two spec'd
        exceptions: cross-reference streams are never encrypted, and the
        /Encrypt dictionary's own object is skipped. Strings inside
        object streams are covered by decrypting the ObjStm stream
        itself; top-level dict strings stay undecrypted — the extractor
        never consumes one (document metadata arrives via the input
        table). Generation numbers are assumed 0 (the object scan keys
        on number; nonzero-gen encrypted files are vanishingly rare and
        would quarantine downstream as parse failures, not extract
        garbage silently).
        """
        trailers: list = []
        for m in re.finditer(rb"trailer\b", self.data):
            try:
                d, _ = _parse_value(self.data, m.end())
            except (ValueError, IndexError):
                continue
            if isinstance(d, dict):
                trailers.append(d)
        for _num, (body, _s) in self.objects.items():
            if str(body.get("Type")) == "XRef":
                trailers.append(body)
        enc_dicts = [d for d in trailers if "Encrypt" in d]
        if not enc_dicts:
            return
        enc_ref = enc_dicts[0]["Encrypt"]
        enc_num = enc_ref.num if isinstance(enc_ref, _Ref) else None
        enc = self.resolve(enc_ref)
        doc_id = b""
        for d in enc_dicts + trailers:
            fid = d.get("ID")
            if isinstance(fid, list) and fid and isinstance(fid[0], bytes):
                doc_id = fid[0]
                break
        scheme = (
            _std_empty_password_scheme(enc, doc_id) if isinstance(enc, dict) else None
        )
        if scheme is None:
            raise ValueError(
                "encrypted PDF (unsupported handler or password required)"
            )
        key, method = scheme
        for num, (body, stream) in self.objects.items():
            if stream is None or num == enc_num:
                continue
            if str(body.get("Type")) == "XRef":
                continue
            if method == "aesv3":  # AES-256: the file key is used directly
                plain = _aes_stream_decrypt(key, stream)
            elif method == "aesv2":
                plain = _aes_stream_decrypt(_object_key(key, num, aes=True), stream)
            else:
                plain = _rc4(_object_key(key, num), stream)
            self.objects[num] = (body, plain)

    def _scan(self) -> None:
        # Manual cursor, NOT finditer over the whole file: stream bodies
        # are effectively random bytes (FlateDecode), so "N G obj"
        # sequences inside them would clobber real objects. After parsing
        # an object's stream the cursor jumps past it before searching on.
        pos = 0
        while True:
            m = _OBJ_RE.search(self.data, pos)
            if m is None:
                break
            num = int(m.group(1))
            self._offsets[num] = m.end()
            self._starts[num] = m.start()
            i = _skip_ws(self.data, m.end())
            body: dict = {}
            stream: Optional[bytes] = None
            if self.data[i : i + 2] == b"<<":
                body, i = _parse_dict(self.data, i)
                i = _skip_ws(self.data, i)
                if self.data[i : i + 6] == b"stream":
                    i += 6
                    if self.data[i : i + 2] == b"\r\n":
                        i += 2
                    elif self.data[i : i + 1] == b"\n":
                        i += 1
                    length = self.resolve(body.get("Length"))
                    if isinstance(length, int):
                        # Trust Length only if `endstream` actually follows:
                        # an overstated Length would jump the cursor past
                        # (and silently drop) later real objects.
                        j = _skip_ws(self.data, i + length)
                        if self.data[j : j + 9] != b"endstream":
                            length = None
                    if isinstance(length, int):
                        stream = self.data[i : i + length]
                        i += length
                    else:  # damaged/absent Length: fall back to scanning
                        end = self.data.find(b"endstream", i)
                        if end == -1:
                            end = len(self.data)
                        stream = self.data[i:end].rstrip(b"\r\n")
                        i = end
            self.objects[num] = (body, stream)
            pos = max(i, m.end())

    # -- PDF 1.5+ cross-reference streams & object streams ------------------

    def _load_xref_chain(self) -> None:
        """Walk xref STREAMS newest-first (startxref, then /Prev links);
        the first entry seen for an object number wins, so incremental
        updates resolve to the live version. Classic ``xref`` tables are
        skipped — the direct scan already covers offset-addressed objects.
        Any parse damage abandons the chain (never the file): the blind
        ObjStm fill-in below still recovers packed objects."""
        starts_to_num = {v: k for k, v in self._starts.items()}
        offset = None
        m = None
        for m in _STARTXREF_RE.finditer(self.data):
            pass  # keep the LAST startxref (newest incremental update)
        if m is not None:
            offset = int(m.group(1))
        seen_sections: set = set()
        # every objnum with ANY entry already recorded by a NEWER section
        # (walk order is newest-first): a type-1 (direct) or type-0 (free)
        # entry in an update must shadow an older section's type-2 entry,
        # otherwise a superseded ObjStm copy would overwrite the live
        # directly-scanned object in _load_object_streams.
        seen_objs: set = set()
        while offset is not None and offset not in seen_sections:
            seen_sections.add(offset)
            num = starts_to_num.get(offset)
            if num is None:
                return  # classic xref table or damaged offset
            body, stream = self.objects.get(num, ({}, None))
            if str(body.get("Type")) != "XRef" or stream is None:
                return
            try:
                raw = self.decoded_stream(num)
                widths = [int(w) for w in body.get("W")]
                size = int(body.get("Size"))
                index = body.get("Index") or [0, size]
                entry_len = sum(widths)
                pos = 0
                for s in range(0, len(index) - 1, 2):
                    first, count = int(index[s]), int(index[s + 1])
                    for objnum in range(first, first + count):
                        if pos + entry_len > len(raw):
                            raise ValueError("xref stream truncated")
                        fields = []
                        for w in widths:
                            fields.append(
                                int.from_bytes(raw[pos : pos + w], "big") if w else None
                            )
                            pos += w
                        # a zero-width first field defaults to type 1
                        etype = 1 if fields[0] is None else fields[0]
                        if objnum in seen_objs:
                            continue
                        seen_objs.add(objnum)
                        if etype == 2:
                            self._xref_in_objstm[objnum] = (fields[1], fields[2] or 0)
            except (TypeError, ValueError, KeyError, IndexError):
                return
            prev = body.get("Prev")
            offset = int(prev) if isinstance(prev, (int, float)) else None

    def _load_object_streams(self) -> None:
        """Unpack ``/Type /ObjStm`` members. An object the xref chain maps
        into a stream OVERWRITES any stale directly-scanned copy (the xref
        is authoritative for which version is live); objects with no xref
        verdict only fill in numbers the scan never saw, so a damaged or
        absent xref degrades to best-effort recovery rather than to the
        quarantine the round-2 reader produced for every ObjStm-packed
        file. A corrupt ObjStm is skipped — if it held the page tree the
        file still fails with "no PDF pages found" (→ quarantine)."""
        for stm_num in sorted(self.objects):
            body, stream = self.objects[stm_num]
            if str(body.get("Type")) != "ObjStm" or stream is None:
                continue
            try:
                raw = self.decoded_stream(stm_num)
                n = int(self.resolve(body.get("N")))
                first = int(self.resolve(body.get("First")))
                header = raw[:first].split()
                if len(header) < 2 * n:
                    raise ValueError("ObjStm header truncated")
                for idx in range(n):
                    objnum = int(header[2 * idx])
                    off = int(header[2 * idx + 1])
                    directed = self._xref_in_objstm.get(objnum)
                    if directed is not None and directed != (stm_num, idx):
                        continue  # live version lives elsewhere
                    if directed is None and (
                        objnum in self.objects or objnum in self._scalars
                    ):
                        continue  # blind fill-in never clobbers
                    value, _ = _parse_value(raw, first + off)
                    if isinstance(value, dict):
                        self.objects[objnum] = (value, None)
                        self._scalars.pop(objnum, None)
                    else:
                        self._scalars[objnum] = value
                        # drop a stale direct copy so resolve() sees the
                        # live scalar, not the superseded dict
                        if directed is not None:
                            self.objects.pop(objnum, None)
            except (TypeError, ValueError, KeyError, IndexError):
                continue

    def resolve(self, value):
        seen = set()
        while isinstance(value, _Ref):
            if value.num in seen:
                return None
            seen.add(value.num)
            if value.num not in self.objects:
                if value.num in self._scalars:  # ObjStm-only scalar object
                    value = self._scalars[value.num]
                    continue
                return None
            body, stream = self.objects[value.num]
            if stream is not None:
                return (body, stream)
            if body:
                return body
            if value.num in self._scalars:  # recovered from an ObjStm
                value = self._scalars[value.num]
                continue
            # Bare scalar object (e.g. an indirect /Length): re-parse the
            # raw bytes, since _scan only captures dict bodies.
            value = self._parse_scalar(value.num)
        return value

    def resolve_body(self, value):
        """``resolve``, with a stream object read as its dict alone."""
        value = self.resolve(value)
        return value[0] if isinstance(value, tuple) else value

    def _parse_scalar(self, num: int):
        # Offsets come from the stream-skipping scan — a raw finditer here
        # could match fake "N G obj" bytes inside an earlier stream body
        # and shadow the real object. A FORWARD indirect /Length (object
        # scanned later than its use) misses and falls back to the
        # endstream scan in _scan, which is the damaged-Length path.
        pos = self._offsets.get(num)
        if pos is None:
            return None
        v, _ = _parse_value(self.data, pos)
        return v

    def decoded_stream(self, num: int) -> bytes:
        body, stream = self.objects.get(num, ({}, None))
        if stream is None:
            return b""
        filt = body.get("Filter")
        filters = [filt] if not isinstance(filt, list) else filt
        parms = body.get("DecodeParms", body.get("DP"))
        parms_list = [parms] if not isinstance(parms, list) else parms
        out = stream
        for fi, f in enumerate(filters):
            if f is None:
                continue
            p = self.resolve_body(parms_list[fi]) if fi < len(parms_list) else None
            if not isinstance(p, dict):
                p = {}
            name = str(f)
            if name == "FlateDecode":
                try:
                    out = zlib.decompress(out)
                except zlib.error as e:  # corrupt stream → parse error
                    raise ValueError(f"FlateDecode failed: {e}") from e
            elif name == "LZWDecode":
                early = self.resolve(p.get("EarlyChange"))
                out = _lzw_decode(
                    out, int(early) if isinstance(early, (int, float)) else 1
                )
            elif name == "ASCIIHexDecode":
                out = _ascii_hex_decode(out)
            elif name == "ASCII85Decode":
                out = _ascii85_decode(out)
            elif name == "RunLengthDecode":
                out = _run_length_decode(out)
            else:  # unsupported filter (DCT etc.) — not a text stream
                return b""
            if name in ("FlateDecode", "LZWDecode"):
                predictor = self.resolve(p.get("Predictor")) or 1
                if isinstance(predictor, (int, float)) and predictor > 1:
                    out = _unpredict(
                        out,
                        int(predictor),
                        int(self.resolve(p.get("Columns")) or 1),
                        int(self.resolve(p.get("Colors")) or 1),
                        int(self.resolve(p.get("BitsPerComponent")) or 8),
                    )
        return out

    # -- page tree ---------------------------------------------------------

    def page_numbers(self) -> List[int]:
        """Page object numbers in tree order (fallback: numeric order)."""
        root_pages = None
        for num, (body, _s) in self.objects.items():
            if str(body.get("Type")) == "Catalog":
                root_pages = body.get("Pages")
                break
        ordered: List[int] = []
        visited: set = set()  # corrupt Kids graphs can cycle

        def walk(ref) -> None:
            if not isinstance(ref, _Ref) or ref.num not in self.objects:
                return
            if ref.num in visited:
                return
            visited.add(ref.num)
            body, _s = self.objects[ref.num]
            t = str(body.get("Type"))
            if t == "Pages":
                for kid in body.get("Kids") or []:
                    walk(kid)
            elif t == "Page":
                ordered.append(ref.num)

        walk(root_pages)
        if ordered:
            return ordered
        return sorted(
            num for num, (body, _s) in self.objects.items()
            if str(body.get("Type")) == "Page"
        )


# -- per-font byte -> text decoding ----------------------------------------

#: base encoding name -> Python codec. StandardEncoding differs from
#: Latin-1 only in rarely-shown slots; it keeps the Latin-1 default.
_BASE_ENCODINGS = {"WinAnsiEncoding": "cp1252", "MacRomanEncoding": "mac_roman"}

#: common-glyph subset of the Adobe Glyph List: ASCII names plus the
#: punctuation/ligature/accent glyphs machine-generated ebooks actually
#: put in /Differences arrays. uniXXXX / uXXXXXX names parse directly.
_GLYPHS: Dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "ellipsis": "…",
    "bullet": "•", "dagger": "†", "daggerdbl": "‡",
    "fi": "ﬁ", "fl": "ﬂ", "oe": "œ", "OE": "Œ",
    "ae": "æ", "AE": "Æ", "guillemotleft": "«",
    "guillemotright": "»", "guilsinglleft": "‹",
    "guilsinglright": "›", "copyright": "©",
    "registered": "®", "trademark": "™", "degree": "°",
    "minus": "−", "multiply": "×", "divide": "÷",
    "eacute": "é", "egrave": "è", "ecircumflex": "ê",
    "agrave": "à", "acircumflex": "â", "ccedilla": "ç",
    "ntilde": "ñ", "adieresis": "ä", "odieresis": "ö",
    "udieresis": "ü", "Adieresis": "Ä", "Odieresis": "Ö",
    "Udieresis": "Ü", "germandbls": "ß", "aring": "å",
    "oslash": "ø", "Aring": "Å", "Oslash": "Ø",
    "sterling": "£", "yen": "¥", "Euro": "€",
    "cent": "¢", "section": "§", "paragraph": "¶",
    "exclamdown": "¡", "questiondown": "¿",
}
for _ch in "0123456789":
    _GLYPHS[
        ("zero one two three four five six seven eight nine".split())[int(_ch)]
    ] = _ch
for _ch in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ":
    _GLYPHS[_ch] = _ch

_UNI_GLYPH_RE = re.compile(r"uni([0-9A-Fa-f]{4})$|u([0-9A-Fa-f]{4,6})$")


def _glyph_to_char(name: str) -> Optional[str]:
    if name in _GLYPHS:
        return _GLYPHS[name]
    m = _UNI_GLYPH_RE.match(name)
    if m:
        return chr(int(m.group(1) or m.group(2), 16))
    return None


def _byte_table(codec: Optional[str]) -> List[str]:
    """256-entry byte->char table; codec-undefined bytes keep their
    Latin-1 identity so damaged text degrades instead of raising."""
    table = []
    for i in range(256):
        if codec is None:
            table.append(chr(i))
            continue
        try:
            table.append(bytes([i]).decode(codec))
        except UnicodeDecodeError:
            table.append(chr(i))
    return table


_CMAP_HEX_PAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_CMAP_SECTION_RE = re.compile(
    rb"begin(codespacerange|bfchar|bfrange)(.*?)end\1", re.DOTALL
)
_CMAP_HEX_RE = re.compile(rb"<([0-9A-Fa-f]+)>|\[|\]")


def _utf16be(hexdigits: bytes) -> str:
    raw = bytes.fromhex(hexdigits.decode("ascii"))
    if len(raw) % 2:
        raw += b"\x00"
    return raw.decode("utf-16-be", errors="replace")


def _cmap_decoder(data: bytes):
    """Build a bytes->str decoder from a simple /ToUnicode CMap
    (codespacerange + bfchar + bfrange, the shape every mainstream PDF
    producer emits). Returns None when the CMap yields no mappings."""
    lengths: set = set()
    mapping: Dict[Tuple[int, int], str] = {}
    for m in _CMAP_SECTION_RE.finditer(data):
        section, body = m.group(1), m.group(2)
        if section == b"codespacerange":
            for pm in _CMAP_HEX_PAIR_RE.finditer(body):
                lengths.add(len(pm.group(1)) // 2)
        elif section == b"bfchar":
            for pm in _CMAP_HEX_PAIR_RE.finditer(body):
                src = pm.group(1)
                code_len = len(src) // 2
                lengths.add(code_len)
                mapping[(code_len, int(src, 16))] = _utf16be(pm.group(2))
        else:  # bfrange: <lo> <hi> <dst>  |  <lo> <hi> [<d0> <d1> ...]
            tokens = _CMAP_HEX_RE.findall(body)
            i = 0
            while i + 2 <= len(tokens) - 1:
                lo_h, hi_h = tokens[i], tokens[i + 1]
                if not lo_h or not hi_h:  # stray bracket — resync
                    i += 1
                    continue
                code_len = len(lo_h) // 2
                lengths.add(code_len)
                lo, hi = int(lo_h, 16), int(hi_h, 16)
                if not tokens[i + 2]:  # '[' form: per-code dst list
                    j = i + 3
                    code = lo
                    while j < len(tokens) and tokens[j]:
                        mapping[(code_len, code)] = _utf16be(tokens[j])
                        code += 1
                        j += 1
                    i = j + 1  # past ']'
                else:
                    base = int(tokens[i + 2], 16)
                    width = max(2, len(tokens[i + 2]) // 2)
                    for k in range(min(hi - lo, 0xFFFF) + 1):
                        value = base + k
                        nbytes = max(width, (value.bit_length() + 7) // 8)
                        raw = value.to_bytes(nbytes, "big")
                        if len(raw) % 2:  # keep UTF-16BE alignment
                            raw = b"\x00" + raw
                        mapping[(code_len, lo + k)] = raw.decode(
                            "utf-16-be", errors="replace"
                        )
                    i += 3
    if not mapping:
        return None
    lens_desc = sorted(lengths or {1}, reverse=True)
    min_len = lens_desc[-1]

    def decode(bs: bytes) -> str:
        out: List[str] = []
        i, n = 0, len(bs)
        while i < n:
            for length in lens_desc:
                if i + length <= n:
                    hit = mapping.get((length, int.from_bytes(bs[i : i + length], "big")))
                    if hit is not None:
                        out.append(hit)
                        i += length
                        break
            else:
                if min_len == 1:  # unmapped 1-byte code: Latin-1 fallback
                    out.append(chr(bs[i]))
                i += min_len  # multi-byte codespace: skip the code silently
        return "".join(out)

    return decode


#: Predefined CJK CMap base name (the /Encoding name minus its -H/-V
#: writing-mode suffix) → stdlib codec for the CODE bytes. For TEXT
#: extraction the code→CID→glyph chain collapses: each of these CMaps'
#: code space IS a national text encoding (EUC-CN/GBK/GB18030, Big5,
#: Shift-JIS/EUC-JP, EUC-KR/UHC) or UCS-2/UTF-16 itself, so decoding
#: the raw show-string bytes with the matching codec yields the text
#: pdfminer recovers through its tabular cmap files — exact wherever
#: Unicode round-trips the national standard (the overwhelmingly common
#: case); the Apple-variant (*pc/*pv) glyph deviations are approximated
#: by the national codec. Names are from the PDF 32000-1:2008 §9.7.5.2
#: predefined-CMap table (public spec).
_PREDEFINED_CMAP_CODECS = {
    # Adobe-GB1 (Simplified Chinese)
    "GB-EUC": "gb2312",
    "GBpc-EUC": "gb2312",
    "GBK-EUC": "gbk",
    "GBKp-EUC": "gbk",
    "GBK2K": "gb18030",
    "UniGB-UCS2": "utf_16_be",
    "UniGB-UTF16": "utf_16_be",
    # Adobe-CNS1 (Traditional Chinese)
    "B5": "big5",
    "B5pc": "big5",
    "ETen-B5": "cp950",
    "ETenms-B5": "cp950",
    "UniCNS-UCS2": "utf_16_be",
    "UniCNS-UTF16": "utf_16_be",
    # Adobe-Japan1
    "EUC": "euc_jp",
    "90ms-RKSJ": "cp932",
    "90msp-RKSJ": "cp932",
    "90pv-RKSJ": "cp932",
    "83pv-RKSJ": "cp932",
    "Add-RKSJ": "cp932",
    "Ext-RKSJ": "cp932",
    "UniJIS-UCS2": "utf_16_be",
    "UniJIS-UCS2-HW": "utf_16_be",
    "UniJIS-UTF16": "utf_16_be",
    "UniJIS2004-UTF16": "utf_16_be",
    # Adobe-Korea1 / Adobe-KR
    "KSC-EUC": "euc_kr",
    "KSCpc-EUC": "euc_kr",
    "KSCms-UHC": "cp949",
    "KSCms-UHC-HW": "cp949",
    "UniKS-UCS2": "utf_16_be",
    "UniKS-UTF16": "utf_16_be",
    "UniAKR-UTF16": "utf_16_be",
}


def _predefined_cmap_decoder(name: str):
    """Text decoder for a predefined CJK CMap /Encoding name, or None if
    the name is not a known predefined CMap (``_PREDEFINED_CMAP_CODECS``
    documents the mapping rationale). Undecodable sequences become
    U+FFFD — the same replacement contract as ``_identity_cid_decoder``,
    preserving character count and structure instead of mojibake."""
    base = name[:-2] if name.endswith(("-H", "-V")) else name
    codec = _PREDEFINED_CMAP_CODECS.get(base)
    if codec is None:
        return None
    return lambda bs: bs.decode(codec, errors="replace")


def _identity_cid_decoder(ucs: bool):
    """2-byte big-endian CID stream decoder for Identity-H/V fonts with
    no ToUnicode. ``ucs=True`` (descendant /CIDSystemInfo has Ordering
    ``UCS``/``UCS2``, the Adobe-Identity-UCS convention some producers
    mark when CID == Unicode code point) maps each CID to its BMP code
    point; otherwise every CID becomes U+FFFD — the documented
    replacement behavior that preserves character count and line
    structure instead of emitting Latin-1 mojibake from the code bytes
    (the font program's glyph mapping stays out of scope; pdfminer with
    its predefined CJK CMaps remains the full-fidelity path)."""

    def decode(bs: bytes) -> str:
        out: List[str] = []
        for i in range(0, len(bs) - 1, 2):
            cid = (bs[i] << 8) | bs[i + 1]
            if ucs and cid and not 0xD800 <= cid <= 0xDFFF:
                out.append(chr(cid))
            else:
                out.append("�")
        if len(bs) % 2:
            out.append("�")
        return "".join(out)

    return decode


def _cid_ordering(pdf: "_PdfFile", font: dict) -> str:
    """The descendant CIDFont's /CIDSystemInfo /Ordering string (empty
    when absent/malformed)."""
    try:
        desc = font.get("DescendantFonts")
        if isinstance(desc, _Ref):
            desc = pdf.resolve_body(desc)
        if isinstance(desc, list) and desc:
            desc = desc[0]
        if isinstance(desc, _Ref):
            desc = pdf.resolve_body(desc)
        if not isinstance(desc, dict):
            return ""
        info = desc.get("CIDSystemInfo")
        if isinstance(info, _Ref):
            info = pdf.resolve_body(info)
        if isinstance(info, dict):
            ordering = info.get("Ordering")
            if isinstance(ordering, bytes):
                return ordering.decode("latin-1")
            if isinstance(ordering, str):
                return str(ordering)
    except Exception:
        pass
    return ""


def _font_decoder(pdf: "_PdfFile", font: dict):
    """Decoder for one font dict: ToUnicode CMap first (authoritative),
    then Identity-H/V CID handling for Type0 fonts (see
    ``_identity_cid_decoder``), then /Encoding (base name or dict with
    /Differences); None means "decode as Latin-1" — the pre-round-3
    behavior and the identity for unadorned simple fonts."""
    tu = font.get("ToUnicode")
    if isinstance(tu, _Ref):
        try:
            dec = _cmap_decoder(pdf.decoded_stream(tu.num))
        except ValueError:
            dec = None
        if dec is not None:
            return dec
    enc = font.get("Encoding")
    if isinstance(enc, _Ref):
        enc = pdf.resolve_body(enc)
    if isinstance(enc, _Name) and str(enc) in ("Identity-H", "Identity-V"):
        return _identity_cid_decoder(
            _cid_ordering(pdf, font).upper() in ("UCS", "UCS2")
        )
    if isinstance(enc, _Name):
        cjk = _predefined_cmap_decoder(str(enc))
        if cjk is not None:
            return cjk
    table: Optional[List[str]] = None
    if isinstance(enc, _Name):
        codec = _BASE_ENCODINGS.get(str(enc))
        if codec:
            table = _byte_table(codec)
    elif isinstance(enc, dict):
        base = enc.get("BaseEncoding")
        table = _byte_table(_BASE_ENCODINGS.get(str(base)) if base else None)
        code = 0
        for item in enc.get("Differences") or []:
            if isinstance(item, (int, float)):
                code = int(item)
            else:
                ch = _glyph_to_char(str(item))
                if ch is not None and 0 <= code < 256:
                    table[code] = ch
                code += 1
    if table is None:
        return None
    return lambda bs: "".join(table[b] for b in bs)


_TOKEN_RE = re.compile(
    rb"""
    (?P<str>\() | (?P<hex><(?!<)) | (?P<dict><<|>>) | (?P<arr>\[|\]) |
    (?P<name>/[^\s()<>\[\]{}/%]*) |
    (?P<num>[+-]?\d*\.?\d+) |
    (?P<op>[A-Za-z'"*]+)
    """,
    re.VERBOSE,
)


def _content_tokens(content: bytes):
    """Token stream for a content stream: strings/arrays/names/numbers/ops."""
    i = 0
    n = len(content)
    while i < n:
        i = _skip_ws(content, i)
        if i >= n:
            return
        m = _TOKEN_RE.match(content, i)
        if not m:
            i += 1  # skip junk byte
            continue
        if m.lastgroup == "str":
            s, i = _parse_literal_string(content, i)
            yield ("str", s)
        elif m.lastgroup == "hex":
            s, i = _parse_hex_string(content, i)
            yield ("str", s)
        elif m.lastgroup == "arr":
            yield ("arr", m.group(0))
            i = m.end()
        elif m.lastgroup == "dict":
            yield ("dict", m.group(0))
            i = m.end()
        elif m.lastgroup == "name":
            yield ("name", m.group(0)[1:].decode("latin-1"))
            i = m.end()
        elif m.lastgroup == "num":
            t = m.group(0)
            yield ("num", float(t) if b"." in t else int(t))
            i = m.end()
        else:
            if m.group(0) == b"BI":
                # Inline image: skip the parameter dict and the binary
                # payload through the EI terminator — raw pixel bytes
                # would otherwise tokenize as garbage text operators.
                # EI must be whitespace-delimited to avoid matching pixel
                # bytes that happen to spell "EI".
                j = content.find(b"ID", m.end())
                k = (j + 3) if j != -1 else m.end()
                while True:
                    k = content.find(b"EI", k)
                    if k == -1:
                        i = n
                        break
                    before_ok = k == 0 or content[k - 1] in _WHITESPACE
                    nxt = content[k + 2 : k + 3]
                    after_ok = nxt == b"" or nxt[0] in _WHITESPACE or nxt[0] in _DELIMS
                    if before_ok and after_ok:
                        i = k + 2
                        break
                    k += 2
                continue
            yield ("op", m.group(0).decode("latin-1"))
            i = m.end()


def _extract_page_rows(
    content: bytes,
    image_xobjects: Dict[str, int],
    fonts: Optional[Dict[str, object]] = None,
) -> List[Tuple[str, str, str]]:
    """One content stream → ordered (kind, text, media_ref) rows.

    Text state: a line buffer flushed on every line-advance operator
    (``Td``/``TD`` with a vertical move, ``T*``, ``Tm`` with a new y, the
    ``'``/``"`` next-line-show forms) and at ``ET``; flushed lines keep a
    trailing newline, pdfminer-style. ``Do`` of an image XObject emits an
    img row keyed by the image's object id, as the reference does with
    ``element.stream.objid``. ``Tf`` selects the active font's decoder
    from ``fonts`` (name → callable or None); fonts without a decoder —
    and all text before the first ``Tf`` — decode as Latin-1.
    """
    rows: List[Tuple[str, str, str]] = []
    stack: List[object] = []
    line: List[str] = []
    in_text = False
    current_y: Optional[float] = None
    decoder: Optional[object] = None

    def dec(raw: bytes) -> str:
        return decoder(raw) if decoder is not None else raw.decode("latin-1")

    def flush() -> None:
        if line:
            rows.append(("line", "".join(line) + "\n", ""))
            line.clear()

    for kind, value in _content_tokens(content):
        if kind in ("str", "num", "name"):
            stack.append(value)
            continue
        if kind in ("arr", "dict"):
            # Delimiter tokens hold a stack position but must never look
            # like shown text: pushing the raw b'[' / b']' bytes made the
            # TJ handler emit them into the line ("[HelloWorld]").
            stack.append(None)
            continue
        op = value
        if op == "BT":
            in_text = True
            current_y = None
            stack.clear()
        elif op == "ET":
            flush()
            in_text = False
            stack.clear()
        elif op == "Tj" and in_text:
            if stack and isinstance(stack[-1], bytes):
                line.append(dec(stack[-1]))
            stack.clear()
        elif op == "TJ" and in_text:
            # Everything bytes-typed back to the array-open marker is shown
            # text; numeric kerns are positioning only.
            for item in stack:
                if isinstance(item, bytes):
                    line.append(dec(item))
            stack.clear()
        elif op in ("'", '"') and in_text:
            flush()
            if stack and isinstance(stack[-1], bytes):
                line.append(dec(stack[-1]))
            stack.clear()
        elif op == "Tf":
            # operands are "/FontName size" — the name is the last str
            fname = next(
                (x for x in reversed(stack) if isinstance(x, str)), None
            )
            if fonts is not None and fname is not None:
                decoder = fonts.get(fname)
            stack.clear()
        elif op in ("Td", "TD") and in_text:
            ty = stack[-1] if stack and isinstance(stack[-1], (int, float)) else 0
            if ty != 0:
                flush()
            stack.clear()
        elif op == "T*" and in_text:
            flush()
            stack.clear()
        elif op == "Tm" and in_text:
            ty = stack[-1] if stack and isinstance(stack[-1], (int, float)) else None
            if current_y is not None and ty != current_y:
                flush()
            current_y = ty if isinstance(ty, (int, float)) else current_y
            stack.clear()
        elif op == "Do":
            name = stack[-1] if stack and isinstance(stack[-1], str) else None
            if name in image_xobjects:
                flush()
                rows.append(("img", "", str(image_xobjects[name])))
            stack.clear()
        else:
            stack.clear()
    flush()
    return rows


def pdf_bytes_to_rows(data: bytes) -> List[Tuple[str, str, str]]:
    """Whole file → ordered rows with ``page_break`` markers between pages."""
    pdf = _PdfFile(data)
    pages = pdf.page_numbers()
    if not pages:
        raise ValueError("no PDF pages found")
    rows: List[Tuple[str, str, str]] = []
    for page_index, page_num in enumerate(pages[:_MAX_PAGES]):
        if page_index:
            rows.append(("page_break", "", ""))
        body, _stream = pdf.objects[page_num]

        image_xobjects: Dict[str, int] = {}
        fonts: Dict[str, object] = {}
        resources = pdf.resolve_body(body.get("Resources"))
        if isinstance(resources, dict):
            xobjects = pdf.resolve_body(resources.get("XObject"))
            if isinstance(xobjects, dict):
                for name, ref in xobjects.items():
                    if isinstance(ref, _Ref) and ref.num in pdf.objects:
                        xbody, _xs = pdf.objects[ref.num]
                        if str(xbody.get("Subtype")) == "Image":
                            image_xobjects[name] = ref.num
            font_res = pdf.resolve_body(resources.get("Font"))
            if isinstance(font_res, dict):
                for name, ref in font_res.items():
                    if isinstance(ref, _Ref):
                        if ref.num not in pdf._font_decoders:
                            fbody = pdf.resolve_body(ref)
                            try:
                                pdf._font_decoders[ref.num] = (
                                    _font_decoder(pdf, fbody)
                                    if isinstance(fbody, dict)
                                    else None
                                )
                            except (ValueError, KeyError, OverflowError):
                                pdf._font_decoders[ref.num] = None
                        fonts[name] = pdf._font_decoders[ref.num]
                    elif isinstance(ref, dict):  # inline font dict
                        try:
                            fonts[name] = _font_decoder(pdf, ref)
                        except (ValueError, KeyError, OverflowError):
                            fonts[name] = None

        contents = body.get("Contents")
        content_refs = contents if isinstance(contents, list) else [contents]
        content = b"\n".join(
            pdf.decoded_stream(ref.num)
            for ref in content_refs
            if isinstance(ref, _Ref)
        )
        rows.extend(_extract_page_rows(content, image_xobjects, fonts))
    return rows
