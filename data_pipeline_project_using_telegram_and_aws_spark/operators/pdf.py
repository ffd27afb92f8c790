"""PDF text extraction over opaque ``binary`` columns — a pure
stdlib (``zlib`` + ``re``) implementation of the subset of ISO 32000
a corpus text front door needs, in the same spirit as the repo's
JPEG/FLAC/PNG decoders: real parsing of real containers, loud
``ValueError`` on structural defects, no external parser library.

The reference pipeline ingests only Telegram JSON; this is
north-star extension surface — PDF is the single largest "trapped
text" format in any web-scale corpus, and a pipeline that cannot
open it loses books, papers, and reports wholesale.

What is implemented, exactly:

- **Object model** (:class:`_Lexer`): the eight PDF object types —
  null/bool/int/real, names with ``#xx`` escapes, literal strings
  with the full escape table (octal, line continuations, EOL
  normalization), hex strings, arrays, dictionaries, indirect
  references, streams (``/Length`` may itself be indirect; a lying
  ``/Length`` falls back to an ``endstream`` scan).
- **Cross-reference** (:class:`PdfDocument`): classic ``xref``
  tables with incremental-update ``/Prev`` chains (newest entry
  wins), PDF 1.5 cross-reference STREAMS (``/W``-packed fields,
  ``/Index`` subsections), hybrid files (``/XRefStm``), and
  compressed objects inside object streams (``/Type /ObjStm``).
  A file whose xref machinery is torn falls back to a whole-file
  ``N G obj`` scan (the classic repair strategy — real corpora are
  full of truncated/concatenated PDFs whose bodies are intact).
- **Filters**: FlateDecode (with ``/Predictor`` 1/2/10-15 — the PNG
  row predictors reuse `media_codecs._png_unfilter`), LZWDecode
  (with ``/EarlyChange``), ASCIIHexDecode, ASCII85Decode,
  RunLengthDecode, and chains thereof. Image-only filters
  (DCT/JPX/CCITT/JBIG2) raise if they appear on a CONTENT stream —
  they never legitimately do.
- **Page tree**: ``/Pages`` recursion with cycle guard and
  ``/Resources`` inheritance; page ``/Contents`` array
  concatenation.
- **Content interpreter**: the text-positioning subset — ``BT/ET``,
  ``Tf`` font selection, ``Tj`` / ``'`` / ``"`` / ``TJ`` shows,
  ``Td/TD/T*/Tm`` line moves — with inline-image (``BI..EI``) skip.
  Layout → text contract (stated, tested, necessarily heuristic):
  vertical moves emit a newline, pure-horizontal ``Td`` a space, and
  a ``TJ`` kern adjustment ≤ ``-180`` (thousandths of em — real
  inter-word gaps are ~-250) a space.
- **Fonts**: simple fonts (Type1/TrueType/Type3) decode through
  StandardEncoding (the spec default, table below) /
  WinAnsiEncoding (= cp1252) / MacRomanEncoding (= mac_roman) plus
  ``/Differences`` resolved through an Adobe-Glyph-List subset
  (ASCII + typographic names explicit; accented Latin generated
  from Unicode names; ``uniXXXX``/``uXXXXXX`` parsed); composite
  Type0 fonts with Identity-H/V 2-byte codes. A ``/ToUnicode`` CMap
  (``bfchar``/``bfrange``, both destination forms, UTF-16BE
  targets) overrides everything when present — it is the authoring
  tool's own statement of meaning. Unmappable codes become U+FFFD
  and are COUNTED (``n_unmapped``) so a downstream quality gate can
  threshold on extraction confidence instead of trusting silence.
- **Metadata**: trailer ``/Info`` (title/author/subject/keywords/
  creator/producer/dates) with UTF-16BE and UTF-8 BOM handling.
  ``/Encrypt`` in the trailer raises — encrypted documents are a
  quarantine row for the caller, not empty strings.

Out of scope, stated: rendering order vs reading order (we emit
content-stream order, which is reading order for every text-first
producer), CJK predefined CMaps without ToUnicode (counted as
unmapped), XFA forms, tagged-PDF structure trees.

Spark shape (:func:`extract_pdf_text`): the standard slim (id,
bytes) ``mapInPandas`` projection from `multimodal.py` — page trees
and content streams are row-local; nothing touches the driver.
"""

from __future__ import annotations

import re
import unicodedata
import zlib

from collections.abc import Iterator

import pandas as pd

__all__ = [
    "PdfDocument",
    "extract_pdf",
    "extract_pdf_text",
    "PDF_TEXT_DDL",
]

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Name(str):
    """A PDF name object (``/Foo``) — distinct from a text string."""
    __slots__ = ()


class _Ref(tuple):
    """Indirect reference ``(num, gen)``."""
    __slots__ = ()


class _Stream:
    """A stream object: its dict plus the RAW (still-encoded) bytes."""

    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw


_ESCAPES = {
    ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t",
    ord("b"): b"\b", ord("f"): b"\x0c",
    ord("("): b"(", ord(")"): b")", ord("\\"): b"\\",
}

_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")


class _Lexer:
    """Byte-offset cursor over a PDF buffer; parses one object per
    :meth:`parse_object` call. ``resolve`` (when given) maps a
    `_Ref` to its value — needed for indirect ``/Length``."""

    def __init__(self, data: bytes, pos: int = 0, resolve=None):
        self.data = data
        self.pos = pos
        self.resolve = resolve

    def skip_ws(self):
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment to EOL
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def _keyword(self) -> bytes:
        start = self.pos
        d, n = self.data, len(self.data)
        while self.pos < n and d[self.pos] not in _WS \
                and d[self.pos] not in _DELIM:
            self.pos += 1
        return d[start:self.pos]

    def parse_object(self):
        self.skip_ws()
        d = self.data
        if self.pos >= len(d):
            raise ValueError("unexpected end of data")
        c = d[self.pos]
        if c == 0x2F:  # /
            return self._parse_name()
        if c == 0x28:  # (
            return self._parse_literal_string()
        if c == 0x3C:  # < — dict or hex string
            if d[self.pos:self.pos + 2] == b"<<":
                return self._parse_dict_or_stream()
            return self._parse_hex_string()
        if c == 0x5B:  # [
            return self._parse_array()
        if c in b"+-.0123456789":
            return self._parse_number_or_ref()
        kw = self._keyword()
        if kw == b"true":
            return True
        if kw == b"false":
            return False
        if kw == b"null":
            return None
        raise ValueError(
            f"unexpected token {kw[:20]!r} at offset {self.pos - len(kw)}"
        )

    def _parse_name(self) -> _Name:
        self.pos += 1  # /
        d, n = self.data, len(self.data)
        out = bytearray()
        while self.pos < n:
            c = d[self.pos]
            if c in _WS or c in _DELIM:
                break
            if c == 0x23 and self.pos + 2 < n:  # #xx
                try:
                    out.append(int(d[self.pos + 1:self.pos + 3], 16))
                    self.pos += 3
                    continue
                except ValueError:
                    pass
            out.append(c)
            self.pos += 1
        return _Name(out.decode("utf-8", "replace"))

    def _parse_literal_string(self) -> bytes:
        d, n = self.data, len(self.data)
        self.pos += 1  # (
        out = bytearray()
        depth = 1
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                if e in _ESCAPES:
                    out += _ESCAPES[e]
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # \ooo, 1-3 digits
                    oct_digits = bytearray()
                    while len(oct_digits) < 3 and self.pos < n \
                            and 0x30 <= d[self.pos] <= 0x37:
                        oct_digits.append(d[self.pos])
                        self.pos += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:  # unknown escape: the char itself
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.pos += 1
                    return bytes(out)
                out.append(c)
                self.pos += 1
            elif c == 0x0D:  # EOL inside string normalizes to \n
                out.append(0x0A)
                self.pos += 1
                if self.pos < n and d[self.pos] == 0x0A:
                    self.pos += 1
            else:
                out.append(c)
                self.pos += 1
        raise ValueError("unterminated literal string")

    def _parse_hex_string(self) -> bytes:
        d, n = self.data, len(self.data)
        self.pos += 1  # <
        digits = bytearray()
        while self.pos < n:
            c = d[self.pos]
            self.pos += 1
            if c == 0x3E:  # >
                if len(digits) % 2:
                    digits.append(0x30)  # odd count: pad with 0
                return bytes.fromhex(digits.decode("ascii"))
            if c in _WS:
                continue
            digits.append(c)
        raise ValueError("unterminated hex string")

    def _parse_array(self) -> list:
        self.pos += 1  # [
        out = []
        while True:
            self.skip_ws()
            if self.pos >= len(self.data):
                raise ValueError("unterminated array")
            if self.data[self.pos] == 0x5D:  # ]
                self.pos += 1
                return out
            out.append(self.parse_object())

    def _parse_number_or_ref(self):
        m = _NUM_RE.match(self.data, self.pos)
        if not m:
            raise ValueError(f"bad number at offset {self.pos}")
        self.pos = m.end()
        tok = m.group()
        if b"." in tok:
            return float(tok)
        num = int(tok)
        # lookahead for "GEN R" (indirect reference)
        save = self.pos
        self.skip_ws()
        m2 = _NUM_RE.match(self.data, self.pos)
        if m2 and b"." not in m2.group():
            self.pos = m2.end()
            self.skip_ws()
            if self.data[self.pos:self.pos + 1] == b"R" and (
                self.pos + 1 >= len(self.data)
                or self.data[self.pos + 1] in _WS
                or self.data[self.pos + 1] in _DELIM
            ):
                self.pos += 1
                return _Ref((num, int(m2.group())))
        self.pos = save
        return num

    def _parse_dict_or_stream(self):
        self.pos += 2  # <<
        d: dict = {}
        while True:
            self.skip_ws()
            if self.data[self.pos:self.pos + 2] == b">>":
                self.pos += 2
                break
            key = self.parse_object()
            if not isinstance(key, _Name):
                raise ValueError(
                    f"dict key is not a name at offset {self.pos}"
                )
            d[str(key)] = self.parse_object()
        # stream?
        save = self.pos
        self.skip_ws()
        if self.data[self.pos:self.pos + 6] != b"stream":
            self.pos = save
            return d
        self.pos += 6
        if self.data[self.pos:self.pos + 2] == b"\r\n":
            self.pos += 2
        elif self.data[self.pos:self.pos + 1] == b"\n":
            self.pos += 1
        start = self.pos
        length = d.get("Length")
        if isinstance(length, _Ref) and self.resolve is not None:
            length = self.resolve(length)
        end = None
        if isinstance(length, int) and 0 <= length \
                and start + length <= len(self.data):
            cand = start + length
            # trust /Length only if endstream actually follows
            tail = self.data[cand:cand + 20].lstrip(b"\r\n \t")
            if tail.startswith(b"endstream"):
                end = cand
        if end is None:  # lying /Length: scan
            idx = self.data.find(b"endstream", start)
            if idx < 0:
                raise ValueError("stream without endstream")
            end = idx
            while end > start and self.data[end - 1] in b"\r\n":
                end -= 1
        raw = self.data[start:end]
        self.pos = self.data.find(b"endstream", end) + len(b"endstream")
        return _Stream(d, raw)


# ---------------------------------------------------------------------------
# filters

def _apply_predictor(data: bytes, parms: dict) -> bytes:
    pred = parms.get("Predictor", 1)
    if pred == 1:
        return data
    colors = parms.get("Colors", 1)
    bpc = parms.get("BitsPerComponent", 8)
    columns = parms.get("Columns", 1)
    if bpc != 8:
        raise ValueError(f"predictor with BitsPerComponent={bpc} "
                         "unsupported (xref/content streams use 8)")
    rowlen = colors * columns
    if pred == 2:  # TIFF horizontal differencing
        import numpy as np
        arr = np.frombuffer(data, dtype=np.uint8).reshape(-1, rowlen)
        return (
            np.cumsum(arr.reshape(arr.shape[0], columns, colors),
                      axis=1, dtype=np.int64) % 256
        ).astype(np.uint8).tobytes()
    if pred >= 10:  # PNG row filters — reuse the PNG decoder's core
        from .media_codecs import _png_unfilter
        if len(data) % (rowlen + 1):
            raise ValueError("predictor data not a whole number of rows")
        h = len(data) // (rowlen + 1)
        return _png_unfilter(data, h, columns, colors).tobytes()
    raise ValueError(f"unknown predictor {pred}")


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """LZW as PDF/TIFF use it: 9→12-bit variable codes, 256=clear,
    257=EOD, table grows one early when ``EarlyChange`` (default)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: bytes | None = None
    width = 9
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"LZW code {code} out of range")
            out += entry
            prev = entry
            # Width bump: the ENCODER bumps when its next assignable
            # code reaches 2^width - EarlyChange; the decoder's table
            # lags the encoder's by exactly ONE entry (it learns each
            # entry one code later), hence the +1 — verified by
            # round-trip against an independent encoder across the
            # 9→10→11 boundaries at both EarlyChange settings
            if len(table) + early + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _a85_decode(data: bytes) -> bytes:
    import base64
    body = bytes(data.split(b"~>")[0])
    body = bytes(b for b in body if b not in _WS)
    return base64.a85decode(body)


def _rle_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        if n == 128:
            break
        if n < 128:
            out += data[i + 1:i + 2 + n]
            i += 2 + n
        else:
            out += data[i + 1:i + 2] * (257 - n)
            i += 2
    return bytes(out)


_IMAGE_FILTERS = {"DCTDecode", "JPXDecode", "CCITTFaxDecode",
                  "JBIG2Decode"}


def _decode_stream(stream: _Stream, resolve) -> bytes:
    filters = resolve(stream.dict.get("Filter"))
    parms = resolve(stream.dict.get("DecodeParms")) \
        or resolve(stream.dict.get("DP"))
    if filters is None:
        return stream.raw
    if not isinstance(filters, list):
        filters = [filters]
        parms = [parms]
    elif not isinstance(parms, list):
        parms = [parms] + [None] * (len(filters) - 1)
    parms = parms + [None] * (len(filters) - len(parms))
    data = stream.raw
    for filt, p in zip(filters, parms):
        filt = str(resolve(filt))
        p = resolve(p) or {}
        p = {k: resolve(v) for k, v in p.items()}
        if filt == "FlateDecode" or filt == "Fl":
            obj = zlib.decompressobj()
            try:
                data = obj.decompress(data)  # tolerate trailing junk
            except zlib.error as e:
                raise ValueError(f"FlateDecode: {e}") from None
            data = _apply_predictor(data, p)
        elif filt == "LZWDecode" or filt == "LZW":
            data = _apply_predictor(
                _lzw_decode(data, p.get("EarlyChange", 1)), p
            )
        elif filt == "ASCIIHexDecode" or filt == "AHx":
            body = data.split(b">")[0]
            digits = bytes(b for b in body if b not in _WS)
            if len(digits) % 2:
                digits += b"0"
            data = bytes.fromhex(digits.decode("ascii"))
        elif filt == "ASCII85Decode" or filt == "A85":
            data = _a85_decode(data)
        elif filt == "RunLengthDecode" or filt == "RL":
            data = _rle_decode(data)
        elif filt in _IMAGE_FILTERS:
            raise ValueError(f"image filter {filt} on a text-path stream")
        elif filt == "Crypt":
            raise ValueError("Crypt filter: encrypted stream")
        else:
            raise ValueError(f"unknown filter {filt}")
    return data


# ---------------------------------------------------------------------------
# document / xref

class PdfDocument:
    """Parsed cross-reference machinery over one PDF byte buffer."""

    def __init__(self, raw: bytes):
        if not raw.startswith(b"%PDF-"):
            raise ValueError("missing %PDF- header")
        self.raw = raw
        self.version = raw[5:raw.find(b"\n", 0, 32) if
                           raw.find(b"\n", 0, 32) > 0 else 12] \
            .split(b"\r")[0].decode("ascii", "replace").strip()
        # entries: num -> ("o", offset) | ("c", objstm_num, idx)
        self.entries: dict[int, tuple] = {}
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, dict[int, object]] = {}
        try:
            self._load_xref_chain()
            if "Root" not in self.trailer:
                raise ValueError("trailer has no /Root")
        except ValueError:
            self._repair_scan()
        if "Encrypt" in self.trailer:
            raise ValueError("encrypted pdf (/Encrypt in trailer)")

    # -- construction --------------------------------------------------

    def _load_xref_chain(self):
        tail = self.raw[-2048:]
        idx = tail.rfind(b"startxref")
        if idx < 0:
            raise ValueError("no startxref")
        lex = _Lexer(tail, idx + len(b"startxref"))
        lex.skip_ws()
        start = lex._parse_number_or_ref()
        if not isinstance(start, int):
            raise ValueError("bad startxref offset")
        seen: set[int] = set()
        queue = [start]
        while queue:
            off = queue.pop(0)
            if off in seen or not (0 <= off < len(self.raw)):
                continue
            seen.add(off)
            lex = _Lexer(self.raw, off)
            lex.skip_ws()
            if self.raw[lex.pos:lex.pos + 4] == b"xref":
                trailer = self._parse_classic_xref(lex)
            else:
                trailer = self._parse_xref_stream(lex)
            for key in ("XRefStm", "Prev"):
                nxt = trailer.get(key)
                if isinstance(nxt, int):
                    queue.append(nxt)
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)

    def _parse_classic_xref(self, lex: _Lexer) -> dict:
        lex.pos += 4  # "xref"
        while True:
            lex.skip_ws()
            if self.raw[lex.pos:lex.pos + 7] == b"trailer":
                lex.pos += 7
                t = lex.parse_object()
                if not isinstance(t, dict):
                    raise ValueError("trailer is not a dict")
                return t
            m = _NUM_RE.match(self.raw, lex.pos)
            if not m:
                raise ValueError(f"bad xref section at {lex.pos}")
            first = int(m.group())
            lex.pos = m.end()
            lex.skip_ws()
            m = _NUM_RE.match(self.raw, lex.pos)
            if not m:  # ValueError, not AttributeError: the repair
                # scan must get its chance on this damage class too
                raise ValueError(f"bad xref section count at {lex.pos}")
            count = int(m.group())
            lex.pos = m.end()
            for i in range(count):
                lex.skip_ws()
                entry = self.raw[lex.pos:lex.pos + 18]
                lex.pos += 18
                kind = entry[17:18]
                num = first + i
                if kind == b"n" and num not in self.entries:
                    self.entries[num] = ("o", int(entry[0:10]))
                # free entries don't claim the slot: a hybrid file's
                # main table may mark objstm-compressed objects free

    def _parse_xref_stream(self, lex: _Lexer) -> dict:
        lex.skip_ws()
        num = lex._parse_number_or_ref()  # "N G obj"
        lex.skip_ws()
        _NUM_RE.match(self.raw, lex.pos) or (_ for _ in ()).throw(
            ValueError("bad xref stream header"))
        m = _NUM_RE.match(self.raw, lex.pos)
        lex.pos = m.end()
        lex.skip_ws()
        if self.raw[lex.pos:lex.pos + 3] != b"obj":
            raise ValueError(f"no xref table or stream at {lex.pos}")
        lex.pos += 3
        obj = lex.parse_object()
        if not isinstance(obj, _Stream) or \
                str(obj.dict.get("Type")) != "XRef":
            raise ValueError("startxref does not point at xref data")
        data = _decode_stream(obj, self._resolve)
        w = [int(x) for x in obj.dict["W"]]
        if len(w) != 3:
            raise ValueError("xref stream /W must have 3 entries")
        size = int(obj.dict["Size"])
        index = obj.dict.get("Index", [0, size])
        rowlen = sum(w)
        pos = 0
        pairs = [(int(index[i]), int(index[i + 1]))
                 for i in range(0, len(index), 2)]
        for first, count in pairs:
            for i in range(count):
                row = data[pos:pos + rowlen]
                pos += rowlen
                if len(row) < rowlen:
                    raise ValueError("xref stream data too short")
                f = []
                o = 0
                for width in w:
                    val = int.from_bytes(row[o:o + width], "big") \
                        if width else None
                    o += width
                    f.append(val)
                ftype = 1 if f[0] is None else f[0]
                objnum = first + i
                if objnum in self.entries:
                    continue
                if ftype == 1:
                    self.entries[objnum] = ("o", f[1])
                elif ftype == 2:
                    self.entries[objnum] = ("c", f[1], f[2])
        return dict(obj.dict)

    def _repair_scan(self):
        """xref machinery is torn: index every ``N G obj`` in the
        file (LAST occurrence of a number wins — later = newer in an
        incrementally updated file) and find a /Root-bearing trailer
        or a /Type /Catalog object."""
        self.entries = {}
        self._cache = {}
        for m in re.finditer(rb"(?<![0-9])(\d{1,9})\s+\d{1,5}\s+obj\b",
                             self.raw):
            self.entries[int(m.group(1))] = ("o", m.start())
        if not self.entries:
            raise ValueError("unrecoverable: no objects found")
        trailer: dict = {}
        for m in re.finditer(rb"trailer", self.raw):
            try:
                lex = _Lexer(self.raw, m.end(), resolve=self._resolve)
                t = lex.parse_object()
                if isinstance(t, dict):
                    for k, v in t.items():
                        trailer.setdefault(k, v)
            except ValueError:
                continue
        if "Root" not in trailer:
            for num in sorted(self.entries):
                try:
                    obj = self.get_object(num)
                except ValueError:
                    continue
                d = obj.dict if isinstance(obj, _Stream) else obj
                if isinstance(d, dict) \
                        and str(d.get("Type")) == "Catalog":
                    trailer["Root"] = _Ref((num, 0))
                    break
        if "Root" not in trailer:
            raise ValueError("unrecoverable: no document catalog")
        self.trailer = trailer

    # -- access --------------------------------------------------------

    def _resolve(self, obj):
        seen: set[int] = set()
        while isinstance(obj, _Ref):
            if obj[0] in seen:  # ref cycle: null, not a hang — the
                # quarantine wrapper can only catch exceptions
                return None
            seen.add(obj[0])
            obj = self.get_object(obj[0])
        return obj

    def get_object(self, num: int):
        if num in self._cache:
            return self._cache[num]
        entry = self.entries.get(num)
        if entry is None:
            return None  # a reference to a free object is null (spec)
        self._cache[num] = None  # cycle guard during load
        if entry[0] == "o":
            lex = _Lexer(self.raw, entry[1], resolve=self._resolve)
            lex.skip_ws()
            got_num = lex._parse_number_or_ref()
            if got_num != num:
                raise ValueError(
                    f"xref offset for obj {num} lands on obj {got_num}"
                )
            lex.skip_ws()
            m = _NUM_RE.match(self.raw, lex.pos)
            if not m:
                raise ValueError(f"object {num}: bad generation")
            lex.pos = m.end()
            lex.skip_ws()
            if self.raw[lex.pos:lex.pos + 3] != b"obj":
                raise ValueError(f"object {num}: no obj keyword")
            lex.pos += 3
            value = lex.parse_object()
        else:
            _, stm_num, idx = entry
            value = self._load_objstm(stm_num).get(num)
        self._cache[num] = value
        return value

    def _load_objstm(self, stm_num: int) -> dict[int, object]:
        if stm_num in self._objstm_cache:
            return self._objstm_cache[stm_num]
        stm = self.get_object(stm_num)
        if not isinstance(stm, _Stream) or \
                str(stm.dict.get("Type")) != "ObjStm":
            raise ValueError(f"object {stm_num} is not an ObjStm")
        data = _decode_stream(stm, self._resolve)
        n = int(self._resolve(stm.dict["N"]))
        first = int(self._resolve(stm.dict["First"]))
        head = _Lexer(data, 0)
        pairs = []
        for _ in range(n):
            head.skip_ws()
            onum = head._parse_number_or_ref()
            head.skip_ws()
            ooff = head._parse_number_or_ref()
            pairs.append((onum, ooff))
        out = {}
        for onum, ooff in pairs:
            lex = _Lexer(data, first + ooff, resolve=self._resolve)
            out[onum] = lex.parse_object()
        self._objstm_cache[stm_num] = out
        return out


# ---------------------------------------------------------------------------
# encodings / glyph names

def _build_agl() -> dict[str, str]:
    """Adobe-Glyph-List subset: explicit ASCII/typographic names +
    accented Latin generated from Unicode character names."""
    agl = {
        "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
        "dollar": "$", "percent": "%", "ampersand": "&",
        "quotesingle": "'", "parenleft": "(", "parenright": ")",
        "asterisk": "*", "plus": "+", "comma": ",", "hyphen": "-",
        "period": ".", "slash": "/", "colon": ":", "semicolon": ";",
        "less": "<", "equal": "=", "greater": ">", "question": "?",
        "at": "@", "bracketleft": "[", "backslash": "\\",
        "bracketright": "]", "asciicircum": "^", "underscore": "_",
        "grave": "`", "braceleft": "{", "bar": "|", "braceright": "}",
        "asciitilde": "~",
        "quoteleft": "‘", "quoteright": "’",
        "quotedblleft": "“", "quotedblright": "”",
        "quotesinglbase": "‚", "quotedblbase": "„",
        "endash": "–", "emdash": "—",
        "bullet": "•", "ellipsis": "…",
        "dagger": "†", "daggerdbl": "‡",
        "perthousand": "‰", "fraction": "⁄",
        "guillemotleft": "«", "guillemotright": "»",
        "guilsinglleft": "‹", "guilsinglright": "›",
        "fi": "ﬁ", "fl": "ﬂ",
        "exclamdown": "¡", "questiondown": "¿",
        "cent": "¢", "sterling": "£", "yen": "¥",
        "florin": "ƒ", "section": "§", "currency": "¤",
        "copyright": "©", "registered": "®",
        "trademark": "™", "degree": "°",
        "plusminus": "±", "multiply": "×",
        "divide": "÷", "periodcentered": "·",
        "paragraph": "¶", "middot": "·",
        "germandbls": "ß", "dotlessi": "ı",
        "ordfeminine": "ª", "ordmasculine": "º",
        "AE": "Æ", "ae": "æ", "OE": "Œ", "oe": "œ",
        "Lslash": "Ł", "lslash": "ł",
        "Oslash": "Ø", "oslash": "ø",
        "Euro": "€", "euro": "€",
        "minus": "−", "brokenbar": "¦",
        "acute": "´", "dieresis": "¨", "macron": "¯",
        "cedilla": "¸", "circumflex": "ˆ", "tilde": "˜",
        "breve": "˘", "dotaccent": "˙", "ring": "˚",
        "hungarumlaut": "˝", "ogonek": "˛", "caron": "ˇ",
        "nbspace": " ", "softhyphen": "­",
        "onequarter": "¼", "onehalf": "½",
        "threequarters": "¾", "onesuperior": "¹",
        "twosuperior": "²", "threesuperior": "³",
        "mu": "µ", "logicalnot": "¬", "Eth": "Ð",
        "eth": "ð", "Thorn": "Þ", "thorn": "þ",
    }
    for i, name in enumerate(["zero", "one", "two", "three", "four",
                              "five", "six", "seven", "eight", "nine"]):
        agl[name] = str(i)
    for c in "abcdefghijklmnopqrstuvwxyz":
        agl[c] = c
        agl[c.upper()] = c.upper()
    accents = {
        "acute": "ACUTE", "grave": "GRAVE", "circumflex": "CIRCUMFLEX",
        "dieresis": "DIAERESIS", "tilde": "TILDE",
        "ring": "RING ABOVE", "cedilla": "CEDILLA", "caron": "CARON",
        "breve": "BREVE", "macron": "MACRON", "slash": "STROKE",
        "ogonek": "OGONEK", "hungarumlaut": "DOUBLE ACUTE",
        "dotaccent": "DOT ABOVE",
    }
    for letter in "abcdefghijklmnopqrstuvwxyz":
        for case, word in ((letter, "SMALL"), (letter.upper(), "CAPITAL")):
            for suffix, acc in accents.items():
                try:
                    agl.setdefault(
                        case + suffix,
                        unicodedata.lookup(
                            f"LATIN {word} LETTER {letter.upper()} "
                            f"WITH {acc}"
                        ),
                    )
                except KeyError:
                    pass
    return agl


_AGL = _build_agl()

_UNI_NAME = re.compile(r"^uni([0-9A-Fa-f]{4})$")
_U_NAME = re.compile(r"^u([0-9A-Fa-f]{4,6})$")


def _glyph_to_unicode(name: str) -> str | None:
    got = _AGL.get(name)
    if got is not None:
        return got
    m = _UNI_NAME.match(name)
    if m:
        return chr(int(m.group(1), 16))
    m = _U_NAME.match(name)
    if m:
        cp = int(m.group(1), 16)
        if cp <= 0x10FFFF and not 0xD800 <= cp <= 0xDFFF:
            return chr(cp)
    return None


def _standard_encoding() -> dict[int, str]:
    """Adobe StandardEncoding (ISO 32000 Annex D) — ASCII with the
    two quote deviations, plus the Annex D upper range."""
    enc = {i: chr(i) for i in range(32, 127)}
    enc.update({9: "\t", 10: "\n", 13: "\r"})
    enc[39] = "’"   # quoteright
    enc[96] = "‘"   # quoteleft
    high = {
        161: "exclamdown", 162: "cent", 163: "sterling", 164: "fraction",
        165: "yen", 166: "florin", 167: "section", 168: "currency",
        169: "quotesingle", 170: "quotedblleft", 171: "guillemotleft",
        172: "guilsinglleft", 173: "guilsinglright", 174: "fi",
        175: "fl", 177: "endash", 178: "dagger", 179: "daggerdbl",
        180: "periodcentered", 182: "paragraph", 183: "bullet",
        184: "quotesinglbase", 185: "quotedblbase", 186: "quotedblright",
        187: "guillemotright", 188: "ellipsis", 189: "perthousand",
        191: "questiondown", 193: "grave", 194: "acute",
        195: "circumflex", 196: "tilde", 197: "macron", 198: "breve",
        199: "dotaccent", 200: "dieresis", 202: "ring", 203: "cedilla",
        205: "hungarumlaut", 206: "ogonek", 207: "caron", 208: "emdash",
        225: "AE", 227: "ordfeminine", 232: "Lslash", 233: "Oslash",
        234: "OE", 235: "ordmasculine", 241: "ae", 245: "dotlessi",
        248: "lslash", 249: "oslash", 250: "oe", 251: "germandbls",
    }
    for code, name in high.items():
        enc[code] = _AGL[name]
    return enc


def _codec_encoding(codec: str) -> dict[int, str]:
    # 9/10/13 pass through: no font maps control codes to glyphs,
    # but literal strings may legally embed them via \t \n \r escapes
    enc = {9: "\t", 10: "\n", 13: "\r"}
    for i in range(32, 256):
        try:
            enc[i] = bytes([i]).decode(codec)
        except UnicodeDecodeError:
            pass
    return enc


_BASE_ENCODINGS = {
    "StandardEncoding": _standard_encoding(),
    "WinAnsiEncoding": _codec_encoding("cp1252"),
    "MacRomanEncoding": _codec_encoding("mac_roman"),
    "PDFDocEncoding": _codec_encoding("latin-1"),
}


# ---------------------------------------------------------------------------
# ToUnicode CMaps

def _parse_tounicode(data: bytes) -> tuple[dict[int, str], int]:
    """(code → text, code byte width) from a ToUnicode CMap stream.
    Width from the codespace ranges (all real CMaps use one width)."""
    lex = _Lexer(data, 0)
    cmap: dict[int, str] = {}
    width = None
    stack: list = []
    n = len(data)
    while lex.pos < n:
        lex.skip_ws()
        if lex.pos >= n:
            break
        c = data[lex.pos]
        if c in b"/<[(+-.0123456789" or data[lex.pos:lex.pos + 2] == b"<<":
            try:
                stack.append(lex.parse_object())
            except ValueError:
                lex.pos += 1
            continue
        kw = lex._keyword()
        if not kw:
            lex.pos += 1
            continue
        if kw == b"endcodespacerange":
            for i in range(0, len(stack) - 1, 2):
                lo = stack[i]
                if isinstance(lo, bytes):
                    width = len(lo)
            stack = []
        elif kw == b"endbfchar":
            for i in range(0, len(stack) - 1, 2):
                src, dst = stack[i], stack[i + 1]
                if isinstance(src, bytes) and isinstance(dst, bytes):
                    cmap[int.from_bytes(src, "big")] = \
                        dst.decode("utf-16-be", "replace")
                    width = width or len(src)
            stack = []
        elif kw == b"endbfrange":
            for i in range(0, len(stack) - 2, 3):
                lo, hi, dst = stack[i], stack[i + 1], stack[i + 2]
                if not (isinstance(lo, bytes) and isinstance(hi, bytes)):
                    continue
                lo_i = int.from_bytes(lo, "big")
                hi_i = int.from_bytes(hi, "big")
                width = width or len(lo)
                if isinstance(dst, list):
                    for j, d in enumerate(dst):
                        if isinstance(d, bytes) and lo_i + j <= hi_i:
                            cmap[lo_i + j] = \
                                d.decode("utf-16-be", "replace")
                elif isinstance(dst, bytes):
                    base = dst.decode("utf-16-be", "replace")
                    for j in range(hi_i - lo_i + 1):
                        # increment the LAST code unit (spec 9.10.3)
                        cmap[lo_i + j] = base[:-1] + chr(
                            ord(base[-1]) + j) if base else ""
                    stack = stack  # keep flake happy
            stack = []
        elif kw in (b"begincodespacerange", b"beginbfchar",
                    b"beginbfrange"):
            stack = []
        # every other keyword (def, dict ops): ignore, drop operands
        elif kw.isalpha():
            stack = []
    return cmap, (width or 1)


# ---------------------------------------------------------------------------
# fonts

class _FontDecoder:
    """bytes shown by Tj/TJ → (text, n_unmapped) for one font."""

    def __init__(self, doc: PdfDocument, font: dict):
        r = doc._resolve
        font = {k: v for k, v in font.items()}
        subtype = str(r(font.get("Subtype", "")))
        self.width = 1
        self.cmap: dict[int, str] = {}
        tounicode = r(font.get("ToUnicode"))
        tu_map, tu_width = ({}, None)
        if isinstance(tounicode, _Stream):
            tu_map, tu_width = _parse_tounicode(
                _decode_stream(tounicode, r)
            )
        if subtype == "Type0":
            self.width = 2
            enc = r(font.get("Encoding"))
            if isinstance(enc, _Name) and "Identity" not in str(enc) \
                    and not tu_map:
                # predefined CJK CMap without ToUnicode: codes are
                # unmappable here — they count as unmapped
                pass
            self.cmap = tu_map
            if tu_width:
                self.width = tu_width
        else:
            base = _BASE_ENCODINGS["StandardEncoding"]
            diffs: dict[int, str] = {}
            enc = r(font.get("Encoding"))
            if isinstance(enc, _Name):
                base = _BASE_ENCODINGS.get(str(enc), base)
            elif isinstance(enc, dict):
                base_name = str(r(enc.get("BaseEncoding", "")))
                base = _BASE_ENCODINGS.get(base_name, base)
                code = 0
                for item in r(enc.get("Differences")) or []:
                    item = r(item)
                    if isinstance(item, (int, float)):
                        code = int(item)
                    elif isinstance(item, _Name):
                        got = _glyph_to_unicode(str(item))
                        if got is not None:
                            diffs[code] = got
                        else:
                            diffs[code] = "�"
                        code += 1
            self.cmap = dict(base)
            self.cmap.update(diffs)
            self.cmap.update(tu_map)  # ToUnicode overrides everything

    def decode(self, s: bytes) -> tuple[str, int]:
        out = []
        unmapped = 0
        w = self.width
        for i in range(0, len(s) - w + 1, w):
            code = int.from_bytes(s[i:i + w], "big")
            got = self.cmap.get(code)
            if got is None:
                out.append("�")
                unmapped += 1
            else:
                out.append(got)
        if len(s) % w:
            # A trailing partial code (odd byte of an Identity-H
            # 2-byte string) is malformed show data: count it as
            # unmapped so the extraction-confidence gate sees it,
            # rather than silently dropping it.
            out.append("�")
            unmapped += 1
        return "".join(out), unmapped


_NULL_FONT = None  # text shown before any Tf: every byte unmapped


# ---------------------------------------------------------------------------
# content interpreter

# TJ kern adjustment (thousandths of em, negative = widen) at or
# beyond which we emit a word space; real inter-word gaps are ~-250
TJ_SPACE_THRESHOLD = -180


def _skip_inline_image(data: bytes, pos: int) -> int:
    """pos is just past ``ID``: return position past the matching
    ``EI`` (whitespace-delimited both sides, per spec)."""
    i = pos
    n = len(data)
    while True:
        i = data.find(b"EI", i)
        if i < 0:
            return n
        before_ok = i > 0 and data[i - 1] in _WS
        after = data[i + 2:i + 3]
        after_ok = not after or after[0] in _WS or after[0] in _DELIM
        if before_ok and after_ok:
            return i + 2
        i += 2


def _page_content_text(
    doc: PdfDocument, content: bytes, fonts: dict
) -> tuple[str, int]:
    """Run the text subset of the content-stream machine; returns
    (text, n_unmapped). Layout heuristics per module docstring."""
    r = doc._resolve
    decoders: dict[str, _FontDecoder] = {}
    lex = _Lexer(content, 0)
    stack: list = []
    parts: list[str] = []
    unmapped = 0
    font: _FontDecoder | None = _NULL_FONT
    n = len(content)

    def show(s) -> None:
        nonlocal unmapped
        if not isinstance(s, bytes):
            return
        if font is None:
            unmapped += max(1, len(s))
            parts.append("�")
            return
        text, miss = font.decode(s)
        unmapped += miss
        parts.append(text)

    def nl() -> None:
        # line moves break only when glyphs precede on the line —
        # the initial Td of a page, and consecutive moves with no
        # text between them, emit nothing (stated layout contract)
        if parts and not parts[-1].endswith("\n"):
            parts.append("\n")

    while lex.pos < n:
        lex.skip_ws()
        if lex.pos >= n:
            break
        c = content[lex.pos]
        if c in b"/<[(+-.0123456789" or \
                content[lex.pos:lex.pos + 2] == b"<<":
            try:
                stack.append(lex.parse_object())
            except ValueError:
                lex.pos += 1  # tolerate damage: resync
            continue
        op = lex._keyword()
        if not op:
            lex.pos += 1
            continue
        if op == b"Tf" and len(stack) >= 2:
            name = stack[-2]
            if isinstance(name, _Name):
                if str(name) not in decoders:
                    fobj = r(fonts.get(str(name))) if fonts else None
                    decoders[str(name)] = _FontDecoder(doc, fobj) \
                        if isinstance(fobj, dict) else _NULL_FONT
                font = decoders[str(name)]
        elif op == b"Tj" and stack:
            show(stack[-1])
        elif op == b"'" and stack:
            nl()
            show(stack[-1])
        elif op == b'"' and len(stack) >= 3:
            nl()
            show(stack[-1])
        elif op == b"TJ" and stack and isinstance(stack[-1], list):
            for el in stack[-1]:
                if isinstance(el, bytes):
                    show(el)
                elif isinstance(el, (int, float)) \
                        and el <= TJ_SPACE_THRESHOLD:
                    parts.append(" ")
        elif op in (b"Td", b"TD") and len(stack) >= 2:
            tx, ty = stack[-2], stack[-1]
            if isinstance(ty, (int, float)) and ty != 0:
                nl()
            elif isinstance(tx, (int, float)) and tx != 0 and parts \
                    and not parts[-1][-1:].isspace():
                parts.append(" ")
        elif op == b"T*":
            nl()
        elif op == b"Tm" and len(stack) >= 6:
            nl()
        elif op == b"BI":
            idx = content.find(b"ID", lex.pos)
            lex.pos = _skip_inline_image(
                content, (idx + 3) if idx >= 0 else n
            )
        if op not in (b"BI",):
            stack = []
    return "".join(parts), unmapped


# ---------------------------------------------------------------------------
# page tree + top-level extraction

_INHERITABLE = ("Resources",)


def _walk_pages(doc: PdfDocument, node, inherited: dict,
                out: list, depth: int = 0,
                visited: set | None = None):
    r = doc._resolve
    if visited is None:
        visited = set()
    if isinstance(node, _Ref):
        if node[0] in visited:
            # a legitimate tree never shares nodes; a reused ref is
            # a cycle/DAG bomb (B^depth blowup) — refuse loudly
            raise ValueError(
                f"page tree reuses node {node[0]} (cycle?)"
            )
        visited.add(node[0])
    node = r(node)
    if not isinstance(node, dict):
        return
    if depth > 64:
        raise ValueError("page tree deeper than 64 levels (cycle?)")
    inh = dict(inherited)
    for key in _INHERITABLE:
        if key in node:
            inh[key] = node[key]
    ntype = str(r(node.get("Type", "")))
    if ntype == "Pages" or (ntype != "Page" and "Kids" in node):
        for kid in r(node.get("Kids")) or []:
            _walk_pages(doc, kid, inh, out, depth + 1,
                        visited)
    else:
        out.append((node, inh))


def _pdf_text_string(b) -> str | None:
    if not isinstance(b, bytes) or not b:
        return None
    if b[:2] == b"\xfe\xff":
        return b[2:].decode("utf-16-be", "replace")
    if b[:3] == b"\xef\xbb\xbf":
        return b[3:].decode("utf-8", "replace")
    return b.decode("latin-1")


def extract_pdf(raw: bytes) -> dict:
    """Full-document text + metadata of one PDF byte buffer.

    Returns ``{text, n_pages, n_unmapped, pdf_version, title, author,
    subject, keywords, creator, producer, created, modified}``; pages
    are joined with form-feed + newline (the classic page separator a
    downstream chunker can split on). Raises ValueError on structural
    defects (bad header, encryption, unrecoverable xref, undecodable
    content stream).
    """
    doc = PdfDocument(raw)
    r = doc._resolve
    root = r(doc.trailer.get("Root"))
    if not isinstance(root, dict):
        raise ValueError("document catalog is not a dict")
    pages: list = []
    _walk_pages(doc, root.get("Pages"), {}, pages)
    if not pages:
        raise ValueError("no pages in page tree")
    texts = []
    unmapped = 0
    for page, inh in pages:
        resources = r(page.get("Resources", inh.get("Resources"))) or {}
        fonts = r(resources.get("Font")) or {}
        contents = r(page.get("Contents"))
        chunks = []
        items = contents if isinstance(contents, list) else \
            [contents] if contents is not None else []
        for item in items:
            item = r(item)
            if isinstance(item, _Stream):
                chunks.append(_decode_stream(item, r))
        text, miss = _page_content_text(
            doc, b"\n".join(chunks), fonts
        )
        unmapped += miss
        texts.append(text)
    info = r(doc.trailer.get("Info")) or {}
    meta = {
        key.lower(): _pdf_text_string(r(info.get(key)))
        for key in ("Title", "Author", "Subject", "Keywords",
                    "Creator", "Producer")
    }
    meta["created"] = _pdf_text_string(r(info.get("CreationDate")))
    meta["modified"] = _pdf_text_string(r(info.get("ModDate")))
    return {
        "text": "\n\x0c\n".join(texts),
        "n_pages": len(pages),
        "n_unmapped": unmapped,
        "pdf_version": doc.version,
        **meta,
    }


# ---------------------------------------------------------------------------
# Spark wrapper

PDF_TEXT_DDL = (
    "doc_id long, n_pages int, text string, title string, "
    "author string, subject string, keywords string, creator string, "
    "producer string, created string, modified string, "
    "pdf_version string, n_unmapped int, error string"
)


def _pdf_rows(batch_iter) -> Iterator[pd.DataFrame]:
    cols = [f.split()[0] for f in PDF_TEXT_DDL.split(", ")]
    for batch in batch_iter:
        out = []
        for doc_id, raw in zip(batch["doc_id"], batch["doc"]):
            data = bytes(raw) if raw is not None else b""
            row = dict.fromkeys(cols)
            row["doc_id"] = doc_id
            try:
                row.update(extract_pdf(data))
            except Exception as e:  # noqa: BLE001 — quarantine IS the
                # stated policy for ANY extraction failure (front-door
                # doctrine: a parser bug on malformed bytes must land
                # the row, not fail the batch)
                row["error"] = f"{type(e).__name__}: {e}"[:200]
            out.append(row)
        yield pd.DataFrame(out, columns=cols)


def extract_pdf_text(
    df,
    id_col: str = "doc_id",
    doc_col: str = "doc",
    partitions: int | None = None,
):
    """Distributed PDF text extraction via ``mapInPandas`` — slim
    (id, bytes) projection only (`multimodal.py` doctrine); failures
    land as ``error`` rows, |input| == |output| always. Threshold on
    ``n_unmapped / length(text)`` downstream to gate extraction
    confidence."""
    from pyspark.sql import functions as F

    slim = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(doc_col).alias("doc"),
    )
    if partitions:
        slim = slim.repartition(partitions, "doc_id")
    return slim.mapInPandas(_pdf_rows, schema=PDF_TEXT_DDL)
