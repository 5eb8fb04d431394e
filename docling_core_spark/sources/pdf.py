"""PDF first-mile source: PDF bytes -> segmented pages -> text table.

The north-star pipeline names "PDF/layout parse" alongside the HTML path:
upstream docling emits parsed pages (the SegmentedPdfPage shape replicated
in model/page.py), and this module closes the gap from raw PDF bytes to
that shape from scratch — no pdfminer/pypdf/poppler, only stdlib zlib:

- a hand-rolled PDF object parser (ISO 32000-1 §7: literal/hex strings,
  names with #xx escapes, arrays, dictionaries, indirect references,
  streams) over the raw bytes;
- cross-reference resolution: classic ``xref`` tables AND cross-reference
  streams (/Type/XRef, /W field widths, PNG-up predictor), /Prev chains
  for incremental updates, object streams (/Type/ObjStm), and a
  brute-force ``N G obj`` reconstruction scan when the xref is corrupt;
- FlateDecode (zlib) with optional PNG predictors and ASCIIHexDecode;
- a content-stream text interpreter: BT/ET text objects, Tm/Td/TD/T*/TL
  positioning, Tf size, q/Q/cm CTM stack, Tj/TJ/'/" show operators with
  TJ kerning adjustments — emitting one positioned line cell per baseline
  in page space (bottom-left origin, the SegmentedPage convention);
- a writer (``build_pdf``) for deterministic test/demo documents in BOTH
  framings (classic xref table and ObjStm + xref stream) — a test
  fixture generator, NOT a general PDF producer.

Spark surface: ``pdf_pages_df(spark, path)`` reads via the binaryFile
source and parses inside ``mapInPandas`` — one PDF file in, one row per
page out (path, page_no, width, height, n_cells, text).  Scale shape:
files are the parallel unit; with ``split_pages=`` a cheap metadata-only
index stage (xref + page tree walk, no content streams inflated) emits
(path, page_start, page_end) ranges so a jumbo PDF parallelizes BELOW
file granularity and peak task memory is bounded by the range, mirroring
the WARC offset-split design (sources/warc.py).  Hostile or corrupt files
are file-level isolated (zero rows, never a failed task); a corrupt page
is page-level isolated (that page parses to zero cells).

Known approximations (documented, deterministic, shared by the Spark UDF
and the single-process oracle so parity is exact):
- glyph advance is estimated at 0.5 * font_size per byte (no embedded
  font metrics are read) — cell x-extents are approximate, baselines and
  reading order are exact;
- simple-font strings decode as cp1252 (WinAnsi superset of Standard);
  Type0/CID fonts without a ToUnicode map are skipped per-show.
"""

from __future__ import annotations

import io
import re
import zlib
from typing import Any, Iterator, Optional

__all__ = [
    "PdfError",
    "parse_pdf",
    "pdf_page_count",
    "pdf_text_pages",
    "pdf_segmented_pages",
    "build_pdf",
    "demo_pdf_dir",
    "pdf_pages_df",
    "pdf_split_index_df",
]


class PdfError(ValueError):
    """Unparseable PDF (bad header, unrecoverable xref, no page tree)."""


# Decoded bytes allowed per stream and per page's concatenated content: a
# FlateDecode bomb (KBs that inflate to GBs) fails that stream instead of
# the task.  Text-bearing streams are far smaller; images are never decoded.
MAX_INFLATE_BYTES = 64 << 20
_INFLATE_STEP = 1 << 20


# ---------------------------------------------------------------------------
# object model
# ---------------------------------------------------------------------------


class Name(str):
    """A PDF name token (/Foo) — distinct from string values."""

    __slots__ = ()


class Ref:
    """Indirect reference ``num gen R``."""

    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int) -> None:
        self.num = num
        self.gen = gen

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Ref({self.num},{self.gen})"

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Ref) and (self.num, self.gen) == (
            other.num,
            other.gen,
        )

    def __hash__(self) -> int:
        return hash((self.num, self.gen))


class Stream:
    """A stream object: its dict plus the raw (still-encoded) bytes."""

    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes) -> None:
        self.dict = d
        self.raw = raw


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")


class _Lexer:
    """Single-pass tokenizer/parser over a bytes buffer."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    # -- low level ---------------------------------------------------------

    def _skip_ws(self) -> None:
        data, n = self.data, len(self.data)
        pos = self.pos
        while pos < n:
            c = data[pos]
            if c in _WS:
                pos += 1
            elif c == 0x25:  # '%' comment to EOL
                e = data.find(b"\n", pos)
                e2 = data.find(b"\r", pos)
                if e < 0 or (0 <= e2 < e):
                    e = e2
                pos = n if e < 0 else e + 1
            else:
                break
        self.pos = pos

    def _peek_keyword(self) -> bytes:
        data, n = self.data, len(self.data)
        pos = self.pos
        end = pos
        while end < n and data[end] not in _WS and data[end] not in _DELIM:
            end += 1
        return data[pos:end]

    # -- object parsing ----------------------------------------------------

    def parse_object(self) -> Any:
        """Parse one object at the current position (ISO 32000-1 §7.3)."""
        self._skip_ws()
        data, pos = self.data, self.pos
        if pos >= len(data):
            raise PdfError("unexpected end of data")
        c = data[pos]
        if c == 0x2F:  # '/'
            return self._parse_name()
        if c == 0x28:  # '('
            return self._parse_literal_string()
        if c == 0x3C:  # '<'
            if data[pos : pos + 2] == b"<<":
                return self._parse_dict_or_stream()
            return self._parse_hex_string()
        if c == 0x5B:  # '['
            self.pos += 1
            out = []
            while True:
                self._skip_ws()
                if self.pos < len(data) and data[self.pos] == 0x5D:
                    self.pos += 1
                    return out
                out.append(self.parse_object())
        kw = self._peek_keyword()
        if kw == b"true":
            self.pos += 4
            return True
        if kw == b"false":
            self.pos += 5
            return False
        if kw == b"null":
            self.pos += 4
            return None
        m = _NUM_RE.match(data, pos)
        if m and m.end() == pos + len(kw):
            self.pos = m.end()
            first = m.group()
            if b"." not in first:
                # maybe an indirect reference: INT INT R
                save = self.pos
                self._skip_ws()
                m2 = _NUM_RE.match(data, self.pos)
                if m2 and b"." not in m2.group():
                    p3 = m2.end()
                    while p3 < len(data) and data[p3] in _WS:
                        p3 += 1
                    if data[p3 : p3 + 1] == b"R" and (
                        p3 + 1 >= len(data)
                        or data[p3 + 1] in _WS
                        or data[p3 + 1] in _DELIM
                    ):
                        self.pos = p3 + 1
                        return Ref(int(first), int(m2.group()))
                self.pos = save
                return int(first)
            return float(first)
        raise PdfError(f"unexpected token {kw[:20]!r} at {pos}")

    def _parse_name(self) -> Name:
        data, n = self.data, len(self.data)
        pos = self.pos + 1
        out = bytearray()
        while pos < n:
            c = data[pos]
            if c in _WS or c in _DELIM:
                break
            if c == 0x23 and pos + 2 < n:  # '#xx'
                try:
                    out.append(int(data[pos + 1 : pos + 3], 16))
                    pos += 3
                    continue
                except ValueError:
                    pass
            out.append(c)
            pos += 1
        self.pos = pos
        return Name(out.decode("latin-1"))

    def _parse_literal_string(self) -> bytes:
        data, n = self.data, len(self.data)
        pos = self.pos + 1
        out = bytearray()
        depth = 1
        while pos < n:
            c = data[pos]
            if c == 0x5C:  # backslash escape
                pos += 1
                if pos >= n:
                    break
                e = data[pos]
                if e == 0x6E:
                    out.append(0x0A)
                elif e == 0x72:
                    out.append(0x0D)
                elif e == 0x74:
                    out.append(0x09)
                elif e == 0x62:
                    out.append(0x08)
                elif e == 0x66:
                    out.append(0x0C)
                elif e in (0x28, 0x29, 0x5C):
                    out.append(e)
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    oct_digits = bytearray([e])
                    while (
                        len(oct_digits) < 3
                        and pos + 1 < n
                        and 0x30 <= data[pos + 1] <= 0x37
                    ):
                        pos += 1
                        oct_digits.append(data[pos])
                    out.append(int(oct_digits, 8) & 0xFF)
                elif e in (0x0A, 0x0D):  # line continuation
                    if e == 0x0D and pos + 1 < n and data[pos + 1] == 0x0A:
                        pos += 1
                else:
                    out.append(e)
                pos += 1
                continue
            if c == 0x28:
                depth += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    pos += 1
                    break
            out.append(c)
            pos += 1
        self.pos = pos
        return bytes(out)

    def _parse_hex_string(self) -> bytes:
        data = self.data
        end = data.find(b">", self.pos + 1)
        if end < 0:
            raise PdfError("unterminated hex string")
        hx = re.sub(rb"[^0-9A-Fa-f]", b"", data[self.pos + 1 : end])
        if len(hx) % 2:
            hx += b"0"
        self.pos = end + 1
        return bytes.fromhex(hx.decode("ascii"))

    def _parse_dict_or_stream(self) -> Any:
        data = self.data
        self.pos += 2
        d: dict = {}
        while True:
            self._skip_ws()
            if data[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                break
            key = self.parse_object()
            if not isinstance(key, Name):
                raise PdfError("dict key is not a name")
            d[str(key)] = self.parse_object()
        save = self.pos
        self._skip_ws()
        if self._peek_keyword() == b"stream":
            self.pos += 6
            # EOL after 'stream' is CRLF or LF (§7.3.8.1)
            if data[self.pos : self.pos + 2] == b"\r\n":
                self.pos += 2
            elif data[self.pos : self.pos + 1] in (b"\n", b"\r"):
                self.pos += 1
            length = d.get("Length")
            if isinstance(length, int):
                raw = data[self.pos : self.pos + length]
                self.pos += length
            else:
                # Length indirect / missing: scan for endstream
                e = data.find(b"endstream", self.pos)
                if e < 0:
                    raise PdfError("unterminated stream")
                raw = data[self.pos : e].rstrip(b"\r\n")
                self.pos = e
            self._skip_ws()
            if self._peek_keyword() == b"endstream":
                self.pos += 9
            return Stream(d, raw)
        self.pos = save
        return d


# ---------------------------------------------------------------------------
# filters
# ---------------------------------------------------------------------------


def _png_unpredict(data: bytes, colors: int, bpc: int, columns: int) -> bytes:
    """Reverse PNG row predictors (only byte-aligned cases, bpc=8)."""
    bpp = max(1, (colors * bpc) // 8)
    row_len = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(row_len)
    pos = 0
    n = len(data)
    while pos + 1 + row_len <= n:
        ft = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + row_len])
        pos += 1 + row_len
        if ft == 1:  # Sub
            for i in range(bpp, row_len):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(row_len):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(row_len):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(row_len):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


def _inflate(data: bytes) -> bytes:
    """``zlib.decompress`` in bounded steps: raises :class:`PdfError` past
    ``MAX_INFLATE_BYTES`` and ``zlib.error`` on a truncated stream."""
    d = zlib.decompressobj()
    parts: list[bytes] = []
    total = 0
    while not d.eof:
        part = d.decompress(data, _INFLATE_STEP)
        data = d.unconsumed_tail
        if not (part or data or d.eof):
            raise zlib.error("incomplete or truncated stream")
        total += len(part)
        if total > MAX_INFLATE_BYTES:
            raise PdfError(f"FlateDecode output exceeds {MAX_INFLATE_BYTES} bytes")
        parts.append(part)
    return b"".join(parts)


def _decode_stream(doc: "PdfDoc", st: Stream) -> bytes:
    """Apply the stream's filter chain (Flate with predictors, ASCIIHex)."""
    data = st.raw
    filters = doc.resolve(st.dict.get("Filter"))
    if filters is None:
        return data
    if not isinstance(filters, list):
        filters = [filters]
    parms = doc.resolve(st.dict.get("DecodeParms"))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    for f, p in zip(filters, parms):
        f = str(doc.resolve(f) or "")
        p = doc.resolve(p) or {}
        if f == "FlateDecode":
            data = _inflate(data)
            pred = doc.resolve(p.get("Predictor", 1)) or 1
            if pred >= 10:
                data = _png_unpredict(
                    data,
                    int(doc.resolve(p.get("Colors", 1)) or 1),
                    int(doc.resolve(p.get("BitsPerComponent", 8)) or 8),
                    int(doc.resolve(p.get("Columns", 1)) or 1),
                )
            elif pred != 1:
                raise PdfError(f"unsupported predictor {pred}")
        elif f == "ASCIIHexDecode":
            hx = re.sub(rb"[^0-9A-Fa-f]", b"", data.split(b">", 1)[0])
            if len(hx) % 2:
                hx += b"0"
            data = bytes.fromhex(hx.decode("ascii"))
        else:
            raise PdfError(f"unsupported filter {f}")
    return data


# ---------------------------------------------------------------------------
# document: xref resolution
# ---------------------------------------------------------------------------


class PdfDoc:
    """Parsed PDF: xref map + trailer, objects resolved lazily."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.trailer: dict = {}
        # obj num -> ("at", offset) | ("in", objstm_num, idx)
        self._xref: dict[int, tuple] = {}
        self._cache: dict[int, Any] = {}
        self._objstm_cache: dict[int, dict[int, Any]] = {}
        self._tounicode_cache: dict[Any, Optional[dict]] = {}
        if not data.startswith(b"%PDF-"):
            raise PdfError("missing %PDF header")
        try:
            self._load_xref_chain()
        except Exception:  # noqa: BLE001 — a corrupt xref/objstm can
            # surface zlib.error/TypeError/..., not just PdfError; ANY
            # failure here must reach the reconstruction fallback (a
            # partially-loaded trailer Root is kept — it names the right
            # catalog when the scan finds several)
            self._xref.clear()
        if not self._xref or "Root" not in self.trailer:
            self._reconstruct()
        if "Root" not in self.trailer:
            raise PdfError("no document catalog")
        if self.trailer.get("Encrypt") is not None:
            # streams are RC4/AES ciphertext: decrypting is out of scope;
            # fail CLEANLY (file-level isolation) instead of emitting
            # garbage cells from encrypted content
            raise PdfError("encrypted pdf (decryption not supported)")

    # -- xref --------------------------------------------------------------

    def _load_xref_chain(self) -> None:
        tail = self.data[-2048:]
        i = tail.rfind(b"startxref")
        if i < 0:
            raise PdfError("no startxref")
        m = re.search(rb"\d+", tail[i:])
        if not m:
            raise PdfError("bad startxref")
        offset = int(m.group())
        seen: set[int] = set()
        while offset and offset not in seen and 0 <= offset < len(self.data):
            seen.add(offset)
            lex = _Lexer(self.data, offset)
            lex._skip_ws()
            if lex._peek_keyword() == b"xref":
                trailer = self._load_xref_table(lex)
            else:
                trailer = self._load_xref_stream(lex)
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            nxt = trailer.get("Prev")
            # an xref stream referenced from a classic table via XRefStm
            hybrid = trailer.get("XRefStm")
            if isinstance(hybrid, int) and hybrid not in seen:
                try:
                    self._load_xref_stream(_Lexer(self.data, hybrid))
                    seen.add(hybrid)
                except PdfError:
                    pass
            offset = nxt if isinstance(nxt, int) else 0

    def _load_xref_table(self, lex: _Lexer) -> dict:
        lex.pos += 4  # 'xref'
        while True:
            lex._skip_ws()
            if lex._peek_keyword() == b"trailer":
                lex.pos += 7
                trailer = lex.parse_object()
                if not isinstance(trailer, dict):
                    raise PdfError("bad trailer")
                return trailer
            start = lex.parse_object()
            count = lex.parse_object()
            if not isinstance(start, int) or not isinstance(count, int):
                raise PdfError("bad xref subsection header")
            lex._skip_ws()
            for k in range(count):
                ent = lex.data[lex.pos : lex.pos + 20]
                if len(ent) < 18:
                    raise PdfError("truncated xref entry")
                try:
                    off = int(ent[0:10])
                except ValueError:
                    raise PdfError("bad xref entry") from None
                kind = ent[17:18]
                num = start + k
                if kind == b"n" and num not in self._xref:
                    self._xref[num] = ("at", off)
                # entries are fixed 20 bytes per spec; nonstandard 19-byte
                # writers land in the reconstruction fallback via the int()
                # parse failure above
                lex.pos += 20

    def _load_xref_stream(self, lex: _Lexer) -> dict:
        # 'N G obj' header
        num = lex.parse_object()
        gen = lex.parse_object()
        lex._skip_ws()
        if lex._peek_keyword() != b"obj" or not isinstance(num, int):
            raise PdfError("xref offset does not point at an object")
        lex.pos += 3
        obj = lex.parse_object()
        if not isinstance(obj, Stream) or str(obj.dict.get("Type")) != "XRef":
            raise PdfError("not an xref stream")
        _ = gen
        data = _decode_stream(self, obj)
        w = [int(x) for x in obj.dict.get("W", [])]
        if len(w) != 3:
            raise PdfError("bad /W")
        size = int(obj.dict.get("Size", 0))
        index = obj.dict.get("Index", [0, size])
        rec = sum(w)
        pos = 0
        it = iter(index)
        for start, count in zip(it, it):
            for k in range(int(count)):
                if pos + rec > len(data):
                    break
                f = []
                for width in w:
                    f.append(
                        int.from_bytes(data[pos : pos + width], "big") if width else 1
                    )
                    pos += width
                numk = int(start) + k
                if numk in self._xref:
                    continue
                if f[0] == 1:
                    self._xref[numk] = ("at", f[1])
                elif f[0] == 2:
                    self._xref[numk] = ("in", f[1], f[2])
        return dict(obj.dict)

    _OBJ_RE = re.compile(rb"(\d{1,10})\s+(\d{1,5})\s+obj\b")

    def _reconstruct(self) -> None:
        """Brute-force scan when the xref is corrupt: last definition wins
        (incremental updates append), catalog found by /Type/Catalog."""
        for m in self._OBJ_RE.finditer(self.data):
            self._xref[int(m.group(1))] = ("at", m.start())
        if "Root" not in self.trailer:
            for num in sorted(self._xref):
                try:
                    obj = self.get_object(num)
                except PdfError:
                    continue
                if isinstance(obj, dict) and str(obj.get("Type")) == "Catalog":
                    self.trailer["Root"] = Ref(num, 0)
                    break
        # object streams may hold the catalog/pages: expand them too
        if "Root" not in self.trailer:
            for num in sorted(self._xref):
                try:
                    obj = self.get_object(num)
                except PdfError:
                    continue
                if isinstance(obj, Stream) and str(obj.dict.get("Type")) == "ObjStm":
                    try:
                        inner = self._load_objstm(num)
                    except PdfError:
                        continue
                    for inum, val in inner.items():
                        self._xref.setdefault(inum, ("in", num, 0))
                        self._cache[inum] = val
                        if (
                            isinstance(val, dict)
                            and str(val.get("Type")) == "Catalog"
                            and "Root" not in self.trailer
                        ):
                            self.trailer["Root"] = Ref(inum, 0)

    # -- object access -----------------------------------------------------

    def get_object(self, num: int) -> Any:
        if num in self._cache:
            return self._cache[num]
        entry = self._xref.get(num)
        if entry is None:
            return None
        if entry[0] == "at":
            lex = _Lexer(self.data, entry[1])
            try:
                onum = lex.parse_object()
                ogen = lex.parse_object()
                lex._skip_ws()
                if lex._peek_keyword() != b"obj":
                    raise PdfError("xref points at non-object")
                lex.pos += 3
                _ = ogen
                obj = lex.parse_object()
                if isinstance(onum, int) and onum != num:
                    obj = None
            except (PdfError, ValueError, IndexError):
                obj = None
        else:
            stm_num = entry[1]
            inner = self._load_objstm(stm_num)
            obj = inner.get(num)
        self._cache[num] = obj
        return obj

    def _load_objstm(self, stm_num: int) -> dict[int, Any]:
        if stm_num in self._objstm_cache:
            return self._objstm_cache[stm_num]
        out: dict[int, Any] = {}
        st = self.get_object(stm_num)
        if isinstance(st, Stream) and str(st.dict.get("Type")) == "ObjStm":
            try:
                data = _decode_stream(self, st)
            except Exception:  # noqa: BLE001 — corrupt objstm payload:
                # its objects resolve to None, the file stays parseable
                self._objstm_cache[stm_num] = out
                return out
            n = int(self.resolve(st.dict.get("N", 0)) or 0)
            first = int(self.resolve(st.dict.get("First", 0)) or 0)
            head = _Lexer(data[:first])
            pairs = []
            try:
                for _ in range(n):
                    onum = head.parse_object()
                    ooff = head.parse_object()
                    pairs.append((int(onum), int(ooff)))
            except (PdfError, ValueError, TypeError):
                pass
            for onum, ooff in pairs:
                try:
                    out[onum] = _Lexer(data, first + ooff).parse_object()
                except (PdfError, ValueError, IndexError):
                    continue
        self._objstm_cache[stm_num] = out
        return out

    def resolve(self, obj: Any, _depth: int = 0) -> Any:
        while isinstance(obj, Ref) and _depth < 32:
            obj = self.get_object(obj.num)
            _depth += 1
        return obj

    # -- page tree ---------------------------------------------------------

    _INHERIT = ("Resources", "MediaBox", "CropBox", "Rotate")

    def pages(self) -> list[dict]:
        """Flattened page dicts in document order, inherited attrs applied."""
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise PdfError("bad catalog")
        tree = self.resolve(root.get("Pages"))
        out: list[dict] = []
        seen: set[int] = set()

        def walk(node: Any, inherited: dict) -> None:
            node = self.resolve(node)
            if not isinstance(node, dict) or len(out) > 100_000:
                return
            inh = dict(inherited)
            for k in self._INHERIT:
                if k in node:
                    inh[k] = node[k]
            if str(node.get("Type")) == "Page" or (
                "Kids" not in node and "Contents" in node
            ):
                page = dict(node)
                for k, v in inh.items():
                    page.setdefault(k, v)
                out.append(page)
                return
            kids = self.resolve(node.get("Kids"))
            if isinstance(kids, list):
                for kid in kids:
                    key = kid.num if isinstance(kid, Ref) else id(kid)
                    if key in seen:
                        continue
                    seen.add(key)
                    walk(kid, inh)

        walk(tree, {})
        if not out:
            raise PdfError("no pages")
        return out

    def page_content(self, page: dict) -> bytes:
        """Concatenated decoded content streams of a page."""
        contents = self.resolve(page.get("Contents"))
        parts: list[bytes] = []
        total = 0
        items = contents if isinstance(contents, list) else [contents]
        for item in items:
            st = self.resolve(item)
            if isinstance(st, Stream):
                parts.append(_decode_stream(self, st))
                total += len(parts[-1])
                if total > MAX_INFLATE_BYTES:
                    raise PdfError(f"page content exceeds {MAX_INFLATE_BYTES} bytes")
        return b"\n".join(parts)

    def page_fonts(self, page: dict) -> dict[str, dict]:
        """Font resource name -> font dict for a page; Type0 fonts get
        their ToUnicode CMap pre-resolved into ``_tounicode_map`` so the
        content interpreter stays doc-free."""
        res = self.resolve(page.get("Resources")) or {}
        fonts = self.resolve(res.get("Font")) or {}
        out = {}
        if isinstance(fonts, dict):
            for k, v in fonts.items():
                f = self.resolve(v)
                if isinstance(f, dict):
                    f = dict(f)
                    tu_ref = f.get("ToUnicode")
                    tu = self.resolve(tu_ref)
                    if isinstance(tu, Stream):
                        # memoize per document — an N-page PDF sharing one
                        # Type0 font must not inflate+parse the CMap N times
                        key = tu_ref.num if isinstance(tu_ref, Ref) else id(tu)
                        if key not in self._tounicode_cache:
                            try:
                                self._tounicode_cache[key] = parse_tounicode(
                                    _decode_stream(self, tu)
                                )
                            except Exception:  # noqa: BLE001 — corrupt
                                # CMap: font falls back to the no-map skip
                                self._tounicode_cache[key] = None
                        if self._tounicode_cache[key] is not None:
                            f["_tounicode_map"] = self._tounicode_cache[key]
                    out[k] = f
        return out


def parse_pdf(data: bytes) -> PdfDoc:
    """Parse PDF bytes into a lazily-resolved document.

    Raises :class:`PdfError` for ANY unparseable input — lower-level
    exceptions (zlib.error from corrupt streams, recursion limits, ...)
    are normalized so callers have one failure type to isolate on."""
    try:
        return PdfDoc(bytes(data))
    except PdfError:
        raise
    except Exception as e:  # noqa: BLE001 — normalize hostile-input errors
        raise PdfError(f"unparseable pdf: {type(e).__name__}: {e}") from e


# ---------------------------------------------------------------------------
# content-stream text interpreter
# ---------------------------------------------------------------------------


def _mat_mul(a: tuple, b: tuple) -> tuple:
    """3x2 affine multiply: result = a @ b (PDF row-vector convention)."""
    a0, a1, a2, a3, a4, a5 = a
    b0, b1, b2, b3, b4, b5 = b
    return (
        a0 * b0 + a1 * b2,
        a0 * b1 + a1 * b3,
        a2 * b0 + a3 * b2,
        a2 * b1 + a3 * b3,
        a4 * b0 + a5 * b2 + b4,
        a4 * b1 + a5 * b3 + b5,
    )


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)

# per-byte advance estimate, in text-space units of 1/font_size — no font
# metrics are embedded in the fixtures; deterministic and oracle-shared
_ADV = 0.5


def parse_tounicode(cmap: bytes) -> dict[int, str]:
    """ToUnicode CMap -> {code: unicode string} (bfchar + bfrange blocks;
    2-byte codes, the Identity-H convention — ISO 32000-1 §9.10.3)."""
    out: dict[int, str] = {}

    def _hex_items(block: bytes) -> list:
        lex = _Lexer(block)
        items = []
        while True:
            try:
                lex._skip_ws()
                if lex.pos >= len(lex.data):
                    break
                c = lex.data[lex.pos]
                if c == 0x3C and lex.data[lex.pos : lex.pos + 2] != b"<<":
                    items.append(lex.parse_object())
                elif c == 0x5B:
                    items.append(lex.parse_object())
                else:
                    lex.pos += 1
            except (PdfError, ValueError, IndexError):
                break
        return items

    def _u(b: bytes) -> str:
        try:
            return b.decode("utf-16-be")
        except UnicodeDecodeError:
            return b.decode("utf-16-be", "replace")

    pos = 0
    while True:
        s = cmap.find(b"beginbfchar", pos)
        if s < 0:
            break
        e = cmap.find(b"endbfchar", s)
        if e < 0:
            break
        items = _hex_items(cmap[s + 11 : e])
        for i in range(0, len(items) - 1, 2):
            src, dst = items[i], items[i + 1]
            if isinstance(src, bytes) and isinstance(dst, bytes):
                out[int.from_bytes(src, "big")] = _u(dst)
        pos = e + 9
    pos = 0
    while True:
        s = cmap.find(b"beginbfrange", pos)
        if s < 0:
            break
        e = cmap.find(b"endbfrange", s)
        if e < 0:
            break
        items = _hex_items(cmap[s + 12 : e])
        i = 0
        while i + 3 <= len(items):
            lo, hi, dst = items[i], items[i + 1], items[i + 2]
            i += 3
            if not (isinstance(lo, bytes) and isinstance(hi, bytes)):
                continue
            lo_i, hi_i = int.from_bytes(lo, "big"), int.from_bytes(hi, "big")
            if hi_i - lo_i > 65535:
                continue  # hostile range bound
            # per-ENTRY tolerance: one hostile range must not discard the
            # whole CMap (the valid bfchar mappings already parsed)
            try:
                if isinstance(dst, bytes):
                    base = int.from_bytes(dst, "big")
                    width = len(dst)
                    for k in range(lo_i, hi_i + 1):
                        v = base + k - lo_i
                        w = max(width, (v.bit_length() + 7) // 8 or 1)
                        # UTF-16BE needs an even byte count
                        out[k] = _u(v.to_bytes(w + (w & 1), "big"))
                elif isinstance(dst, list):
                    for k, d in enumerate(dst):
                        if isinstance(d, bytes) and lo_i + k <= hi_i:
                            out[lo_i + k] = _u(d)
            except (OverflowError, ValueError):
                continue
        pos = e + 10
    return out


def _decode_show(raw: bytes, font: Optional[dict]) -> Optional[str]:
    """Decode a show-operator string: simple fonts as cp1252; Type0/CID
    fonts via their ToUnicode CMap (2-byte codes), else skipped."""
    sub = str(font.get("Subtype")) if font else ""
    if sub == "Type0":
        tmap = font.get("_tounicode_map") if font else None
        if not tmap:
            return None  # CID font without ToUnicode: skip the show
        out = []
        for i in range(0, len(raw) - 1, 2):
            code = (raw[i] << 8) | raw[i + 1]
            out.append(tmap.get(code, "�"))
        return "".join(out)
    try:
        return raw.decode("cp1252")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


def extract_page_cells(content: bytes, fonts: dict[str, dict]) -> list[dict]:
    """Run the text ops of one content stream -> positioned show fragments.

    Returns one dict per show group: {x, y, size, text} in page space
    (bottom-left origin).  Fragments on the same baseline are later merged
    into line cells by :func:`_group_lines`.
    """
    lex = _Lexer(content)
    stack: list[Any] = []
    ctm = _ID
    ctm_stack: list[tuple] = []
    tm = _ID
    tlm = _ID
    leading = 0.0
    size = 0.0
    font: Optional[dict] = None
    frags: list[dict] = []
    in_text = False

    def show(raw: Any) -> None:
        nonlocal tm
        if not isinstance(raw, (bytes, bytearray)) or not in_text or size <= 0:
            return
        text = _decode_show(bytes(raw), font)
        if text is None:
            return
        m = _mat_mul(tm, ctm)
        x, y = m[4], m[5]
        eff = size * ((m[0] ** 2 + m[1] ** 2) ** 0.5)
        if text.strip():
            frags.append({"x": x, "y": y, "size": eff, "text": text})
        # advance the text matrix by the estimated width
        tx = len(raw) * _ADV * size
        tm = _mat_mul((1, 0, 0, 1, tx, 0), tm)

    def next_line(tx: float, ty: float) -> None:
        nonlocal tm, tlm
        tlm = _mat_mul((1, 0, 0, 1, tx, ty), tlm)
        tm = tlm

    while True:
        try:
            lex._skip_ws()
            if lex.pos >= len(lex.data):
                break
            c = lex.data[lex.pos]
            if (
                c in b"/([<+-."
                or 0x30 <= c <= 0x39
                or lex.data[lex.pos : lex.pos + 2] == b"<<"
            ):
                stack.append(lex.parse_object())
                if len(stack) > 64:
                    del stack[:-16]
                continue
            op = lex._peek_keyword()
            if not op:
                lex.pos += 1  # stray delimiter (e.g. ']' from a bad TJ)
                continue
            lex.pos += len(op)
        except (PdfError, ValueError, IndexError):
            break
        try:
            if op == b"BT":
                in_text = True
                tm = tlm = _ID
            elif op == b"ET":
                in_text = False
            elif op == b"Tf" and len(stack) >= 2:
                size = float(stack[-1])
                fname = stack[-2]
                font = fonts.get(str(fname)) if isinstance(fname, Name) else None
            elif op == b"Td" and len(stack) >= 2:
                next_line(float(stack[-2]), float(stack[-1]))
            elif op == b"TD" and len(stack) >= 2:
                leading = -float(stack[-1])
                next_line(float(stack[-2]), float(stack[-1]))
            elif op == b"Tm" and len(stack) >= 6:
                tlm = tuple(float(v) for v in stack[-6:])
                tm = tlm
            elif op == b"T*":
                next_line(0.0, -leading)
            elif op == b"TL" and stack:
                leading = float(stack[-1])
            elif op == b"Tj" and stack:
                show(stack[-1])
            elif op == b"'" and stack:
                next_line(0.0, -leading)
                show(stack[-1])
            elif op == b'"' and len(stack) >= 3:
                next_line(0.0, -leading)
                show(stack[-1])
            elif op == b"TJ" and stack and isinstance(stack[-1], list):
                for item in stack[-1]:
                    if isinstance(item, (bytes, bytearray)):
                        show(item)
                    elif isinstance(item, (int, float)) and in_text:
                        tx = -float(item) / 1000.0 * size
                        tm = _mat_mul((1, 0, 0, 1, tx, 0), tm)
            elif op == b"q":
                ctm_stack.append(ctm)
            elif op == b"Q":
                ctm = ctm_stack.pop() if ctm_stack else _ID
            elif op == b"cm" and len(stack) >= 6:
                ctm = _mat_mul(tuple(float(v) for v in stack[-6:]), ctm)
        except (TypeError, ValueError, IndexError):
            pass
        stack.clear()
    return frags


def _group_lines(frags: list[dict]) -> list[dict]:
    """Merge show fragments into baseline line cells, reading order.

    Reading order: top-down (descending y, bottom-left origin), then
    left-to-right.  Fragments within 0.4 * size of a baseline join it;
    a gap wider than one estimated space inserts a space.
    """
    lines: list[dict] = []
    for f in sorted(frags, key=lambda f: (-round(f["y"], 2), round(f["x"], 2))):
        tgt = None
        for ln in lines:
            if abs(ln["y"] - f["y"]) <= 0.4 * max(ln["size"], f["size"], 1.0):
                tgt = ln
                break
        w = len(f["text"]) * _ADV * f["size"]
        if tgt is None:
            lines.append(
                {
                    "y": f["y"],
                    "x0": f["x"],
                    "x1": f["x"] + w,
                    "size": f["size"],
                    "text": f["text"],
                }
            )
            continue
        gap = f["x"] - tgt["x1"]
        sep = " " if gap > _ADV * max(tgt["size"], f["size"]) * 0.9 else ""
        tgt["text"] += sep + f["text"]
        tgt["x1"] = max(tgt["x1"], f["x"] + w)
        tgt["x0"] = min(tgt["x0"], f["x"])
        tgt["size"] = max(tgt["size"], f["size"])
    lines.sort(key=lambda ln: (-round(ln["y"], 2), round(ln["x0"], 2)))
    return lines


def _media_box(doc: PdfDoc, page: dict) -> tuple[float, float, float, float]:
    mb = doc.resolve(page.get("MediaBox"))
    try:
        x0, y0, x1, y1 = (float(doc.resolve(v)) for v in mb)
        return x0, y0, x1, y1
    except (TypeError, ValueError):
        return 0.0, 0.0, 612.0, 792.0


def pdf_text_pages(
    data: bytes, page_range: Optional[tuple[int, int]] = None
) -> list[dict]:
    """PDF bytes -> one dict per page: page_no (1-based), width, height,
    cells (line cells: text/x0/y/x1/size), text (reading-order, \\n-joined).

    ``page_range=(start, end)`` extracts only pages start..end (1-based,
    inclusive) — the split-parity unit.  A page whose content stream is
    corrupt parses to zero cells (page-level isolation); an unparseable
    file raises :class:`PdfError` (callers map it to zero rows).
    """
    doc = parse_pdf(data)
    pages = doc.pages()
    out = []
    for i, page in enumerate(pages, start=1):
        if page_range is not None and not (page_range[0] <= i <= page_range[1]):
            continue
        x0, y0, x1, y1 = _media_box(doc, page)
        try:
            content = doc.page_content(page)
            fonts = doc.page_fonts(page)
            lines = _group_lines(extract_page_cells(content, fonts))
        except (PdfError, zlib.error, ValueError, RecursionError):
            lines = []  # page-level isolation: corrupt content -> no cells
        out.append(
            {
                "page_no": i,
                "width": x1 - x0,
                "height": y1 - y0,
                "cells": lines,
                "text": "\n".join(ln["text"] for ln in lines),
            }
        )
    return out


def pdf_page_count(data: bytes) -> int:
    """Number of pages — metadata-only (no content stream is inflated)."""
    return len(parse_pdf(data).pages())


def pdf_segmented_pages(data: bytes) -> list[dict]:
    """PDF bytes -> SegmentedPage dicts (model/page.py shape): textline
    cells with bottom-left-origin rects, page geometry from the MediaBox."""
    from docling_core_spark.model.page import (
        page_geometry,
        rectangle,
        text_cell,
    )

    out = []
    for p in pdf_text_pages(data):
        cells = []
        for i, ln in enumerate(p["cells"]):
            r = rectangle(
                ln["x0"], ln["y"], ln["x1"], ln["y"],
                ln["x1"], ln["y"] + ln["size"], ln["x0"], ln["y"] + ln["size"],
            )
            cells.append(
                text_cell(rect=r, text=ln["text"], orig=ln["text"], index=i)
            )
        dim = page_geometry(
            angle=0.0,
            rect=rectangle(
                0.0, 0.0, p["width"], 0.0,
                p["width"], p["height"], 0.0, p["height"],
            ),
        )
        out.append(
            {
                "dimension": dim,
                "textline_cells": cells,
                "char_cells": [],
                "word_cells": [],
                "has_lines": bool(cells),
                "has_chars": False,
                "has_words": False,
            }
        )
    return out


def pdf_to_doc(data: bytes, name: str = "document"):
    """PDF bytes -> Doc (the document-model peer of parse_html).

    Layout heuristics over the line cells (deterministic, oracle-shared):
    - body size = the most common cell font size (rounded to 0.5pt);
      a line >= 1.2x body size is a heading (the first one is the title),
      heading level from the size ratio (>=1.8x -> 1, >=1.4x -> 2, else 3);
    - consecutive body lines merge into one paragraph until the vertical
      gap to the next line exceeds 1.8x the font size, a heading breaks in,
      or the page ends;
    - provenance: real page_no, bbox = the merged lines' extent
      (bottom-left origin, the page coordinate space), charspan [0, len].
    """
    from collections import Counter

    from docling_core_spark.model.doc import Doc

    pages = pdf_text_pages(data)
    doc = Doc(name=name)
    sizes = Counter(
        round(c["size"] * 2) / 2 for p in pages for c in p["cells"]
    )
    body_size = sizes.most_common(1)[0][0] if sizes else 10.0
    saw_title = False

    def prov(page_no: int, lines: list[dict], text: str) -> list[dict]:
        return [
            {
                "page_no": page_no,
                "bbox": {
                    "l": min(ln["x0"] for ln in lines),
                    "r": max(ln["x1"] for ln in lines),
                    "t": max(ln["y"] + ln["size"] for ln in lines),
                    "b": min(ln["y"] for ln in lines),
                    "coord_origin": "BOTTOMLEFT",
                },
                "charspan": [0, len(text)],
            }
        ]

    def flush(page_no: int, para: list[dict]) -> None:
        if not para:
            return
        text = " ".join(ln["text"] for ln in para)
        doc.add_text("text", text, prov=prov(page_no, para, text))

    for p in pages:
        doc.add_page(p["page_no"], p["width"], p["height"])
        para: list[dict] = []
        prev: Optional[dict] = None
        for ln in p["cells"]:
            if ln["size"] >= 1.2 * body_size:
                flush(p["page_no"], para)
                para, prev = [], None
                ratio = ln["size"] / body_size
                pv = prov(p["page_no"], [ln], ln["text"])
                if not saw_title:
                    doc.add_title(ln["text"], prov=pv)
                    saw_title = True
                else:
                    level = 1 if ratio >= 1.8 else (2 if ratio >= 1.4 else 3)
                    doc.add_heading(ln["text"], level=level, prov=pv)
                continue
            if prev is not None and (prev["y"] - ln["y"]) > 1.8 * max(
                ln["size"], prev["size"]
            ):
                flush(p["page_no"], para)
                para = []
            para.append(ln)
            prev = ln
        flush(p["page_no"], para)
    return doc


# ---------------------------------------------------------------------------
# writer (test/demo fixture generator)
# ---------------------------------------------------------------------------


def _esc_lit(s: str) -> bytes:
    raw = s.encode("cp1252", errors="replace")
    return (
        raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
    )


def _content_stream(texts: list[tuple], height: float) -> bytes:
    """texts: (x, y_top, size, text) with y from the TOP (writer-friendly);
    emitted in bottom-left page space."""
    parts = [b"BT"]
    for x, y_top, size, text in texts:
        y = height - y_top
        parts.append(
            b"/F1 %s Tf 1 0 0 1 %s %s Tm (%s) Tj"
            % (_num(size), _num(x), _num(y), _esc_lit(text))
        )
    parts.append(b"ET")
    return b"\n".join(parts)


def _num(v: float) -> bytes:
    s = f"{v:.2f}".rstrip("0").rstrip(".")
    return (s or "0").encode("ascii")


def _ser(obj: Any) -> bytes:
    """Serialize a python object as PDF syntax (writer-side)."""
    if isinstance(obj, Name):
        return b"/" + str(obj).encode("latin-1")
    if isinstance(obj, bool):
        return b"true" if obj else b"false"
    if isinstance(obj, (int,)):
        return str(obj).encode("ascii")
    if isinstance(obj, float):
        return _num(obj)
    if isinstance(obj, Ref):
        return b"%d %d R" % (obj.num, obj.gen)
    if isinstance(obj, bytes):
        return (
            b"("
            + obj.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
            + b")"
        )
    if isinstance(obj, str):
        return _ser(obj.encode("cp1252", "replace"))
    if isinstance(obj, list):
        return b"[" + b" ".join(_ser(v) for v in obj) + b"]"
    if isinstance(obj, dict):
        return (
            b"<< "
            + b" ".join(
                b"/%s %s" % (k.encode("latin-1"), _ser(v)) for k, v in obj.items()
            )
            + b" >>"
        )
    if obj is None:
        return b"null"
    raise TypeError(f"cannot serialize {type(obj)}")


def build_pdf(
    pages: list[dict],
    xref_stream: bool = False,
    compress: bool = True,
) -> bytes:
    """Deterministic single-font PDF writer for fixtures.

    ``pages``: [{"width": W, "height": H, "texts": [(x, y_from_top, size,
    text), ...]}].  ``xref_stream=True`` emits the 1.5+ framing (ObjStm for
    the catalog/page dicts + a FlateDecode /Type/XRef stream with PNG-up
    predictor) so the parser's modern path is exercised; otherwise the
    classic xref table + trailer.
    """
    buf = io.BytesIO()
    buf.write(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}

    # object numbering: 1=catalog, 2=pages, 3=font, then per page
    # (page dict, content stream)
    n_pages = len(pages)
    catalog = {"Type": Name("Catalog"), "Pages": Ref(2, 0)}
    kids = [Ref(4 + 2 * i, 0) for i in range(n_pages)]
    pages_obj = {"Type": Name("Pages"), "Kids": kids, "Count": n_pages}
    font_obj = {
        "Type": Name("Font"),
        "Subtype": Name("Type1"),
        "BaseFont": Name("Helvetica"),
        "Encoding": Name("WinAnsiEncoding"),
    }
    page_objs = []
    content_objs = []
    for i, p in enumerate(pages):
        w, h = float(p.get("width", 612)), float(p.get("height", 792))
        page_objs.append(
            {
                "Type": Name("Page"),
                "Parent": Ref(2, 0),
                "MediaBox": [0, 0, w, h],
                "Resources": {"Font": {"F1": Ref(3, 0)}},
                "Contents": Ref(5 + 2 * i, 0),
            }
        )
        content_objs.append(_content_stream(p.get("texts", []), h))

    def write_obj(num: int, body: bytes) -> None:
        offsets[num] = buf.tell()
        buf.write(b"%d 0 obj\n" % num)
        buf.write(body)
        buf.write(b"\nendobj\n")

    def write_stream_obj(num: int, d: dict, data: bytes) -> None:
        if compress:
            data = zlib.compress(data, 6)
            d = dict(d, Filter=Name("FlateDecode"))
        d = dict(d, Length=len(data))
        offsets[num] = buf.tell()
        buf.write(b"%d 0 obj\n" % num)
        buf.write(_ser(d))
        buf.write(b"\nstream\n")
        buf.write(data)
        buf.write(b"\nendstream\nendobj\n")

    if not xref_stream:
        write_obj(1, _ser(catalog))
        write_obj(2, _ser(pages_obj))
        write_obj(3, _ser(font_obj))
        for i in range(n_pages):
            write_obj(4 + 2 * i, _ser(page_objs[i]))
            write_stream_obj(5 + 2 * i, {}, content_objs[i])
        xref_at = buf.tell()
        max_num = 3 + 2 * n_pages
        buf.write(b"xref\n0 %d\n" % (max_num + 1))
        buf.write(b"0000000000 65535 f \n")
        for num in range(1, max_num + 1):
            buf.write(b"%010d 00000 n \n" % offsets[num])
        trailer = {"Size": max_num + 1, "Root": Ref(1, 0)}
        buf.write(b"trailer\n" + _ser(trailer) + b"\n")
        buf.write(b"startxref\n%d\n%%%%EOF\n" % xref_at)
        return buf.getvalue()

    # modern framing: dict objects go into ONE object stream
    inner = [(1, catalog), (2, pages_obj), (3, font_obj)]
    for i in range(n_pages):
        inner.append((4 + 2 * i, page_objs[i]))
    bodies = [_ser(o) for _, o in inner]
    offs = []
    pos = 0
    for b in bodies:
        offs.append(pos)
        pos += len(b) + 1
    head = b" ".join(b"%d %d" % (num, off) for (num, _), off in zip(inner, offs))
    head += b"\n"
    objstm_num = 4 + 2 * n_pages
    objstm_payload = head + b"\n".join(bodies) + b"\n"
    # content streams are regular top-level objects
    for i in range(n_pages):
        write_stream_obj(5 + 2 * i, {}, content_objs[i])
    write_stream_obj(
        objstm_num,
        {"Type": Name("ObjStm"), "N": len(inner), "First": len(head)},
        objstm_payload,
    )
    # xref stream: W=[1 4 2], entries for 0..xref_num, PNG-up predictor
    xref_num = objstm_num + 1
    entries: list[tuple[int, int, int]] = [(0, 0, 65535)]
    for num in range(1, xref_num):
        if num in offsets:
            entries.append((1, offsets[num], 0))
        else:
            idx = next(k for k, (inum, _) in enumerate(inner) if inum == num)
            entries.append((2, objstm_num, idx))
    entries.append((1, 0, 0))  # placeholder for the xref stream itself
    xref_at = buf.tell()
    entries[xref_num] = (1, xref_at, 0)
    row_len = 7
    raw = bytearray()
    prev = bytes(row_len)
    for t, a, b in entries:
        row = bytes([t]) + a.to_bytes(4, "big") + b.to_bytes(2, "big")
        raw.append(2)  # PNG Up filter
        raw += bytes((row[i] - prev[i]) & 0xFF for i in range(row_len))
        prev = row
    xdata = zlib.compress(bytes(raw), 6)
    xdict = {
        "Type": Name("XRef"),
        "Size": xref_num + 1,
        "W": [1, 4, 2],
        "Root": Ref(1, 0),
        "Filter": Name("FlateDecode"),
        "DecodeParms": {"Predictor": 12, "Columns": row_len},
        "Length": len(xdata),
    }
    buf.write(b"%d 0 obj\n" % xref_num)
    buf.write(_ser(xdict))
    buf.write(b"\nstream\n")
    buf.write(xdata)
    buf.write(b"\nendstream\nendobj\n")
    buf.write(b"startxref\n%d\n%%%%EOF\n" % xref_at)
    return buf.getvalue()


# ---------------------------------------------------------------------------
# demo corpus (driver query + oracle input prep)
# ---------------------------------------------------------------------------


def _wrap_lines(text: str, width: int = 90) -> list[str]:
    out = []
    for para in text.split("\n"):
        words = para.split()
        cur: list[str] = []
        ln = 0
        for w in words:
            if cur and ln + 1 + len(w) > width:
                out.append(" ".join(cur))
                cur, ln = [], 0
            cur.append(w)
            ln += (1 if ln else 0) + len(w)
        if cur:
            out.append(" ".join(cur))
    return out


def doc_to_pdf_pages(doc_id: int, text: str, lines_per_page: int = 40) -> list[dict]:
    """Deterministic page layout for one corpus document: a larger heading
    line (the doc id) then body lines at 10pt/14pt leading, 72pt margins."""
    lines = _wrap_lines(text)
    pages = []
    body = [f"Document {doc_id}"] + lines
    per = lines_per_page
    for pi in range(0, len(body), per):
        chunk = body[pi : pi + per]
        texts = []
        y = 72.0
        for j, ln in enumerate(chunk):
            if pi == 0 and j == 0:
                texts.append((72.0, y, 18.0, ln))
                y += 24.0
            else:
                texts.append((72.0, y, 10.0, ln))
                y += 14.0
        pages.append({"width": 612.0, "height": 792.0, "texts": texts})
    return pages


def demo_pdf_dir(sf_dir: str, n_files: int = 6, max_docs: int = 120) -> str:
    """Materialize a deterministic PDF corpus from the sf documents table
    (digest-keyed under tempdir; both engines parse the same files).
    Alternates classic-xref and xref-stream framing across files so the
    driver query exercises both parser paths."""
    import hashlib
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    sf_name = os.path.basename(sf_dir.rstrip("/"))
    key = hashlib.sha256(
        f"pdfdemo1:{sf_dir}:{n_files}:{max_docs}".encode()
    ).hexdigest()[:12]
    out_dir = os.path.join(tempfile.gettempdir(), f"pdf_demo_{sf_name}_{key}")
    marker = os.path.join(out_dir, "_complete")
    if os.path.exists(marker):
        return out_dir
    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = sorted(tbl.to_pylist(), key=lambda r: r["doc_id"])[:max_docs]
    tmp = out_dir + f".tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    per = (len(docs) + n_files - 1) // n_files
    for i in range(n_files):
        chunk = docs[i * per : (i + 1) * per]
        if not chunk:
            continue
        pages: list[dict] = []
        for r in chunk:
            pages.extend(doc_to_pdf_pages(int(r["doc_id"]), str(r["text"])))
        data = build_pdf(pages, xref_stream=(i % 2 == 1))
        with open(os.path.join(tmp, f"doc-{i:03d}.pdf"), "wb") as f:
            f.write(data)
    with open(os.path.join(tmp, "_complete"), "w") as f:
        f.write("ok")
    try:
        os.rename(tmp, out_dir)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return out_dir


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def _strip_file_scheme(path: str) -> str:
    """binaryFile paths arrive as file:/abs or file:///abs URIs locally."""
    if path.startswith("file:"):
        rest = path[5:]
        while rest.startswith("//"):
            rest = rest[1:]
        return rest
    return path


def _page_rows(path: str, data: bytes, page_range=None) -> list[dict]:
    try:
        pages = pdf_text_pages(data, page_range=page_range)
    except Exception:  # noqa: BLE001 — file-level isolation: one hostile
        # or corrupt PDF yields zero rows, never a failed task (the
        # warc/_rows_from_bytes contract)
        pages = []
    fname = path.rsplit("/", 1)[-1]
    return [
        {
            "path": fname,
            "page_no": p["page_no"],
            "width": p["width"],
            "height": p["height"],
            "n_cells": len(p["cells"]),
            "text": p["text"],
        }
        for p in pages
    ]


_PAGES_SCHEMA = (
    "path string, page_no int, width double, height double, "
    "n_cells int, text string"
)


def pdf_split_index_df(spark, path: str, pages_per_split: int = 64):
    """(path, page_start, page_end) split table for PDFs under ``path``.

    Metadata-only index: the binaryFile scan projects content, but only
    the xref + page tree are parsed (no content stream is inflated), so
    indexing a jumbo PDF costs one object-table walk.  An unindexable file
    falls back to ONE whole-file split (page_start=1, page_end=-1 = all)."""
    import pandas as pd

    def index(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                local = _strip_file_scheme(str(p))
                try:
                    n = pdf_page_count(bytes(content))
                except Exception:  # noqa: BLE001 — hostile file: one
                    # whole-file split; the parse stage isolates it
                    rows.append(
                        {"path": local, "page_start": 1, "page_end": -1}
                    )
                    continue
                for s in range(1, n + 1, pages_per_split):
                    rows.append(
                        {
                            "path": local,
                            "page_start": s,
                            "page_end": min(n, s + pages_per_split - 1),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["path", "page_start", "page_end"]
            )

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(
        index, schema="path string, page_start int, page_end int"
    )


def pdf_pages_df(spark, path: str, split_pages: Optional[int] = None):
    """Read PDF files into a page-text table (path, page_no, width, height,
    n_cells, text).

    Default: binaryFile source -> one row per file -> mapInPandas parse.
    With ``split_pages=N``, the two-stage page-range path runs instead:
    a metadata-only index emits (path, page_start, page_end) ranges,
    ranges repartition across the cluster, and each task re-opens its file
    but inflates ONLY its pages' content streams — a jumbo PDF
    parallelizes intra-file and peak task memory is bounded by the range
    (mirrors warc_pages_df's offset splits)."""
    import pandas as pd

    if split_pages is not None:

        def run_ranges(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            for pdf in batches:
                rows = []
                for p, s, e in zip(
                    pdf["path"], pdf["page_start"], pdf["page_end"]
                ):
                    try:
                        with open(_strip_file_scheme(str(p)), "rb") as f:
                            data = f.read()
                    except OSError:
                        continue  # file vanished between index and read
                    rng = (int(s), int(e)) if int(e) >= 0 else (1, 10**9)
                    rows.extend(_page_rows(str(p), data, page_range=rng))
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "path", "page_no", "width", "height", "n_cells", "text",
                    ],
                )

        splits = pdf_split_index_df(spark, path, split_pages)
        n_parts = spark.sparkContext.defaultParallelism
        return splits.repartition(n_parts).mapInPandas(
            run_ranges, schema=_PAGES_SCHEMA
        )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                rows.extend(_page_rows(str(p), bytes(content)))
            yield pd.DataFrame(
                rows,
                columns=["path", "page_no", "width", "height", "n_cells", "text"],
            )

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(run, schema=_PAGES_SCHEMA)


def pdf_doc_row(path: str, data: bytes) -> Optional[dict]:
    """One PDF -> (path, n_pages, n_texts, markdown) via the document
    model; None for an unparseable file (file-level isolation).  Shared by
    the Spark UDF and the single-process oracle."""
    from docling_core_spark.functions.serializers import export_to_markdown

    fname = path.rsplit("/", 1)[-1]
    try:
        doc = pdf_to_doc(data, name=fname)
        md = export_to_markdown(doc)
        return {
            "path": fname,
            "n_pages": len(doc.pages),
            "n_texts": len(doc.texts),
            "markdown": md,
        }
    except Exception:  # noqa: BLE001 — hostile/corrupt file: zero rows
        return None


def pdf_docs_df(spark, path: str):
    """PDF files -> document-model rows (path, n_pages, n_texts, markdown).

    The PDF peer of the HTML extract stage: bytes -> positioned cells ->
    Doc (font-size heading detection, paragraph grouping, per-page prov)
    -> markdown, fused in ONE mapInPandas stage per file."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                r = pdf_doc_row(str(p), bytes(content))
                if r is not None:
                    rows.append(r)
            yield pd.DataFrame(
                rows, columns=["path", "n_pages", "n_texts", "markdown"]
            )

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(
        run, schema="path string, n_pages int, n_texts int, markdown string"
    )
