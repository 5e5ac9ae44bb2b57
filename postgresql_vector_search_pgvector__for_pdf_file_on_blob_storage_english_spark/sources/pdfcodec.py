"""Minimal pure-Python PDF text codec — reader and writer.

The reference extracts per-page text from real PDFs with PDFBox's
``PDFTextStripper`` (BlobUploadDetector/.../Function.java:92-134).  This
environment ships no PDF library, and the build contract forbids
installing one, so this module implements the subset of ISO 32000
needed for that job from scratch, stdlib-only (``zlib``, ``re``,
``struct``-free):

* **reader** — :func:`extract_text_pdf`: classic xref PDFs, object
  parsing (dicts / arrays / names / numbers / literal + hex strings /
  indirect references), ``FlateDecode`` and uncompressed content
  streams, page-tree walk, and the text operators ``Tj  '  "  TJ  Td
  TD  T*  BT/ET``.  Layout reconstruction (kerning-width spacing,
  multi-column ordering, CID/ToUnicode fonts) is out of scope — pages
  produced by simple single-font writers (including :func:`make_pdf`)
  round-trip exactly.
* **writer** — :func:`make_pdf`: a deterministic single-font PDF
  generator used for golden tests and the oracle-gated encode→decode
  round-trip (the same role PDFBox's test fixtures play for the
  reference).

Both halves are deterministic: no timestamps, no ids, no randomness —
``make_pdf(pages)`` is a pure function of its input, so golden bytes
are stable across runs and the round-trip is DuckDB-oracle-checkable.
"""

from __future__ import annotations

import re
import zlib
from typing import NamedTuple

# Inflated bytes one content stream may reach.  The largest measured is
# 17,389 B (a ~16k-char page of perfbench's generated PDFs; the test and
# registry fixtures stay under 11 kB); 4 MiB leaves ~240x headroom for
# denser real pages, while a deflate bomb (zlib packs zeros ~1000:1)
# can no longer ask a worker for ~1000x its upload size.
MAX_STREAM_BYTES = 4 << 20

# ---------------------------------------------------------------------------
# Object model
# ---------------------------------------------------------------------------


class Ref(NamedTuple):
    """An indirect reference ``num gen R``."""

    num: int
    gen: int


class Name(str):
    """A PDF name object (``/Foo``); subclass so dict keys stay plain str."""


class Keyword(bytes):
    """A bare keyword/operator token (``Tj``, ``R``, ``BT`` …) — distinct
    from literal-string ``bytes`` so content-stream parsing can tell
    operators from operands."""


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


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


def _parse_name(data: bytes, i: int) -> tuple[str, int]:
    # i points at '/'
    i += 1
    out = bytearray()
    n = len(data)
    while i < n:
        c = data[i]
        b = data[i : i + 1]
        if b in _WS or b in b"()<>[]{}/%":
            break
        if b == b"#" and i + 2 < n:
            out.append(int(data[i + 1 : i + 3], 16))
            i += 3
        else:
            out.append(c)
            i += 1
    return out.decode("latin-1"), i


_ESCAPES = {
    ord("n"): b"\n",
    ord("r"): b"\r",
    ord("t"): b"\t",
    ord("b"): b"\b",
    ord("f"): b"\f",
    ord("("): b"(",
    ord(")"): b")",
    ord("\\"): b"\\",
}


def _parse_literal_string(data: bytes, i: int) -> tuple[bytes, int]:
    # i points at '('
    i += 1
    depth = 1
    out = bytearray()
    n = len(data)
    while i < n and depth:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in _ESCAPES:
                out += _ESCAPES[e]
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                j = i
                while j < min(i + 3, n) and 0x30 <= data[j] <= 0x37:
                    j += 1
                out.append(int(data[i:j], 8) & 0xFF)
                i = j
            elif e in (0x0D, 0x0A):  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:  # unknown escape: the char itself
                out.append(e)
                i += 1
        elif c == 0x28:  # (
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


def _parse_hex_string(data: bytes, i: int) -> tuple[bytes, int]:
    # i points at '<' (single)
    j = data.index(b">", i)
    hx = re.sub(rb"\s", b"", data[i + 1 : j])
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii")), j + 1


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_KEYWORD_RE = re.compile(rb"[A-Za-z'\"*][A-Za-z0-9'\"*]*")


def parse_object(data: bytes, i: int):
    """Parse one PDF object at ``i``; returns ``(value, next_index)``.

    Keywords (operators, ``true``/``false``/``null``, ``R``) come back
    as ``bytes`` so the caller can do reference / operator resolution.
    """
    i = _skip_ws(data, i)
    if i >= len(data):
        raise ValueError("unexpected end of PDF data")
    c = data[i : i + 1]
    if c == b"/":
        name, i = _parse_name(data, i)
        return Name(name), i
    if c == b"(":
        return _parse_literal_string(data, i)
    if data[i : i + 2] == b"<<":
        i += 2
        d: dict[str, object] = {}
        while True:
            i = _skip_ws(data, i)
            if data[i : i + 2] == b">>":
                return d, i + 2
            key, i = parse_object(data, i)
            val, i = parse_object(data, i)
            val, i = _maybe_ref(val, data, i)
            d[str(key)] = val
    if c == b"<":
        return _parse_hex_string(data, i)
    if c == b"[":
        i += 1
        arr: list[object] = []
        while True:
            i = _skip_ws(data, i)
            if data[i : i + 1] == b"]":
                return arr, i + 1
            v, i = parse_object(data, i)
            v, i = _maybe_ref(v, data, i)
            arr.append(v)
    m = _NUM_RE.match(data, i)
    if m:
        s = m.group()
        return (float(s) if b"." in s else int(s)), m.end()
    m = _KEYWORD_RE.match(data, i)
    if m:
        kw = m.group()
        if kw == b"true":
            return True, m.end()
        if kw == b"false":
            return False, m.end()
        if kw == b"null":
            return None, m.end()
        return Keyword(kw), m.end()  # operator / R
    raise ValueError(f"cannot parse PDF object at byte {i}: {data[i:i+20]!r}")


def _maybe_ref(val, data: bytes, i: int):
    """Collapse ``num gen R`` lookahead into a :class:`Ref`."""
    if not isinstance(val, int):
        return val, i
    save = i
    j = _skip_ws(data, i)
    m = _NUM_RE.match(data, j)
    if not m:
        return val, save
    j2 = _skip_ws(data, m.end())
    if data[j2 : j2 + 1] == b"R" and not _KEYWORD_RE.match(data, j2).group()[1:]:
        return Ref(val, int(m.group())), j2 + 1
    return val, save


# ---------------------------------------------------------------------------
# Document reader
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_XREF_SUB_RE = re.compile(rb"(\d+)\s+(\d+)")
_XREF_ENT_RE = re.compile(rb"(\d{10})\s(\d{5})\s([nf])")


class _PdfDoc:
    def __init__(self, data: bytes):
        if data[:5] != b"%PDF-":
            raise ValueError("not a PDF: missing %PDF- header")
        self.data = data
        self._raw: dict[int, tuple[object, int | None]] = {}  # num -> (value, stream_start)
        # Authoritative path: classic xref offsets (ISO 32000 §7.5.4) — an
        # 'N G obj'-shaped byte run inside a compressed stream body can never
        # shadow a real object this way.  Fall back to a stream-skipping
        # byte scan only when no usable classic xref exists (xref streams,
        # truncated trailers, hand-damaged files).
        offsets = self._xref_offsets()
        if offsets is None or not self._load_from_offsets(offsets):
            self._scan_objects()

    def _xref_offsets(self) -> dict[int, int] | None:
        """Object offsets from the classic xref table chain, newest section
        winning (incremental updates); ``None`` when absent/unusable."""
        data = self.data
        last = None
        for last in _STARTXREF_RE.finditer(data):
            pass
        if last is None:
            return None
        offsets: dict[int, int] = {}
        pos = int(last.group(1))
        seen: set[int] = set()
        while 0 <= pos < len(data) and pos not in seen:
            seen.add(pos)
            i = _skip_ws(data, pos)
            if data[i : i + 4] != b"xref":
                return None  # cross-reference *stream* (PDF 1.5+): scan instead
            i += 4
            trailer: object = None
            while True:
                i = _skip_ws(data, i)
                if data[i : i + 7] == b"trailer":
                    try:
                        trailer, _ = parse_object(data, i + 7)
                    except ValueError:
                        return None
                    break
                m = _XREF_SUB_RE.match(data, i)
                if not m:
                    return None
                start, count = int(m.group(1)), int(m.group(2))
                i = m.end()
                for k in range(count):
                    i = _skip_ws(data, i)
                    e = _XREF_ENT_RE.match(data, i)
                    if not e:
                        return None
                    if e.group(3) == b"n":
                        # first (newest) section to claim an object wins
                        offsets.setdefault(start + k, int(e.group(1)))
                    i = e.end()
            prev = trailer.get("Prev") if isinstance(trailer, dict) else None
            if not isinstance(prev, int):
                break
            pos = prev
        return offsets or None

    def _load_from_offsets(self, offsets: dict[int, int]) -> bool:
        """Parse each object at its xref offset; False (triggering the scan
        fallback) if any offset does not point at the declared object."""
        parsed: dict[int, tuple[object, int | None]] = {}
        for num, off in offsets.items():
            if num == 0 or off >= len(self.data):
                continue
            m = _OBJ_RE.match(self.data, _skip_ws(self.data, off))
            if m is None or int(m.group(1)) != num:
                return False
            try:
                parsed[num] = self._parse_body(m.end())
            except ValueError:
                return False
        if not parsed:
            return False
        self._raw = parsed
        return True

    def _scan_objects(self) -> None:
        """Fallback byte scan for 'N G obj', skipping stream bodies so byte
        runs inside compressed streams cannot shadow real objects."""
        data = self.data
        guard = 0  # next match must start at/after this (end of last stream)
        for m in _OBJ_RE.finditer(data):
            if m.start() < guard:
                continue
            num = int(m.group(1))
            try:
                val, stream_start = self._parse_body(m.end())
            except ValueError:
                continue
            if stream_start is not None:
                length = val.get("Length") if isinstance(val, dict) else None
                if isinstance(length, int):
                    guard = stream_start + length
                else:
                    try:
                        guard = data.index(b"endstream", stream_start)
                    except ValueError:
                        guard = len(data)
            self._raw[num] = (val, stream_start)

    def _parse_body(self, i: int) -> tuple[object, int | None]:
        """Parse an object body at ``i`` (just past 'obj'); returns
        ``(value, stream_start_or_None)``."""
        val, j = parse_object(self.data, i)
        j2 = _skip_ws(self.data, j)
        stream_start: int | None = None
        if self.data[j2 : j2 + 6] == b"stream":
            j2 += 6
            if self.data[j2 : j2 + 2] == b"\r\n":
                j2 += 2
            elif self.data[j2 : j2 + 1] == b"\n":
                j2 += 1
            stream_start = j2
        return val, stream_start

    def resolve(self, v):
        seen = set()
        while isinstance(v, Ref):
            if v.num in seen or v.num not in self._raw:
                return None
            seen.add(v.num)
            v = self._raw[v.num][0]
        return v

    def stream_bytes(self, ref: Ref) -> bytes:
        val, start = self._raw[ref.num]
        if start is None or not isinstance(val, dict):
            raise ValueError(f"object {ref.num} is not a stream")
        length = self.resolve(val.get("Length"))
        if isinstance(length, int):
            raw = self.data[start : start + length]
        else:  # fall back to scanning for endstream
            end = self.data.index(b"endstream", start)
            raw = self.data[start:end].rstrip(b"\r\n")
        filt = self.resolve(val.get("Filter"))
        filters = [filt] if isinstance(filt, str) else (filt or [])
        for f in filters:
            f = self.resolve(f)
            if f == "FlateDecode":
                inflate = zlib.decompressobj()
                raw = inflate.decompress(raw, MAX_STREAM_BYTES)
                if inflate.unconsumed_tail:
                    raise ValueError(f"stream {ref.num} inflates past {MAX_STREAM_BYTES} bytes")
                if not inflate.eof:
                    raise ValueError(f"stream {ref.num} is truncated")
            elif f is None:
                continue
            else:
                raise NotImplementedError(f"unsupported PDF stream filter: {f}")
        return raw

    def catalog(self) -> dict:
        # classic trailer(s) first; fall back to scanning for /Type /Catalog
        for m in re.finditer(rb"trailer\b", self.data):
            try:
                t, _ = parse_object(self.data, m.end())
            except ValueError:
                continue
            root = self.resolve(t.get("Root")) if isinstance(t, dict) else None
            if isinstance(root, dict):
                return root
        for val, _ in self._raw.values():
            if isinstance(val, dict) and val.get("Type") == "Catalog":
                return val
        raise ValueError("PDF has no document catalog")

    def pages(self) -> list[dict]:
        out: list[dict] = []
        seen: set[int] = set()

        def walk(node, depth=0):
            if isinstance(node, Ref):
                if node.num in seen:  # a tree reaches each node once
                    raise ValueError(f"page tree reaches object {node.num} twice")
                seen.add(node.num)
            node = self.resolve(node)
            if not isinstance(node, dict) or depth > 64:
                return
            t = node.get("Type")
            if t == "Page":
                out.append(node)
            else:  # Pages / missing Type: recurse Kids in order
                for kid in self.resolve(node.get("Kids")) or []:
                    walk(kid, depth + 1)

        walk(self.catalog().get("Pages"))
        return out

    def page_content(self, page: dict) -> bytes:
        contents = page.get("Contents")
        refs = contents if isinstance(contents, list) else [contents]
        parts = []
        for r in refs:
            if isinstance(r, Ref):
                parts.append(self.stream_bytes(r))
        return b"\n".join(parts)


def _check_page_fonts(doc: "_PdfDoc", page: dict) -> None:
    """Refuse pages whose fonts this codec cannot decode *correctly*.

    The decoder assumes simple single-byte Latin-1-ish text (the subset
    :func:`make_pdf` emits).  Composite (Type0/CID) fonts, /ToUnicode
    CMaps, and custom /Encoding entries all mean the shown bytes are NOT
    Latin-1 — silently decoding them would feed garbled text into the
    corpus.  Raising here routes the file into ``extract_pages``'
    quarantine instead (the loud-failure contract the reference gets
    from PDFBox raising on broken files)."""
    res = doc.resolve(page.get("Resources"))
    fonts = doc.resolve(res.get("Font")) if isinstance(res, dict) else None
    if not isinstance(fonts, dict):
        return
    for fname, f in fonts.items():
        f = doc.resolve(f)
        if not isinstance(f, dict):
            continue
        if f.get("Subtype") == "Type0":
            raise ValueError(
                f"unsupported PDF font /{fname}: composite (Type0/CID) fonts "
                "are not decodable by this codec"
            )
        for feature in ("ToUnicode", "Encoding"):
            if feature in f:
                raise ValueError(
                    f"unsupported PDF font /{fname}: /{feature} present — "
                    "text bytes are not plain Latin-1"
                )


def _decode_text_string(b: bytes) -> str:
    """Decode a shown text string; refuse UTF-16BE (BOM-prefixed) strings —
    decoding those as Latin-1 would interleave NULs into the corpus text."""
    if b[:2] == b"\xfe\xff":
        raise ValueError("unsupported UTF-16BE text string in PDF content")
    return b.decode("latin-1")


def _content_text(stream: bytes) -> str:
    """Text shown by a content stream: ``Tj '/\" TJ`` emit, ``Td TD T*``
    and ``BT`` break lines.  Strings decode as Latin-1 (PDFDocEncoding's
    printable range; matches :func:`make_pdf` output exactly)."""
    lines: list[str] = []
    cur: list[str] = []
    operands: list[object] = []

    def newline():
        if cur or lines:
            lines.append("".join(cur))
            cur.clear()

    i, n = 0, len(stream)
    while i < n:
        i = _skip_ws(stream, i)
        if i >= n:
            break
        try:
            v, i = parse_object(stream, i)
        except ValueError:
            i += 1
            continue
        if not isinstance(v, Keyword):  # operand (number/string/array/name)
            operands.append(v)
            continue
        op = v
        if op == b"Tj" and operands:
            s = operands[-1]
            if isinstance(s, (bytes, bytearray)):
                cur.append(_decode_text_string(bytes(s)))
        elif op in (b"'", b'"'):
            newline()
            s = operands[-1] if operands else b""
            if isinstance(s, (bytes, bytearray)):
                cur.append(_decode_text_string(bytes(s)))
        elif op == b"TJ" and operands and isinstance(operands[-1], list):
            for el in operands[-1]:
                if isinstance(el, (bytes, bytearray)):
                    cur.append(_decode_text_string(bytes(el)))
        elif op in (b"Td", b"TD"):
            ty = operands[-1] if operands else 0
            if isinstance(ty, (int, float)) and ty != 0:
                newline()
        elif op in (b"T*", b"BT"):
            newline()
        operands.clear()
    newline()
    while lines and lines[0] == "":
        lines.pop(0)
    return "\n".join(lines)


def extract_text_pdf(content: bytes) -> list[tuple[int, str]]:
    """Real ``%PDF`` bytes -> ``[(pageNumber, text), ...]`` (1-based) —
    the stdlib stand-in for PDFBox's page loop (Function.java:99-118)."""
    doc = _PdfDoc(content)
    pages = doc.pages()
    if not pages:
        raise ValueError("PDF contains no pages")
    for p in pages:
        _check_page_fonts(doc, p)
    return [(i + 1, _content_text(doc.page_content(p))) for i, p in enumerate(pages)]


# ---------------------------------------------------------------------------
# Document writer (golden-fixture generator)
# ---------------------------------------------------------------------------


def _escape_literal(s: str) -> bytes:
    b = s.encode("latin-1", errors="replace")
    return b.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def make_pdf(pages: list[str], compress: bool = True) -> bytes:
    """Deterministic minimal PDF: one Helvetica text block per page,
    page text split on ``\\n`` into ``Tj``/``T*`` lines.  Byte-stable for
    identical input (no dates/ids), so golden fixtures never drift."""
    objects: list[bytes] = []  # bodies, object number = index + 1
    n_pages = len(pages)
    kids = b" ".join(b"%d 0 R" % (4 + 2 * i) for i in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # 1
    objects.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    )  # 2
    objects.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")  # 3
    for i, text in enumerate(pages):
        page_num = 4 + 2 * i
        objects.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>"
            % (page_num + 1)
        )
        ops = [b"BT", b"/F1 11 Tf", b"14 TL", b"72 720 Td"]
        for j, line in enumerate(text.split("\n")):
            if j:
                ops.append(b"T*")
            ops.append(b"(" + _escape_literal(line) + b") Tj")
        ops.append(b"ET")
        content = b"\n".join(ops)
        if compress:
            content = zlib.compress(content, 9)
            head = b"<< /Length %d /Filter /FlateDecode >>" % len(content)
        else:
            head = b"<< /Length %d >>" % len(content)
        objects.append(head + b"\nstream\n" + content + b"\nendstream")
    return write_pdf(objects)


def write_pdf(objects: list[bytes]) -> bytes:
    """A classic-xref PDF of object bodies numbered from 1, with object 1
    as the document catalog."""
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for num, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objects) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, xref_at)
    )
    return bytes(out)
