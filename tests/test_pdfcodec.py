"""pdfcodec reader hardening: xref-offset object loading, stream-body
shadow resistance, and the unsupported-font/encoding quarantine gates
(ADVICE r2).  The codec stands in for PDFBox (Function.java:92-134); like
PDFBox it must fail LOUDLY on files it cannot decode correctly so
``extract_pages`` quarantines them."""

from __future__ import annotations

import time
import zlib

import pytest

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.sources.pdfcodec import (
    MAX_STREAM_BYTES,
    _content_text,
    _PdfDoc,
    extract_text_pdf,
    make_pdf,
    write_pdf,
)

FONT_OBJ = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"


def _leaf(page: int, stream: bytes) -> list[bytes]:
    """Objects ``page`` (a page), ``page + 1`` (its content ``stream``,
    head and body) and ``page + 2`` (its font)."""
    return [
        b"<< /Type /Page /MediaBox [0 0 612 792] /Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
        % (page + 2, page + 1),
        stream + b"\nendstream",
        FONT_OBJ,
    ]


def shared_child_pdf(levels: int) -> bytes:
    """A page tree of ``levels`` ``/Pages`` nodes, each listing the next
    one twice, over one page: walked as a tree it holds 2**levels pages
    in under 2 kB."""
    objects = [b"<< /Type /Catalog /Pages 2 0 R >>"]
    for num in range(2, levels + 2):
        objects.append(b"<< /Type /Pages /Kids [%d 0 R %d 0 R] /Count %d >>" % (num + 1, num + 1, 2 ** (levels + 2 - num)))
    content = b"BT /F1 11 Tf 72 720 Td (leaf) Tj ET"
    return write_pdf(objects + _leaf(levels + 2, b"<< /Length %d >>\nstream\n" % len(content) + content))


def deflated_page_pdf(content: bytes) -> bytes:
    """A one-page PDF whose content stream is ``content``, deflated."""
    packed = zlib.compress(content, 9)
    return write_pdf(
        [b"<< /Type /Catalog /Pages 2 0 R >>", b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"]
        + _leaf(3, b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(packed) + packed)
    )


class TestXrefLoading:
    def test_xref_offsets_used_when_present(self):
        pdf = make_pdf(["page one", "page two"])
        doc = _PdfDoc(pdf)
        # classic xref exists and is usable -> offsets path, not the scan
        assert doc._xref_offsets() is not None
        assert extract_text_pdf(pdf) == [(1, "page one"), (2, "page two")]

    def test_stream_body_cannot_shadow_real_object_via_xref(self):
        # An 'N G obj'-shaped byte run INSIDE a stream body (here: page text
        # that redefines the font object as an undecodable Type0) must not
        # shadow the real object 3.  With xref offsets it is never parsed.
        trap = "3 0 obj << /Type /Font /Subtype /Type0 >> endobj"
        pdf = make_pdf([trap], compress=False)
        assert extract_text_pdf(pdf) == [(1, trap)]

    def test_fallback_scan_skips_stream_bodies(self):
        # Corrupt startxref so the classic-xref path is unusable -> the
        # byte-scan fallback runs, and must skip the same in-stream trap.
        trap = "3 0 obj << /Type /Font /Subtype /Type0 >> endobj"
        pdf = make_pdf([trap], compress=False)
        broken = pdf.replace(b"startxref", b"startxrEf")
        doc = _PdfDoc(broken)
        assert doc._xref_offsets() is None
        assert extract_text_pdf(broken) == [(1, trap)]

    def test_fallback_scan_still_decodes_plain_files(self):
        pdf = make_pdf(["alpha", "beta\ngamma"]).replace(b"startxref", b"startxrEf")
        assert extract_text_pdf(pdf) == [(1, "alpha"), (2, "beta\ngamma")]


class TestUnsupportedFeatureGates:
    """Same-length byte substitutions in the font dict keep every xref
    offset valid, so these exercise the gate itself, not the fallback."""

    def test_type0_font_raises(self):
        pdf = make_pdf(["hello"]).replace(
            b"/Subtype /Type1 ", b"/Subtype /Type0 "
        )
        with pytest.raises(ValueError, match="Type0"):
            extract_text_pdf(pdf)

    def test_tounicode_raises(self):
        pdf = make_pdf(["hello"]).replace(
            b"/BaseFont /Helvetica", b"/ToUnicode 9 0 R    "
        )
        with pytest.raises(ValueError, match="ToUnicode"):
            extract_text_pdf(pdf)

    def test_custom_encoding_raises(self):
        pdf = make_pdf(["hello"]).replace(
            b"/BaseFont /Helvetica", b"/Encoding /Helvetica"
        )
        with pytest.raises(ValueError, match="Encoding"):
            extract_text_pdf(pdf)

    def test_utf16be_string_raises(self):
        with pytest.raises(ValueError, match="UTF-16BE"):
            _content_text(b"BT <FEFF0041> Tj ET")

    def test_gated_pdf_quarantined_not_garbled(self, spark, tmp_path):
        # End-to-end: a Type0-font PDF is quarantined (no pages, its
        # error kept) instead of contributing garbled text to the corpus.
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.sources.pdf import (
            extract_pages,
            read_binary_docs,
        )

        good = make_pdf(["clean page"])
        bad = make_pdf(["cid page"]).replace(b"/Subtype /Type1 ", b"/Subtype /Type0 ")
        (tmp_path / "good.pdf").write_bytes(good)
        (tmp_path / "bad.pdf").write_bytes(bad)
        rows = extract_pages(read_binary_docs(spark, str(tmp_path))).collect()
        by_name = {}
        for r in rows:
            by_name.setdefault(r["path"].rsplit("/", 1)[-1], []).append(r)
        (good,) = by_name["good.pdf"]
        assert good["extract_error"] is None
        assert (good["pageNumber"], good["text"]) == (1, "clean page")
        (bad,) = by_name["bad.pdf"]  # one null-page row
        assert "Type0" in bad["extract_error"]
        assert (bad["pageNumber"], bad["text"]) == (None, None)


class TestRoundTripUnchanged:
    def test_multiline_compressed_roundtrip(self):
        pages = ["line1\nline2\nline3", "solo", ""]
        assert extract_text_pdf(make_pdf(pages)) == [
            (1, "line1\nline2\nline3"),
            (2, "solo"),
            (3, ""),
        ]

    def test_incremental_update_newest_xref_section_wins(self):
        # Simulate an incremental update: append a replacement object 3 and
        # a new xref section chaining to the old one via /Prev.
        base = make_pdf(["original"], compress=False)
        assert FONT_OBJ in base
        old_xref_at = int(base.rsplit(b"startxref\n", 1)[1].split(b"\n", 1)[0])
        body = base.rsplit(b"startxref", 1)[0]
        new_obj_at = len(body)
        update = b"3 0 obj\n" + FONT_OBJ + b"\nendobj\n"
        xref_at = new_obj_at + len(update)
        out = (
            body
            + update
            + b"xref\n3 1\n"
            + b"%010d 00000 n \n" % new_obj_at
            + b"trailer\n<< /Size 6 /Root 1 0 R /Prev %d >>\n" % old_xref_at
            + b"startxref\n%d\n%%%%EOF\n" % xref_at
        )
        assert extract_text_pdf(out) == [(1, "original")]


class TestHostileBudgets:
    """A few kilobytes of hostile PDF raise, in bounded time, so
    ``extract_pages`` quarantines them instead of hanging a worker."""

    def test_shared_child_tree_node_reached_twice_raises(self):
        pdf = shared_child_pdf(16)  # 65,536 pages if walked as a tree
        assert len(pdf) < 2000
        start = time.perf_counter()
        with pytest.raises(ValueError, match="twice"):
            extract_text_pdf(pdf)
        assert time.perf_counter() - start < 0.5

    def test_stream_inflating_past_bound_raises(self):
        text = b"BT /F1 11 Tf 72 720 Td (page) Tj ET"
        assert extract_text_pdf(deflated_page_pdf(text)) == [(1, "page")]
        pdf = deflated_page_pdf(text + b" " * MAX_STREAM_BYTES)
        assert len(pdf) < 10_000
        with pytest.raises(ValueError, match="inflates past"):
            extract_text_pdf(pdf)

    def test_truncated_stream_raises(self):
        pdf = deflated_page_pdf(b"BT /F1 11 Tf 72 720 Td (page) Tj ET")
        length = int(pdf.split(b"/Length ", 1)[1].split(b" ", 1)[0])
        cut = pdf.replace(b"/Length %d " % length, b"/Length %d " % (length - 6), 1)
        with pytest.raises(ValueError, match="truncated"):
            extract_text_pdf(cut)
