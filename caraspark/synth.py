"""Deterministic synthetic document corpus (FIXTURES.md §3).

Generates the ``documents_raw(url, warc_ts, html BINARY, text, lang)`` table
of BASELINE.json:input_hint at any row count, seed-stable (seed 42, no
external data): every url maps to exactly one recipe + size variant, so
goldens are reproducible bit-for-bit forever.

PDF recipes are assembled byte-by-byte here (never via the engine's own
serializer — that would make round-trip tests circular). Mirrors caradoc's
crafted-corpus strategy: one valid baseline plus one-deviation-each invalid
variants (``ref:test_files/`` [P?], SURVEY.md §5.1).
"""

from __future__ import annotations

import random
import zlib
from datetime import datetime, timedelta
from functools import lru_cache

# ---------------------------------------------------------------------------
# low-level classic-xref assembler
# ---------------------------------------------------------------------------


def _assemble(
    bodies: dict[int, bytes],
    trailer_extra: bytes = b"",
    header: bytes = b"%PDF-1.4\n",
    junk_before: bytes = b"",
    junk_between: bytes = b"",
    offset_tweak: dict[int, int] | None = None,
    root: int = 1,
    prev_chain_self: bool = False,
) -> bytes:
    """Assemble object bodies (num → ``N 0 obj…endobj`` payload bytes) with a
    classic xref table; offsets computed, optionally perturbed."""
    out = bytearray(junk_before + header)
    offsets: dict[int, int] = {}
    for num in sorted(bodies):
        if junk_between and num > min(bodies):
            out += junk_between
        offsets[num] = len(out)
        out += bodies[num]
    xref_off = len(out)
    maxnum = max(bodies) if bodies else 0
    out += b"xref\n"
    out += f"0 {maxnum + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, maxnum + 1):
        if num in offsets:
            off = offsets[num] + (offset_tweak or {}).get(num, 0)
            out += f"{off:010d} 00000 n \n".encode()
        else:
            out += b"0000000000 00000 f \n"
    prev = f" /Prev {xref_off}".encode() if prev_chain_self else b""
    out += (
        b"trailer\n<< /Size "
        + str(maxnum + 1).encode()
        + b" /Root "
        + str(root).encode()
        + b" 0 R"
        + trailer_extra
        + prev
        + b" >>\nstartxref\n"
        + str(xref_off).encode()
        + b"\n%%EOF\n"
    )
    return bytes(out)


def _obj(num: int, body: bytes) -> bytes:
    return f"{num} 0 obj\n".encode() + body + b"\nendobj\n"


def _stream_obj(num: int, d: bytes, payload: bytes, length: int | None = None) -> bytes:
    n = len(payload) if length is None else length
    return (
        f"{num} 0 obj\n<< {d.decode()} /Length {n} >>\nstream\n".encode()
        + payload
        + b"\nendstream\nendobj\n"
    )


def _base_objects(content: bytes, content_filters: bytes = b"") -> dict[int, bytes]:
    return {
        1: _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        2: _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        3: _obj(
            3,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R >>",
        ),
        4: _stream_obj(4, content_filters, content),
    }


CONTENT_HELLO = b"BT (Hello World) Tj ET"


# ---------------------------------------------------------------------------
# encoders used to craft filtered fixtures (independent of engine decoders)
# ---------------------------------------------------------------------------


def _rle_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 127 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            j = i + 1
            while (
                j < n
                and j - i < 128
                and not (j + 2 < n and data[j] == data[j + 1] == data[j + 2])
            ):
                j += 1
            out += bytes([j - i - 1]) + data[i:j]
            i = j
    out.append(128)
    return bytes(out)


def _a85_encode(data: bytes) -> bytes:
    import base64

    return base64.a85encode(data) + b"~>"


def _ahx_encode(data: bytes) -> bytes:
    return data.hex().encode() + b">"


def _png_predict(data: bytes, columns: int, tag: int) -> bytes:
    """Apply a PNG row filter (encoder side) so the engine can undo it."""
    rows = [data[i : i + columns] for i in range(0, len(data), columns)]
    if len(rows[-1]) < columns:
        rows[-1] = rows[-1] + b"\x00" * (columns - len(rows[-1]))
    out = bytearray()
    prev = b"\x00" * columns
    for row in rows:
        out.append(tag)
        if tag == 0:
            out += row
        elif tag == 1:  # Sub
            out += bytes((row[i] - (row[i - 1] if i else 0)) & 0xFF for i in range(columns))
        elif tag == 2:  # Up
            out += bytes((row[i] - prev[i]) & 0xFF for i in range(columns))
        elif tag == 3:  # Average
            enc = bytearray()
            for i in range(columns):
                left = row[i - 1] if i else 0
                enc.append((row[i] - ((left + prev[i]) >> 1)) & 0xFF)
            out += enc
        elif tag == 4:  # Paeth
            enc = bytearray()
            for i in range(columns):
                a = row[i - 1] if i else 0
                b = prev[i]
                c = prev[i - 1] if i else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc.append((row[i] - pr) & 0xFF)
            out += enc
        prev = row
    return bytes(out)


# ---------------------------------------------------------------------------
# PDF recipes
# ---------------------------------------------------------------------------


def pdf_minimal() -> bytes:
    return _assemble(_base_objects(CONTENT_HELLO))


def pdf_text_ops() -> bytes:
    utf16 = "Zürich — naïve".encode("utf-16-be")
    content = (
        b"BT\n"
        b"/F1 12 Tf\n"
        b"10 700 Td (First line) Tj\n"
        b"0 -14 TD (Second line) Tj\n"
        b"T* (Third line) Tj\n"
        b"1 0 0 1 10 640 Tm (Fourth via Tm) Tj\n"
        b"(Fifth via quote) '\n"
        b'2 3 (Sixth via dquote) "\n'
        b"[(Kerned) -250 (words) -50 (tight)] TJ\n"
        b"0 -14 Td (\\376\\377" + _oct(utf16) + b") Tj\n"
        b"0 -14 Td (Escapes: \\(paren\\) \\\\ tab\\t nl) Tj\n"
        b"ET"
    )
    return _assemble(_base_objects(content))


def _oct(b: bytes) -> bytes:
    return "".join(f"\\{c:03o}" for c in b).encode()


def pdf_justified() -> bytes:
    """Horizontal-only Td positioning inside a justified line: same-line
    jumps become single spaces, vertical moves line breaks (C26 rule)."""
    content = (
        b"BT /F1 11 Tf 10 700 Td\n"
        b"(Justified) Tj 52 0 Td (text) Tj 24 0 Td (line.) Tj\n"
        b"0 -14 Td (Second line) Tj\n"
        b"0 0 Td (, appended.) Tj\n"
        b"ET"
    )
    return _assemble(_base_objects(content))


def pdf_multipage() -> bytes:
    """Three pages under a two-level page tree — pins DFS page order,
    form-feed page joins, nested /Count consistency, and /Resources
    inheritance from an interior Pages node."""
    bodies = {
        1: _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        2: _obj(2, b"<< /Type /Pages /Kids [3 0 R 6 0 R] /Count 3 >>"),
        # interior node with two leaves, carrying the inherited Resources
        3: _obj(
            3,
            b"<< /Type /Pages /Parent 2 0 R /Kids [4 0 R 5 0 R] /Count 2 "
            b"/Resources << /Font << /F1 10 0 R >> >> >>",
        ),
        4: _obj(
            4,
            b"<< /Type /Page /Parent 3 0 R /MediaBox [0 0 612 792] "
            b"/Contents 7 0 R >>",
        ),
        5: _obj(
            5,
            b"<< /Type /Page /Parent 3 0 R /MediaBox [0 0 612 792] "
            b"/Contents 8 0 R >>",
        ),
        6: _obj(
            6,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 9 0 R >>",
        ),
        7: _stream_obj(7, b"", b"BT /F1 12 Tf (page one) Tj ET"),
        8: _stream_obj(8, b"", b"BT (page two) Tj ET"),
        9: _stream_obj(9, b"", b"BT (page three) Tj ET"),
        10: _obj(
            10, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        ),
    }
    return _assemble(bodies)


def pdf_tagged() -> bytes:
    """Tagged PDF with interactive-features structures: logical structure
    tree (StructTreeRoot → StructElems), optional-content groups wired
    through /OCProperties and resource /Properties, a page /Trans
    transition, an article thread/bead pair, and an XMP metadata stream —
    exercises the tier-2 typedef classes in the corpus itself."""
    xmp = b"<?xpacket begin=''?><x:xmpmeta xmlns:x='adobe:ns:meta/'/>"
    bodies = {
        1: _obj(
            1,
            b"<< /Type /Catalog /Pages 2 0 R /StructTreeRoot 5 0 R "
            b"/MarkInfo << /Marked true >> "
            b"/OCProperties << /OCGs [8 0 R] /D << /BaseState /ON /ON [8 0 R] >> >> "
            b"/Threads [9 0 R] /Metadata 11 0 R >>",
        ),
        2: _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        3: _obj(
            3,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R /StructParents 0 "
            b"/Trans << /Type /Trans /S /Dissolve /D 1.5 >> "
            b"/Resources << /Properties << /MC0 8 0 R >> >> >>",
        ),
        4: _stream_obj(
            4,
            b"",
            b"/OC /MC0 BDC BT (tagged layer text) Tj ET EMC",
        ),
        5: _obj(5, b"<< /Type /StructTreeRoot /K 6 0 R >>"),
        6: _obj(
            6,
            b"<< /Type /StructElem /S /Document /P 5 0 R /K [7 0 R] >>",
        ),
        7: _obj(
            7,
            b"<< /Type /StructElem /S /P /P 6 0 R /Pg 3 0 R /K 0 >>",
        ),
        8: _obj(8, b"<< /Type /OCG /Name (Layer 1) >>"),
        9: _obj(9, b"<< /Type /Thread /F 10 0 R >>"),
        10: _obj(
            10,
            b"<< /Type /Bead /T 9 0 R /N 10 0 R /V 10 0 R /P 3 0 R "
            b"/R [0 0 612 792] >>",
        ),
        11: _stream_obj(11, b"/Type /Metadata /Subtype /XML", xmp),
    }
    return _assemble(bodies)


def pdf_form_xobject() -> bytes:
    """Text inside Form XObjects (Do): page → form1 (own resources) →
    form2 (inherits form1's); form2 re-enters form1 via /Back, which the
    cycle guard must turn into a no-op."""
    f1_content = (
        b"BT /F9 9 Tf 0 0 Td (inside form one) Tj ET\n/Fm2 Do"
    )
    f2_content = b"BT 0 0 Td (nested form two) Tj ET\n/Back Do"
    bodies = {
        1: _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        2: _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        3: _obj(
            3,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R "
            b"/Resources << /Font << /F1 8 0 R >> "
            b"/XObject << /Fm1 5 0 R >> >> >>",
        ),
        4: _stream_obj(
            4,
            b"",
            b"BT /F1 12 Tf 10 700 Td (page before) Tj ET\n"
            b"/Fm1 Do\n"
            b"BT 10 600 Td (page after) Tj ET",
        ),
        5: _stream_obj(
            5,
            b"/Type /XObject /Subtype /Form /BBox [0 0 200 100] "
            b"/Resources << /Font << /F9 8 0 R >> "
            b"/XObject << /Fm2 6 0 R /Back 5 0 R >> >>",
            f1_content,
        ),
        6: _stream_obj(
            6,
            b"/Type /XObject /Subtype /Form /BBox [0 0 100 50]",
            f2_content,
        ),
        8: _obj(
            8, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        ),
    }
    return _assemble(bodies)


def pdf_inline_image() -> bytes:
    """Content stream with a BI…ID…EI inline image whose raw bytes contain
    text-operator lookalikes (and an unbalanced paren) — the extractor
    must skip the span byte-wise, not lex it (C26 SPEC rule)."""
    raw = b"\x00\x89(\x50 (fake) Tj ET BT (EInot) Tj \xff\xfe\x00EI\x01"
    content = (
        b"BT /F1 12 Tf 10 700 Td (before image) Tj ET\n"
        b"q BI /W 2 /H 2 /CS /G /BPC 8 /F /AHx ID " + raw + b" EI Q\n"
        b"BT 10 650 Td (after image) Tj ET"
    )
    return _assemble(_base_objects(content))


_TOUNICODE_CMAP = b"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
/CMapName /Adobe-Identity-UCS def
/CMapType 2 def
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
2 beginbfchar
<0003> <0020>
<0041> <00410042>
endbfchar
2 beginbfrange
<0001> <0002> <0048>
<0010> <0012> [<0058> <0059> <005A>]
endbfrange
endcmap
CMapName currentdict /CMap defineresource pop
end
end"""


def pdf_tounicode() -> bytes:
    """Type0/Identity-H font with a /ToUnicode CMap (C26 tier-2): hex
    show-strings of 2-byte CIDs decode through bfchar/bfrange entries;
    an unmapped CID yields U+FFFD; /F1 text still uses PDFDocEncoding."""
    content = (
        b"BT\n"
        b"/F1 12 Tf\n"
        b"10 700 Td (Plain:) Tj\n"
        b"/F2 12 Tf\n"
        b"0 -14 Td <000100020003 0041> Tj\n"          # HI AB
        b"0 -14 Td [<001000110012> -250 <0001>] TJ\n"  # XYZ H (kern space)
        b"0 -14 Td <0999> Tj\n"                        # unmapped -> U+FFFD
        b"/F1 10 Tf\n"
        b"0 -14 Td (back to plain) Tj\n"
        b"ET"
    )
    cmap_z = zlib.compress(_TOUNICODE_CMAP)
    bodies = {
        1: _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        2: _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        3: _obj(
            3,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R /F2 6 0 R >> >> >>",
        ),
        4: _stream_obj(4, b"", content),
        5: _obj(
            5, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        ),
        6: _obj(
            6,
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth-Identity"
            b" /Encoding /Identity-H /DescendantFonts [7 0 R]"
            b" /ToUnicode 8 0 R >>",
        ),
        7: _obj(
            7,
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Synth"
            b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
            b" /Supplement 0 >> /DW 1000 >>",
        ),
        8: _stream_obj(8, b"/Filter /FlateDecode", cmap_z),
    }
    return _assemble(bodies)


def pdf_cid_widths() -> bytes:
    """Font-metric-scaled kern spacing (C26 SPEC "font metrics"):

    * /F2 Type0 whose CIDFont carries an INDIRECT /W mixing both formats,
      ``1 [400 600] 16 31 500`` → repw (400+600+16·500)/18 = 500 →
      threshold −90: kern −120 opens a space (it would not at the
      full-width default), −80 does not.
    * /F3 Type0 with /DW 2000 and no /W → threshold −360: kern −200 is
      NOT a space (it would be at the default), −400 is.
    * /F1 simple font with /Widths [250 333 500] → repw 361 → threshold
      −64.98: kern −70 spaces, −60 does not.
    """
    content = (
        b"BT\n"
        b"/F2 12 Tf\n"
        b"10 700 Td [<0001> -120 <0002> -80 <0010> -200 <0011>] TJ\n"
        b"/F3 12 Tf\n"
        b"0 -14 Td [<0001> -200 <0002> -400 <0010>] TJ\n"
        b"/F1 10 Tf\n"
        b"0 -14 Td [(A) -70 (B) -60 (C)] TJ\n"
        b"ET"
    )
    cmap_z = zlib.compress(_TOUNICODE_CMAP)
    bodies = {
        1: _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        2: _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        3: _obj(
            3,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R /F2 6 0 R /F3 9 0 R >> >> >>",
        ),
        4: _stream_obj(4, b"", content),
        5: _obj(
            5,
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
            b" /FirstChar 65 /LastChar 67 /Widths [250 333 500] >>",
        ),
        6: _obj(
            6,
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth-Identity"
            b" /Encoding /Identity-H /DescendantFonts [7 0 R]"
            b" /ToUnicode 8 0 R >>",
        ),
        7: _obj(
            7,
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Synth"
            b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
            b" /Supplement 0 >> /DW 1000 /W 11 0 R >>",
        ),
        8: _stream_obj(8, b"/Filter /FlateDecode", cmap_z),
        9: _obj(
            9,
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth-Wide"
            b" /Encoding /Identity-H /DescendantFonts [10 0 R]"
            b" /ToUnicode 8 0 R >>",
        ),
        10: _obj(
            10,
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /SynthW"
            b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
            b" /Supplement 0 >> /DW 2000 >>",
        ),
        11: _obj(11, b"[1 [400 600] 16 31 500]"),
    }
    return _assemble(bodies)


def pdf_flate() -> bytes:
    return _assemble(
        _base_objects(zlib.compress(CONTENT_HELLO), b"/Filter /FlateDecode")
    )


def pdf_flate_pred(tag: int = 2) -> bytes:
    cols = 8
    pred = 10 + tag
    filtered = _png_predict(CONTENT_HELLO, cols, tag)
    return _assemble(
        _base_objects(
            zlib.compress(filtered),
            f"/Filter /FlateDecode /DecodeParms << /Predictor {pred} "
            f"/Columns {cols} >>".encode(),
        )
    )


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """LZW encoder (fixture generation only; the engine and oracle each have
    independent decoders). Serialization widths mirror the decoder's state
    machine exactly: width bumps when decoder-table-size + early fills the
    current code space [PDF17 §7.4.4]."""
    codes = [256]
    d = {bytes([i]): i for i in range(256)}
    nxt = 258
    w = b""
    for i in range(len(data)):
        wc = w + data[i : i + 1]
        if wc in d:
            w = wc
            continue
        codes.append(d[w])
        d[wc] = nxt
        nxt += 1
        w = data[i : i + 1]
        if nxt >= 4000:  # clear well below the 12-bit ceiling: codes past
            codes.append(256)  # 4095 are unrepresentable
            d = {bytes([j]): j for j in range(256)}
            nxt = 258
    if w:
        codes.append(d[w])
    codes.append(257)

    out = bytearray()
    buf = 0
    nbits = 0
    width = 9
    tsize = 258  # decoder's table size after it reads each code
    fresh = True  # decoder makes no insertion on the first code after clear
    for c in codes:
        buf = (buf << width) | c
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((buf >> nbits) & 0xFF)
        if c == 256:
            tsize, width, fresh = 258, 9, True
            continue
        if c == 257:
            break
        if fresh:
            fresh = False
        else:
            tsize += 1
        if tsize + early >= (1 << width) and width < 12:
            width += 1
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


def pdf_lzw() -> bytes:
    return _assemble(
        _base_objects(_lzw_encode(CONTENT_HELLO), b"/Filter /LZWDecode")
    )


def pdf_lzw_wide() -> bytes:
    # enough distinct digrams to cross the 9->10 bit width boundary (table
    # past 511 entries) so EarlyChange handling is actually exercised
    words = " ".join(f"w{i:03d}" for i in range(220)).encode()
    content = b"BT (" + words[:480] + b") Tj T* (" + words[480:960] + b") Tj ET"
    return _assemble(
        _base_objects(_lzw_encode(content), b"/Filter /LZWDecode")
    )


def pdf_ahx() -> bytes:
    return _assemble(
        _base_objects(_ahx_encode(CONTENT_HELLO), b"/Filter /ASCIIHexDecode")
    )


def pdf_a85() -> bytes:
    return _assemble(
        _base_objects(_a85_encode(CONTENT_HELLO), b"/Filter /ASCII85Decode")
    )


def pdf_rle() -> bytes:
    content = b"BT (Hellooooooo     RLE) Tj ET"
    return _assemble(
        _base_objects(_rle_encode(content), b"/Filter /RunLengthDecode")
    )


def pdf_chain() -> bytes:
    # Flate then AHx on top → decode order [AHx, Flate]
    payload = _ahx_encode(zlib.compress(CONTENT_HELLO))
    return _assemble(
        _base_objects(payload, b"/Filter [/ASCIIHexDecode /FlateDecode]")
    )


def _xref_stream_pdf(objstm: bool = False) -> bytes:
    """PDF 1.5 file whose xref is a stream (W [1 2 1]); optionally the
    catalog+pages live compressed inside an /ObjStm."""
    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}

    def put(num: int, body: bytes) -> None:
        offsets[num] = len(out)
        out.extend(body)

    if objstm:
        inner = b"<< /Type /Catalog /Pages 2 0 R >>"
        inner2 = b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
        hdr = f"1 0 2 {len(inner) + 1}".encode()
        payload = hdr + b"\n" + inner + b"\n" + inner2
        put(
            6,
            _stream_obj(
                6,
                f"/Type /ObjStm /N 2 /First {len(hdr) + 1}".encode(),
                payload,
            ),
        )
    else:
        put(1, _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>"))
        put(2, _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"))
    put(
        3,
        _obj(
            3,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R >>",
        ),
    )
    put(4, _stream_obj(4, b"", CONTENT_HELLO))

    xref_num = 5
    xref_off = len(out)

    def row(t: int, b2: int, c: int) -> bytes:
        return bytes([t]) + b2.to_bytes(2, "big") + bytes([c])

    rows = [row(0, 0, 255)]  # obj 0: free
    if objstm:
        rows += [row(2, 6, 0), row(2, 6, 1)]  # 1, 2 compressed in 6
    else:
        rows += [row(1, offsets[1], 0), row(1, offsets[2], 0)]
    rows += [row(1, offsets[3], 0), row(1, offsets[4], 0), row(1, xref_off, 0)]
    if objstm:
        rows.append(row(1, offsets[6], 0))
    size = 7 if objstm else 6
    body = b"".join(rows)
    d = (
        f"/Type /XRef /Size {size} /W [1 2 1] /Index [0 {size}] "
        f"/Root 1 0 R".encode()
    )
    put(xref_num, _stream_obj(xref_num, d, body))
    out += b"startxref\n" + str(xref_off).encode() + b"\n%%EOF\n"
    return bytes(out)


def pdf_xrefstream() -> bytes:
    return _xref_stream_pdf(objstm=False)


def pdf_objstm() -> bytes:
    return _xref_stream_pdf(objstm=True)


def pdf_updated() -> bytes:
    base = _assemble(_base_objects(CONTENT_HELLO))
    prev_xref = base.rfind(b"\nxref\n") + 1  # not the `startxref` keyword
    out = bytearray(base)
    new4 = _stream_obj(4, b"", b"BT (Hello Update) Tj ET")
    off4 = len(out)
    out += new4
    xref_off = len(out)
    out += (
        b"xref\n0 1\n0000000000 65535 f \n4 1\n"
        + f"{off4:010d} 00000 n \n".encode()
        + b"trailer\n<< /Size 5 /Root 1 0 R /Prev "
        + str(prev_xref).encode()
        + b" >>\nstartxref\n"
        + str(xref_off).encode()
        + b"\n%%EOF\n"
    )
    return bytes(out)


def pdf_hybrid() -> bytes:
    """Classic xref marks the content object free; /XRefStm reveals it."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    bodies = _base_objects(CONTENT_HELLO)
    for num in sorted(bodies):
        offsets[num] = len(out)
        out += bodies[num]
    # xref stream revealing object 4 (and itself, 5)
    stm_off = len(out)

    def row(t, b2, c):
        return bytes([t]) + b2.to_bytes(2, "big") + bytes([c])

    body = row(1, offsets[4], 0) + row(1, stm_off, 0)
    d = b"/Type /XRef /Size 6 /W [1 2 1] /Index [4 2] /Root 1 0 R"
    out += _stream_obj(5, d, body)
    xref_off = len(out)
    out += b"xref\n0 5\n0000000000 65535 f \n"
    for num in (1, 2, 3):
        out += f"{offsets[num]:010d} 00000 n \n".encode()
    out += b"0000000000 00000 f \n"  # object 4 hidden from classic readers
    out += (
        b"trailer\n<< /Size 6 /Root 1 0 R /XRefStm "
        + str(stm_off).encode()
        + b" >>\nstartxref\n"
        + str(xref_off).encode()
        + b"\n%%EOF\n"
    )
    return bytes(out)


def pdf_linearized() -> bytes:
    """A CONSISTENT linearized file: the parameter dict is physically
    first (object 1), /L is patched post-assembly to the exact length via
    a fixed-width placeholder (how real linearizers do it), /O names the
    page object, /N matches, /E and /T are patched to real in-file
    offsets. Passes every cross-check in document._linearization_check."""
    bodies = {
        1: _obj(
            1,
            b"<< /Linearized 1 /L 0000000000 /H [600 120] /O 4"
            b" /E 0000000000 /N 1 /T 0000000000 >>",
        ),
        2: _obj(2, b"<< /Type /Catalog /Pages 3 0 R >>"),
        3: _obj(3, b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>"),
        4: _obj(
            4,
            b"<< /Type /Page /Parent 3 0 R /MediaBox [0 0 612 792] "
            b"/Contents 5 0 R >>",
        ),
        5: _stream_obj(5, b"", CONTENT_HELLO),
    }
    blob = _assemble(bodies, root=2)
    # anchor on "\nxref\n" — a bare rindex(b"xref\n") matches inside the
    # trailing "startxref\n" line instead of the xref section
    xref_off = blob.rindex(b"\nxref\n") + 1
    first_entry = xref_off + len(b"xref\n0 6\n")
    blob = blob.replace(b"/L 0000000000", b"/L %010d" % len(blob), 1)
    blob = blob.replace(b"/E 0000000000", b"/E %010d" % xref_off, 1)
    blob = blob.replace(b"/T 0000000000", b"/T %010d" % first_entry, 1)
    return blob


def pdf_linearized_bad() -> bytes:
    """Every linearization cross-check violated at once: wrong /L, /O
    names the catalog (not a page), out-of-range /E and /T, and the
    parameter dict is physically last."""
    bodies = _base_objects(CONTENT_HELLO)
    bodies[5] = _obj(
        5,
        b"<< /Linearized 1 /L 1234 /H [600 120] /O 1 /E 999999 /N 1"
        b" /T 999999 >>",
    )
    return _assemble(bodies)


def pdf_bad_xref_offset() -> bytes:
    return _assemble(_base_objects(CONTENT_HELLO), offset_tweak={3: 7})


def pdf_len_mismatch() -> bytes:
    bodies = _base_objects(CONTENT_HELLO)
    bodies[4] = _stream_obj(4, b"", CONTENT_HELLO, length=len(CONTENT_HELLO) + 3)
    return _assemble(bodies)


def pdf_dangling_ref() -> bytes:
    bodies = _base_objects(CONTENT_HELLO)
    bodies[3] = _obj(
        3,
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Annots [9 0 R] >>",
    )
    return _assemble(bodies)


def pdf_pages_cycle() -> bytes:
    bodies = _base_objects(CONTENT_HELLO)
    bodies[2] = _obj(2, b"<< /Type /Pages /Kids [5 0 R] /Count 1 >>")
    bodies[5] = _obj(5, b"<< /Type /Pages /Kids [2 0 R] /Parent 2 0 R /Count 1 >>")
    return _assemble(bodies)


def pdf_overlap() -> bytes:
    """Object 5's xref entry points inside object 4's stream payload."""
    inner = b"5 0 obj\n<< /Marker true >>\nendobj\n"
    content = CONTENT_HELLO + b"\n% padding\n" + inner
    bodies = _base_objects(content)
    bodies[5] = b""  # declares number 5 in the xref; offset patched below
    blob = _assemble(bodies, offset_tweak={5: 0})
    at = blob.find(inner)
    assert at != -1
    # patch object 5's xref row (6th row: after free-0 and rows 1–4) to
    # point inside object 4's stream payload
    row = f"{at:010d} 00000 n \n".encode()
    idx = blob.rfind(b"\nxref\n") + 1
    head = blob.find(b"\n", blob.find(b"0 6", idx)) + 1
    entry5 = head + 20 * 5
    return blob[:entry5] + row + blob[entry5 + 20 :]


def pdf_holes() -> bytes:
    return _assemble(
        _base_objects(CONTENT_HELLO), junk_between=b"% stray bytes not owned\n"
    )


def pdf_type_err() -> bytes:
    bodies = _base_objects(CONTENT_HELLO)
    bodies[1] = _obj(1, b"<< /Type /NotCatalog >>")
    return _assemble(bodies)


def pdf_truncated() -> bytes:
    """File cut mid-body (no startxref / trailer): parser must degrade to a
    typed invalid verdict, never an exception."""
    full = pdf_minimal()
    return full[: int(len(full) * 0.55)]


def pdf_bad_a85() -> bytes:
    """ASCII85 content stream with corrupt payload bytes → filter error +
    undecoded content, document otherwise relaxed-valid."""
    blob = bytearray(pdf_a85())
    i = blob.find(b"stream\n") + 7
    blob[i : i + 4] = b"\x00\xff\x00\xff"
    return bytes(blob)


def pdf_junk_header() -> bytes:
    return _assemble(_base_objects(CONTENT_HELLO), junk_before=b"GARBAGE!!\n")


def pdf_prev_loop() -> bytes:
    return _assemble(_base_objects(CONTENT_HELLO), prev_chain_self=True)


def pdf_int_overflow() -> bytes:
    bodies = _base_objects(CONTENT_HELLO)
    bodies[5] = _obj(5, b"<< /Big 99999999999999999999 >>")
    return _assemble(bodies)


def pdf_deep_nest(depth: int = 10_000) -> bytes:
    bodies = _base_objects(CONTENT_HELLO)
    bodies[5] = _obj(5, b"[" * depth + b"]" * depth)
    return _assemble(bodies)


def pdf_giant(n_lines: int = 200_000) -> bytes:
    """A big (multi-MB) but valid document — the skew fixture."""
    content = b"BT\n" + b"".join(
        b"0 -12 Td (line %06d of a very long page) Tj\n" % i
        for i in range(n_lines)
    ) + b"ET"
    return _assemble(_base_objects(zlib.compress(content), b"/Filter /FlateDecode"))


PDF_RECIPES = {
    "pdf_minimal": pdf_minimal,
    "pdf_text_ops": pdf_text_ops,
    "pdf_tounicode": pdf_tounicode,
    "pdf_cid_widths": pdf_cid_widths,
    "pdf_inline_image": pdf_inline_image,
    "pdf_form_xobject": pdf_form_xobject,
    "pdf_multipage": pdf_multipage,
    "pdf_tagged": pdf_tagged,
    "pdf_justified": pdf_justified,
    "pdf_flate": pdf_flate,
    "pdf_flate_pred_sub": lambda: pdf_flate_pred(1),
    "pdf_flate_pred_up": lambda: pdf_flate_pred(2),
    "pdf_flate_pred_avg": lambda: pdf_flate_pred(3),
    "pdf_flate_pred_paeth": lambda: pdf_flate_pred(4),
    "pdf_lzw": pdf_lzw,
    "pdf_lzw_wide": pdf_lzw_wide,
    "pdf_ahx": pdf_ahx,
    "pdf_a85": pdf_a85,
    "pdf_rle": pdf_rle,
    "pdf_chain": pdf_chain,
    "pdf_xrefstream": pdf_xrefstream,
    "pdf_objstm": pdf_objstm,
    "pdf_updated": pdf_updated,
    "pdf_hybrid": pdf_hybrid,
    "pdf_linearized": pdf_linearized,
    "pdf_linearized_bad": pdf_linearized_bad,
    "pdf_bad_xref_offset": pdf_bad_xref_offset,
    "pdf_len_mismatch": pdf_len_mismatch,
    "pdf_dangling_ref": pdf_dangling_ref,
    "pdf_pages_cycle": pdf_pages_cycle,
    "pdf_overlap": pdf_overlap,
    "pdf_holes": pdf_holes,
    "pdf_type_err": pdf_type_err,
    "pdf_junk_header": pdf_junk_header,
    "pdf_truncated": pdf_truncated,
    "pdf_bad_a85": pdf_bad_a85,
    "pdf_prev_loop": pdf_prev_loop,
    "pdf_int_overflow": pdf_int_overflow,
    "pdf_deep_nest": lambda: pdf_deep_nest(2000),
}

# ---------------------------------------------------------------------------
# HTML recipes
# ---------------------------------------------------------------------------

_WORDS = (
    "spark arrow batch column parquet shuffle partition salt skew executor "
    "catalyst codegen predicate pushdown broadcast window rollup lineage "
    "snapshot manifest verdict taxonomy extraction boilerplate density"
).split()


def _para(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n)).capitalize() + "."


def html_article(rng: random.Random) -> bytes:
    paras = "\n".join(
        f"<p>{_para(rng, 25 + rng.randrange(30))}</p>" for _ in range(4 + rng.randrange(4))
    )
    return (
        "<html><head><title>skip me</title><style>p{color:red}</style></head>"
        "<body><nav><a href='/'>Home</a><a href='/x'>X</a></nav>"
        "<header><h1>Site Banner</h1></header>"
        f"<main><article><h2>{_para(rng, 5)}</h2>{paras}</article></main>"
        "<aside><a href='/ad'>Buy now</a> sponsored</aside>"
        "<footer>© 2026 corp</footer>"
        "<script>var x=1;</script></body></html>"
    ).encode()


def html_linkfarm(rng: random.Random) -> bytes:
    links = "".join(
        f"<a href='/{i}'>{rng.choice(_WORDS)} {rng.choice(_WORDS)}</a> "
        for i in range(30)
    )
    body = f"<p>{_para(rng, 40)}</p>"
    return (
        f"<html><body><div>{links}</div>{body}<div>{links}</div></body></html>"
    ).encode()


def html_entities(rng: random.Random) -> bytes:
    return (
        "<html><body><p>Caf&eacute; cr&egrave;me &amp; &#8220;quotes&#8221; "
        "&lt;tags&gt; — ünïcodé 漢字</p>"
        f"<p>{_para(rng, 20)}</p></body></html>"
    ).encode("utf-8")


def html_malformed(rng: random.Random) -> bytes:
    return (
        f"<html><body><p>{_para(rng, 15)}<div>unclosed "
        f"<b>bold<i>nested {_para(rng, 10)}</div><p>{_para(rng, 12)}"
        "<table><tr><td>cell</body>"
    ).encode()


def html_empty(rng: random.Random) -> bytes:
    return (
        "<html><head><title>nothing</title></head><body>"
        "<nav><a href='/'>only</a><a href='/nav'>links</a></nav>"
        "<script>nope()</script></body></html>"
    ).encode()


def html_table(rng: random.Random) -> bytes:
    """Data table + pre block: every row/cell boundary is a block flush;
    link-heavy footer row must drop on link density."""
    rows = "".join(
        f"<tr><td>{rng.choice(_WORDS)}</td><td>{rng.randrange(1000)}</td>"
        f"<td>{_para(rng, 6)}</td></tr>"
        for _ in range(5)
    )
    navrow = (
        "<tr><td>" + "".join(f"<a href='/{i}'>p{i}</a> " for i in range(12))
        + "</td></tr>"
    )
    return (
        "<html><body>"
        f"<h1>{_para(rng, 4)}</h1>"
        f"<table>{rows}{navrow}</table>"
        f"<pre>  raw   spacing   collapses  </pre>"
        f"<p>{_para(rng, 30)}</p>"
        "</body></html>"
    ).encode()


def html_cp1252(rng: random.Random) -> bytes:
    """Declared windows-1252 page with bytes that are NOT valid UTF-8
    (smart quotes, em-dash, é) — exercises the v2 meta-charset sniff."""
    return (
        "<html><head><meta http-equiv='Content-Type' "
        "content='text/html; charset=windows-1252'></head><body>"
        f"<p>Café “legacy encodings” — still everywhere.</p>"
        f"<p>{_para(rng, 20)}</p></body></html>"
    ).encode("cp1252")


def html_utf16(rng: random.Random) -> bytes:
    """UTF-16-LE page with BOM — the meta tag is unreadable as ASCII, only
    the BOM identifies the encoding."""
    return (
        "﻿<html><head><meta charset='utf-16'></head><body>"
        f"<p>wide päge 漢字テスト</p><p>{_para(rng, 18)}</p></body></html>"
    ).encode("utf-16-le")


def html_enc_fallback(rng: random.Random) -> bytes:
    """No declaration, invalid UTF-8 bytes → cp1252 browser-style
    fallback (v2 DECODE rule 4)."""
    return (
        f"<html><body><p>caf\xe9 na\xefve r\xe9sum\xe9</p>"
        f"<p>{_para(rng, 16)}</p></body></html>"
    ).encode("cp1252")


def html_boilerplate(rng: random.Random) -> bytes:
    """class/id boilerplate regions (Readability-style attr drop): sidebar
    with nested same-tag divs, comments, ad banner, menu list — plus an
    unclosed promo div at the tail; only the article paragraphs survive."""
    junk = _para(rng, 12)
    paras = "\n".join(f"<p>{_para(rng, 22)}</p>" for _ in range(3))
    return (
        "<html><body>"
        f"<div class='sidebar'><div><p>{junk}</p></div><p>widget row</p></div>"
        f"<ul id='TopMenu'><li>home</li><li>about</li></ul>"
        f"<div class='content'>{paras}</div>"
        f"<div id='user-comments'><p>first!</p><p>{junk}</p></div>"
        f"<div class='ad-banner'><p>buy {junk}</p></div>"
        f"<div class='promo'><p>unclosed tail {junk}</p>"
        "</body></html>"
    ).encode()


def html_ogmeta(rng: random.Random) -> bytes:
    """v8 OGMETA recipe: og:title/og:description/og:image in <head>
    (collected despite head's tag-drop), an empty-content og:title decoy
    FIRST (must not consume the first-wins slot), a second og:image that
    must lose, and an og:description inside a boiler sidebar (opaque —
    the later in-head one wins).  Since v14 also carries the robots-meta
    edge matrix: an empty-content robots decoy, the case-mangled winner
    (lowercased + normalized on capture), a second robots that loses,
    and a boiler-region robots that is never seen.  Since v15 also
    carries the alternates edge matrix: a case-mangled hreflang
    alternate (lowercased on capture, href trimmed), a type-tagged feed
    alternate with no hreflang, a multi-token rel containing alternate,
    a bare rel=alternate with no attrs (counts as an empty triple), a
    stylesheet link that must NOT count, a drop-region (nav) alternate
    that IS collected (head-metadata contract), and a boiler-region
    alternate that is never seen.  Since v16 also carries the refresh
    edge matrix: an empty-content refresh decoy, the case-mangled
    winner (lowercased + normalized), a later refresh that loses, and a
    boiler-region refresh that is never seen.  Since v17 also carries
    the base-href matrix: an href-less <base target> decoy, the
    case-preserved trimmed winner, and a later base that loses."""
    t = _para(rng, 4).rstrip(".")
    desc = _para(rng, 9)
    img = f"/img/{rng.randrange(1000)}.png"
    rb = ["index, follow", "NOINDEX,NOFOLLOW", "NoArchive , NoSnippet"][
        rng.randrange(3)
    ]
    rf = ["0;   URL=/Moved", "30", "5; url=/Next?v=2"][rng.randrange(3)]
    bh = ["/Docs/Sub/", "https://CDN.example/root/", "../up/"][
        rng.randrange(3)
    ]
    hl = ["fr-FR", "de", "pt-BR"][rng.randrange(3)]
    paras = "\n".join(f"<p>{_para(rng, 18)}</p>" for _ in range(2))
    return (
        "<html><head>"
        "<meta property='og:title' content='   '>"
        f"<meta property=' OG:Title ' content=' {t}   here '>"
        f"<meta property='og:image' content=' {img} '>"
        "<meta property='og:image' content='/loses.png'>"
        "<meta name='robots' content='  '>"
        f"<meta name=' Robots ' content='  {rb}  '>"
        "<meta name='robots' content='all-loses'>"
        "<meta http-equiv='refresh' content='   '>"
        f"<meta HTTP-EQUIV=' Refresh ' content=' {rf} '>"
        "<meta http-equiv='refresh' content='99;url=/loses'>"
        "<base target='_blank'>"
        f"<base href=' {bh} '>"
        "<base href='/base-loses/'>"
        f"<link rel='alternate' hreflang=' {hl} ' href=' /{hl}/page '>"
        "<link rel='alternate' type=' Application/RSS+XML ' "
        "href='/feed.xml'>"
        "<link rel='alternate nofollow' href='/print'>"
        "<link rel='alternate'>"
        "<link rel='stylesheet' href='/style.css'>"
        "</head><body>"
        "<nav><link rel='alternate' hreflang='es' href='/es'></nav>"
        f"<div class='sidebar'><meta property='og:description' "
        f"content='hidden'><meta name='robots' content='boiler-hidden'>"
        f"<meta http-equiv='refresh' content='1;url=/boiler-hidden'>"
        f"<link rel='alternate' hreflang='it' href='/it'>"
        f"<p>menu {t}</p></div>"
        f"<meta property='og:description' content=' {desc} '>"
        f"<div class='content'>{paras}</div>"
        "</body></html>"
    ).encode()


def html_anchors(rng: random.Random) -> bytes:
    """v9 ANCHORS recipe: the per-outlink anchor-text edge matrix — a
    styled anchor (nested inline tags join into one normalized text), a
    duplicate href whose DIFFERENT text must lose (first element wins),
    a textless anchor (""), a nested anchor pair (inner captures its own
    text, outer resumes around it), a boiler-region anchor (no outlink,
    no text), and an anchor left open at end of body (captures to EOF
    through the closing block tags)."""
    w1 = _para(rng, 3).rstrip(".")
    w2 = _para(rng, 2).rstrip(".")
    n = rng.randrange(100)
    paras = "\n".join(f"<p>{_para(rng, 16)}</p>" for _ in range(2))
    return (
        "<html><body>"
        f"<p>intro {_para(rng, 12)}</p>"
        f"<p><a href='/first/{n}'>read <b>{w1}</b> now</a> and "
        f"<a href='/first/{n}'>different {w2} loses</a></p>"
        f"<p><a href='/empty/{n}'></a> gap "
        f"<a href='/outer/{n}'>outer {w2} <a href='/inner/{n}'>inner "
        f"{w1}</a> tail</a></p>"
        f"<div class='promo'><a href='/boiler/{n}'>never {w1}</a></div>"
        f"{paras}"
        f"<p><a href='/open/{n}'>unclosed {w2}</p>"
        "</body></html>"
    ).encode()


def html_lists(rng: random.Random) -> bytes:
    """v11 LISTS recipe: the list-item edge matrix — a top-level <ul>
    with a styled item (nested inline tags normalize into one text), a
    self-closing empty item, and an item carrying a NESTED <ol> (the
    inner items emit before the suspended outer item closes); a
    self-closing <ul/> (consumes a list index, no items possible); a
    boiler-region list (no tuples); a drop-region (<nav>) list (no
    tuples); a stray <li> outside any list (ignored); and an <ol> whose
    last item stays open to end of input (captures through the closing
    block tags)."""
    w1 = _para(rng, 3).rstrip(".")
    w2 = _para(rng, 2).rstrip(".")
    n = rng.randrange(100)
    paras = "\n".join(f"<p>{_para(rng, 14)}</p>" for _ in range(2))
    return (
        "<html><body>"
        f"<p>intro {_para(rng, 12)}</p>"
        f"<ul><li>first <b>{w1}</b> item</li><li/>"
        f"<li>outer {w2}<ol><li>inner {w1}</li><li>inner2</li></ol>"
        f" resumed</li></ul>"
        "<ul/>"
        f"<div class='sidebar'><ul><li>boiler {w1}</li></ul></div>"
        f"<nav><ul><li>nav {w2}</li></ul></nav>"
        f"<li>stray {n}</li>"
        f"{paras}"
        f"<ol><li>alpha {w2}</li><li>open tail {n}"
        "</body></html>"
    ).encode()


def html_images(rng: random.Random) -> bytes:
    """v12 IMAGES recipe: the img edge matrix — src+alt in content, a
    whitespace-padded self-closing src inside a <figure>, alt-only and
    bare <img> (index per element, "" fields), a data: URI (kept —
    unlike OUTLINKS there is no scheme filter), an exact duplicate src
    (kept — no dedup), duplicate src ATTRIBUTES (first wins), a
    boiler-div image and a <nav> image (both excluded), a boiler-CLASSED
    <img> opening an attr-region that swallows a nested image until two
    </img> closes end it, and a post-region image that is collected
    again."""
    w = _para(rng, 3).rstrip(".")
    n = rng.randrange(100)
    paras = "\n".join(f"<p>{_para(rng, 14)}</p>" for _ in range(2))
    return (
        "<html><body>"
        f"<p>intro {_para(rng, 12)}</p>"
        f"<img src='/img/{n}.png' alt='hero  {w}'>"
        f"<figure><img src=' /pad{n}.jpg '/>"
        f"<figcaption>cap {w}</figcaption></figure>"
        "<img alt='altonly'><img>"
        "<img src='data:image/gif;base64,R0lGOD' alt='inline'>"
        f"<img src='/img/{n}.png' alt='dup kept'>"
        f"<img src='/first{n}.png' src='/second.png' alt='first attr wins'>"
        "<div class='sidebar'><img src='/boiler.png' alt='no'></div>"
        "<nav><img src='/nav.png'></nav>"
        f"{paras}"
        "<img class='advert' src='/regionroot.png'>"
        "<img src='/swallowed.png'></img></img>"
        f"<img src='/after-region{n}.png' alt='tail'>"
        "</body></html>"
    ).encode()


def html_jsonld(rng: random.Random) -> bytes:
    """v13 JSONLD recipe: the ld+json edge matrix — a schema.org Article
    payload with internal whitespace (preserved; only ends stripped), an
    uppercase/padded type attr (still matches), a duplicate type attr
    (first occurrence wins), a plain <script> (not collected), a
    self-closing match and an empty match (both ""), a boiler-region
    match (excluded), a <nav>-wrapped match (COLLECTED — like TITLE the
    surface ignores tag-drop regions), and an unclosed match at EOF
    (emits "" — html.parser never flushes unterminated CDATA)."""
    n = rng.randrange(100)
    w = _para(rng, 2).rstrip(".")
    paras = "\n".join(f"<p>{_para(rng, 14)}</p>" for _ in range(2))
    return (
        "<html><head>"
        '<script type="application/ld+json">\n'
        f'{{"@type": "Article",\n "name": "a{n}"}}\n'
        "</script>"
        "</head><body>"
        f"<p>intro {_para(rng, 12)}</p>"
        '<script type=" APPLICATION/LD+JSON ">'
        f'{{"pad":{n % 7}}}</script>'
        '<script type="application/ld+json" type="text/plain">'
        f'{{"firstwins":{n % 3}}}</script>'
        f"<script>var x = {n};</script>"
        '<script type="application/ld+json"/>'
        '<script type="application/ld+json">   </script>'
        '<div class="sidebar"><script type="application/ld+json">'
        '{"boiler":1}</script></div>'
        '<nav><script type="application/ld+json">'
        f'{{"innav":{n % 5}}}</script></nav>'
        f"{paras}"
        '<script type="application/ld+json">'
        f'{{"tail": "t{n}"'
        "</body></html>"
    ).encode()


HTML_RECIPES = {
    "html_article": html_article,
    "html_linkfarm": html_linkfarm,
    "html_entities": html_entities,
    "html_malformed": html_malformed,
    "html_empty": html_empty,
    "html_table": html_table,
    "html_cp1252": html_cp1252,
    "html_utf16": html_utf16,
    "html_enc_fallback": html_enc_fallback,
    "html_boilerplate": html_boilerplate,
    "html_ogmeta": html_ogmeta,
    "html_anchors": html_anchors,
    "html_lists": html_lists,
    "html_images": html_images,
    "html_jsonld": html_jsonld,
}

LANGS = ["en", "es", "zh", "de", "fr"]


_CORPUS_EPOCH = datetime(2026, 1, 1)


@lru_cache(maxsize=None)
def _corpus_recipes() -> tuple:
    """The corpus recipe cycle: every PDF recipe, then the sorted HTML
    ones. Built on first use, once every recipe is registered."""
    return (*PDF_RECIPES.items(), *((k, None) for k in sorted(HTML_RECIPES)))


def corpus_row(idx: int, include_giant: bool = False) -> dict:
    """Row ``idx`` of the synth corpus, a documents_raw mapping. Recipes
    cycle and sizes vary via a per-row rng, so any row is built alone;
    ``text`` is NULL (as in prod): the expected extraction lives in the
    goldens, not the input. With ``include_giant`` every 4999th row is a
    ``pdf_giant``."""
    rng = random.Random(f"42:{idx}")
    recipes = _corpus_recipes()
    name, fn = recipes[idx % len(recipes)]
    blob = HTML_RECIPES[name](rng) if fn is None else fn()
    if include_giant and idx > 0 and idx % 4999 == 0:
        name, blob = "pdf_giant", pdf_giant(50_000)
    return {
        "url": f"https://synth.example/{name}/{idx}",
        "warc_ts": _CORPUS_EPOCH + timedelta(seconds=idx * 37 % 2_592_000),
        "html": blob,
        "text": None,
        "lang": LANGS[idx % len(LANGS)],
    }


# ---------------------------------------------------------------------------
# encrypted fixtures (standard security handler, empty passwords)
# ---------------------------------------------------------------------------

_CRYPT_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _rc4_gen(key: bytes, data: bytes) -> bytes:
    """Generator-side RC4 (kept separate from the engine's for test
    independence)."""
    s = bytearray(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) % 256
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    x = y = 0
    for c in data:
        x = (x + 1) % 256
        y = (y + s[x]) % 256
        s[x], s[y] = s[y], s[x]
        out.append(c ^ s[(s[x] + s[y]) % 256])
    return bytes(out)


def _std_crypt_params(file_id: bytes, r: int, p: int = -44):
    """O, U and the file key for empty owner+user passwords
    (Algorithms 2/3/5, Length=128)."""
    import hashlib
    import struct

    # Algorithm 3: O from the (empty → padded) owner password
    key = hashlib.md5(_CRYPT_PAD).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:16]).digest()
    klen = 16 if r >= 3 else 5
    o = _rc4_gen(key[:klen], _CRYPT_PAD)
    if r >= 3:
        for i in range(1, 20):
            o = _rc4_gen(bytes(b ^ i for b in key[:klen]), o)

    # Algorithm 2: the file encryption key (empty user password)
    h = hashlib.md5()
    h.update(_CRYPT_PAD)
    h.update(o[:32])
    h.update(struct.pack("<i", p))
    h.update(file_id)
    fkey = h.digest()
    if r >= 3:
        for _ in range(50):
            fkey = hashlib.md5(fkey[:klen]).digest()
    fkey = fkey[:klen]

    # Algorithm 4/5: U
    if r == 2:
        u = _rc4_gen(fkey, _CRYPT_PAD)
    else:
        u = hashlib.md5(_CRYPT_PAD + file_id).digest()
        u = _rc4_gen(fkey, u)
        for i in range(1, 20):
            u = _rc4_gen(bytes(b ^ i for b in fkey), u)
        u += b"\x00" * 16
    return o, u, fkey


def _objkey_gen(fkey: bytes, num: int, gen: int, aes: bool) -> bytes:
    import hashlib
    import struct

    h = hashlib.md5()
    h.update(fkey)
    h.update(struct.pack("<i", num)[:3])
    h.update(struct.pack("<i", gen)[:2])
    if aes:
        h.update(b"sAlT")
    return h.digest()[: min(len(fkey) + 5, 16)]


def _hexstr(b: bytes) -> bytes:
    return b"<" + b.hex().encode() + b">"


def _encrypted_pdf(aes: bool) -> bytes:
    import hashlib

    file_id = hashlib.md5(b"caraspark-fixture-id").digest()
    r = 4 if aes else 3
    p = -44
    o, u, fkey = _std_crypt_params(file_id, r, p)
    content = b"BT (Hello Encrypted) Tj ET"
    okey = _objkey_gen(fkey, 4, 0, aes)
    if aes:
        from cryptography.hazmat.primitives.ciphers import (
            Cipher,
            algorithms,
            modes,
        )

        iv = hashlib.md5(b"iv:4:0").digest()
        padlen = 16 - len(content) % 16
        enc = Cipher(algorithms.AES(okey), modes.CBC(iv)).encryptor()
        payload = iv + enc.update(content + bytes([padlen]) * padlen) + enc.finalize()
    else:
        payload = _rc4_gen(okey, content)

    bodies = _base_objects(payload)
    if aes:
        enc_dict = (
            b"<< /Filter /Standard /V 4 /R 4 /Length 128 /P -44"
            b" /O " + _hexstr(o) + b" /U " + _hexstr(u) +
            b" /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen >> >>"
            b" /StmF /StdCF /StrF /StdCF >>"
        )
    else:
        enc_dict = (
            b"<< /Filter /Standard /V 2 /R 3 /Length 128 /P -44"
            b" /O " + _hexstr(o) + b" /U " + _hexstr(u) + b" >>"
        )
    bodies[5] = _obj(5, enc_dict)
    trailer_extra = (
        b" /Encrypt 5 0 R /ID [" + _hexstr(file_id) + _hexstr(file_id) + b"]"
    )
    return _assemble(bodies, trailer_extra=trailer_extra)


def pdf_info_title() -> bytes:
    """Document-metadata recipe (v5 TITLE): trailer /Info pointing at an
    Info dict whose /Title is a UTF-16BE BOM string with non-Latin and
    surrogate-free typographic chars, plus /Author in PDFDocEncoding —
    pins the BOM branch of the text-string decode and /Info deref."""
    bodies = _base_objects(b"BT (Titled body) Tj ET")
    title = "\xfe\xff".encode("latin-1") + "T\u00eftle \u2014 \u6f22\u5b57".encode(
        "utf-16-be"
    )
    author = b"Caf\xe9 \x93ligature"  # PDFDocEncoding: 0x93 -> U+FB01
    subject = b"  A   subject\x85with dashes  "  # 0x85 -> U+2013, renorm
    bodies[5] = _obj(
        5,
        b"<< /Title " + _hexstr(title) + b" /Author " + _hexstr(author)
        + b" /Subject " + _hexstr(subject) + b" >>",
    )
    return _assemble(bodies, trailer_extra=b" /Info 5 0 R")


ATTACH_A = b"attached plain text payload \xc3\xa9"
ATTACH_Z = bytes(range(256)) * 4  # binary, flate-compressed in the file


def pdf_attachments() -> bytes:
    """Embedded-files recipe [PDF17 SS7.11]: catalog /Names /EmbeddedFiles
    name tree SPLIT over two Kids leaves (exercises the tree walk, Limits
    and sortedness), two filespecs — a plain text stream and a
    FlateDecode binary stream with /Params /Size."""
    bodies = _base_objects(b"BT (Has attachments) Tj ET")
    bodies[1] = _obj(
        1, b"<< /Type /Catalog /Pages 2 0 R /Names 5 0 R >>"
    )
    bodies[5] = _obj(5, b"<< /EmbeddedFiles 6 0 R >>")
    bodies[6] = _obj(6, b"<< /Kids [7 0 R 8 0 R] >>")
    bodies[7] = _obj(
        7, b"<< /Limits [(a.txt) (a.txt)] /Names [(a.txt) 9 0 R] >>"
    )
    bodies[8] = _obj(
        8, b"<< /Limits [(z.bin) (z.bin)] /Names [(z.bin) 10 0 R] >>"
    )
    bodies[9] = _obj(
        9, b"<< /Type /Filespec /F (a.txt) /EF << /F 11 0 R >> >>"
    )
    bodies[10] = _obj(
        10, b"<< /Type /Filespec /F (z.bin) /EF << /F 12 0 R >> >>"
    )
    bodies[11] = _stream_obj(
        11, b"/Type /EmbeddedFile /Subtype /text#2Fplain", ATTACH_A
    )
    bodies[12] = _stream_obj(
        12,
        b"/Type /EmbeddedFile /Filter /FlateDecode /Params << /Size "
        + str(len(ATTACH_Z)).encode()
        + b" >>",
        zlib.compress(ATTACH_Z),
    )
    return _assemble(bodies)


def pdf_outline() -> bytes:
    """Outline (bookmark) tree recipe [PDF17 SS12.3.3]: two top-level
    items, the first with two children — consistent First/Last/Next/Prev/
    Parent/Count links so the structural checks stay green; one title is
    a UTF-16BE BOM string."""
    bodies = _base_objects(b"BT (Outlined doc) Tj ET")
    bodies[1] = _obj(
        1, b"<< /Type /Catalog /Pages 2 0 R /Outlines 5 0 R >>"
    )
    bodies[5] = _obj(
        5,
        b"<< /Type /Outlines /First 6 0 R /Last 7 0 R /Count 4 >>",
    )
    t16 = "\xfe\xff".encode("latin-1") + "Intro \u2014 \u6982\u8981".encode(
        "utf-16-be"
    )
    bodies[6] = _obj(
        6,
        b"<< /Title " + _hexstr(t16) + b" /Parent 5 0 R /Next 7 0 R"
        b" /First 8 0 R /Last 9 0 R /Count 2 >>",
    )
    bodies[7] = _obj(
        7, b"<< /Title (Conclusion) /Parent 5 0 R /Prev 6 0 R >>"
    )
    bodies[8] = _obj(
        8,
        b"<< /Title (  Background   notes ) /Parent 6 0 R /Next 9 0 R >>",
    )
    bodies[9] = _obj(
        9, b"<< /Title (Methods) /Parent 6 0 R /Prev 8 0 R >>"
    )
    return _assemble(bodies)


def pdf_acroform() -> bytes:
    """AcroForm recipe [PDF17 SS12.7]: a text field with a UTF-16BE value,
    a checkbox (name value /Yes), and a radio GROUP whose /V sits on the
    parent and inherits to the kid widgets (the dotted-name +
    inheritance path)."""
    bodies = _base_objects(b"BT (Form doc) Tj ET")
    bodies[1] = _obj(
        1, b"<< /Type /Catalog /Pages 2 0 R /AcroForm 5 0 R >>"
    )
    bodies[5] = _obj(5, b"<< /Fields [6 0 R 7 0 R 8 0 R] >>")
    val16 = "\xfe\xff".encode("latin-1") + "J\u00fcrgen".encode("utf-16-be")
    bodies[6] = _obj(
        6,
        b"<< /FT /Tx /T (name) /V " + _hexstr(val16) + b" /MaxLen 64 >>",
    )
    bodies[7] = _obj(7, b"<< /FT /Btn /T (subscribed) /V /Yes >>")
    bodies[8] = _obj(
        8,
        b"<< /FT /Btn /T (color) /V /Red /Kids [9 0 R 10 0 R] >>",
    )
    bodies[9] = _obj(9, b"<< /Parent 8 0 R /T (opt1) >>")
    bodies[10] = _obj(10, b"<< /Parent 8 0 R /T (opt2) >>")
    return _assemble(bodies)


def pdf_encrypted_objstm() -> bytes:
    """RC4-128 (R3) file whose catalog+pages live inside an /ObjStm, with a
    string entry (/Lang) in the compressed catalog. Pins the spec's
    decryption layering [PDF17 §7.6.2]: the ObjStm payload is encrypted
    ONCE as a stream with the container's object key; embedded objects and
    their strings are NOT re-encrypted individually, and the xref stream
    is never encrypted."""
    import hashlib

    file_id = hashlib.md5(b"caraspark-objstm-id").digest()
    o, u, fkey = _std_crypt_params(file_id, 3, -44)
    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}

    def put(num: int, body: bytes) -> None:
        offsets[num] = len(out)
        out.extend(body)

    inner1 = b"<< /Type /Catalog /Pages 2 0 R /Lang (en-US) >>"
    inner2 = b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
    hdr = f"1 0 2 {len(inner1) + 1}".encode()
    payload = hdr + b"\n" + inner1 + b"\n" + inner2
    put(
        6,
        _stream_obj(
            6,
            f"/Type /ObjStm /N 2 /First {len(hdr) + 1}".encode(),
            _rc4_gen(_objkey_gen(fkey, 6, 0, False), payload),
        ),
    )
    put(
        3,
        _obj(
            3,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R >>",
        ),
    )
    content = b"BT (Hello ObjStm Crypt) Tj ET"
    put(
        4,
        _stream_obj(4, b"", _rc4_gen(_objkey_gen(fkey, 4, 0, False), content)),
    )
    put(
        5,
        _obj(
            5,
            b"<< /Filter /Standard /V 2 /R 3 /Length 128 /P -44 /O "
            + _hexstr(o) + b" /U " + _hexstr(u) + b" >>",
        ),
    )
    xref_off = len(out)

    def row(t: int, b2: int, c: int) -> bytes:
        return bytes([t]) + b2.to_bytes(2, "big") + bytes([c])

    rows = [
        row(0, 0, 255),          # 0 free
        row(2, 6, 0),            # 1 compressed in 6[0]
        row(2, 6, 1),            # 2 compressed in 6[1]
        row(1, offsets[3], 0),
        row(1, offsets[4], 0),
        row(1, offsets[5], 0),
        row(1, offsets[6], 0),
        row(1, xref_off, 0),     # 7 = this xref stream
    ]
    d = (
        b"/Type /XRef /Size 8 /W [1 2 1] /Index [0 8] /Root 1 0 R"
        b" /Encrypt 5 0 R /ID [" + _hexstr(file_id) + _hexstr(file_id) + b"]"
    )
    put(7, _stream_obj(7, d, b"".join(rows)))
    out += b"startxref\n" + str(xref_off).encode() + b"\n%%EOF\n"
    return bytes(out)


def pdf_encrypted_aes256() -> bytes:
    """R6 (ISO 32000-2 AES-256) fixture, empty user password. U/UE are
    generated with the forward side of Algorithm 2.B + key wrapping; the
    engine's decrypt path must invert it exactly."""
    import hashlib

    from cryptography.hazmat.primitives.ciphers import (
        Cipher,
        algorithms,
        modes,
    )

    def cbc(key: bytes, iv: bytes, data: bytes) -> bytes:
        e = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
        return e.update(data) + e.finalize()

    def h6(pw: bytes, salt: bytes, udata: bytes = b"") -> bytes:
        k = hashlib.sha256(pw + salt + udata).digest()
        i = 0
        while True:
            i += 1
            e = cbc(k[:16], k[16:32], (pw + k + udata) * 64)
            k = [hashlib.sha256, hashlib.sha384, hashlib.sha512][
                sum(e[:16]) % 3
            ](e).digest()
            if i >= 64 and e[-1] <= i - 32:
                return k[:32]

    fkey = hashlib.sha256(b"caraspark-r6-file-key").digest()  # 32 bytes
    vsalt = hashlib.md5(b"vsalt").digest()[:8]
    ksalt = hashlib.md5(b"ksalt").digest()[:8]
    u = h6(b"", vsalt) + vsalt + ksalt
    ue = cbc(h6(b"", ksalt), b"\x00" * 16, fkey)
    # owner entries (computed over U per spec; engine validates user only)
    ovs = hashlib.md5(b"ovs").digest()[:8]
    oks = hashlib.md5(b"oks").digest()[:8]
    o = h6(b"", ovs, u) + ovs + oks
    oe = cbc(h6(b"", oks, u), b"\x00" * 16, fkey)

    content = b"BT (Hello AES-256) Tj ET"
    iv = hashlib.md5(b"iv:r6:4:0").digest()
    padlen = 16 - len(content) % 16
    payload = iv + cbc(fkey, iv, content + bytes([padlen]) * padlen)

    bodies = _base_objects(payload)
    bodies[5] = _obj(
        5,
        b"<< /Filter /Standard /V 5 /R 6 /Length 256 /P -44"
        b" /O " + _hexstr(o) + b" /U " + _hexstr(u) +
        b" /OE " + _hexstr(oe) + b" /UE " + _hexstr(ue) +
        b" /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen"
        b" /Length 32 >> >>"
        b" /StmF /StdCF /StrF /StdCF >>",
    )
    file_id = hashlib.md5(b"caraspark-r6-id").digest()
    trailer_extra = (
        b" /Encrypt 5 0 R /ID [" + _hexstr(file_id) + _hexstr(file_id) + b"]"
    )
    return _assemble(bodies, trailer_extra=trailer_extra)


def pdf_encrypted_rc4() -> bytes:
    return _encrypted_pdf(aes=False)


def pdf_encrypted_aes() -> bytes:
    return _encrypted_pdf(aes=True)


def pdf_actions() -> bytes:
    """Action-subtype recipe [PDF17 SS12.6.4]: link annots carrying URI
    (chained via /Next to a Named action), inline GoTo, GoToR, and a
    Launch with a Win parameter dict; the catalog OpenAction is a
    JavaScript action. Exercises every dedicated action class plus the
    generic fallback (SubmitForm)."""
    bodies = _base_objects(b"BT (Actions doc) Tj ET")
    bodies[1] = _obj(
        1,
        b"<< /Type /Catalog /Pages 2 0 R /OpenAction 9 0 R >>",
    )
    bodies[3] = _obj(
        3,
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Annots [5 0 R 6 0 R 7 0 R] >>",
    )
    bodies[5] = _obj(
        5,
        b"<< /Type /Annot /Subtype /Link /Rect [10 10 100 30] "
        b"/A 8 0 R >>",
    )
    bodies[6] = _obj(
        6,
        b"<< /Type /Annot /Subtype /Link /Rect [10 40 100 60] "
        b"/A << /Type /Action /S /GoTo /D [3 0 R /Fit] >> >>",
    )
    bodies[7] = _obj(
        7,
        b"<< /Type /Annot /Subtype /Link /Rect [10 70 100 90] "
        b"/A << /S /GoToR /F (other.pdf) /D [0 /Fit] /NewWindow true "
        b"/Next << /S /Launch /Win << /F (reader.exe) /P (doc.txt) >> "
        b"/NewWindow false >> >> >>",
    )
    bodies[8] = _obj(
        8,
        b"<< /Type /Action /S /URI /URI (https://example.org/a?b=c) "
        b"/IsMap false /Next 10 0 R >>",
    )
    bodies[9] = _obj(
        9,
        b"<< /Type /Action /S /JavaScript /JS (app.alert(1);) "
        b"/Next << /S /SubmitForm /F (https://example.org/post) >> >>",
    )
    bodies[10] = _obj(10, b"<< /Type /Action /S /Named /N /NextPage >>")
    return _assemble(bodies)


def pdf_multimedia() -> bytes:
    """Multimedia recipe [PDF17 SS12.5.6.18, SS13.2, SS13.4 + SS7.10,
    SS8.7.4.3]: a Screen annot whose Rendition action targets a media
    rendition + clip, a (deprecated-but-crawled) Movie annot, a type-4
    free-form mesh shading stream, and an axial shading whose /Function
    is a type-3 stitch of two type-2 exponentials."""
    bodies = _base_objects(b"BT (Media doc) Tj ET")
    bodies[3] = _obj(
        3,
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Annots [5 0 R 6 0 R] "
        b"/Resources << /Shading << /Sh0 9 0 R /Sh1 10 0 R >> >> >>",
    )
    bodies[5] = _obj(
        5,
        b"<< /Type /Annot /Subtype /Screen /Rect [0 0 320 240] "
        b"/T (Player) /A 7 0 R >>",
    )
    bodies[6] = _obj(
        6,
        b"<< /Type /Annot /Subtype /Movie /Rect [0 250 320 490] "
        b"/T (Trailer) /Movie << /F (trailer.avi) /Aspect [320 240] "
        b"/Rotate 0 /Poster false >> /A true >>",
    )
    bodies[7] = _obj(
        7,
        b"<< /Type /Action /S /Rendition /OP 0 /R 8 0 R /AN 5 0 R >>",
    )
    bodies[8] = _obj(
        8,
        b"<< /Type /Rendition /S /MR /N (clip) "
        b"/C << /Type /MediaClip /S /MCD /N (m) /D (movie.mp4) "
        b"/CT (video/mp4) >> >>",
    )
    # type-4 free-form Gouraud mesh: 2 triangles, 16-bit coords, 8-bit RGB
    mesh = bytes(
        [0, 0x00, 0x00, 0x00, 0x00, 255, 0, 0]
        + [0, 0xFF, 0xFF, 0x00, 0x00, 0, 255, 0]
        + [0, 0x7F, 0xFF, 0xFF, 0xFF, 0, 0, 255]
        + [1, 0x00, 0x10, 0x00, 0x20, 255, 255, 0]
    )
    bodies[9] = _stream_obj(
        9,
        b"/ShadingType 4 /ColorSpace /DeviceRGB /BitsPerCoordinate 16 "
        b"/BitsPerComponent 8 /BitsPerFlag 8 "
        b"/Decode [0 1 0 1 0 1 0 1 0 1]",
        mesh,
    )
    bodies[10] = _obj(
        10,
        b"<< /ShadingType 2 /ColorSpace /DeviceRGB /Coords [0 0 612 0] "
        b"/Extend [true false] /Function 11 0 R >>",
    )
    bodies[11] = _obj(
        11,
        b"<< /FunctionType 3 /Domain [0 1] /Bounds [0.5] "
        b"/Encode [0 1 0 1] /Functions ["
        b"<< /FunctionType 2 /Domain [0 1] /C0 [1 0 0] /C1 [0 1 0] /N 1 >> "
        b"<< /FunctionType 2 /Domain [0 1] /C0 [0 1 0] /C1 [0 0 1] /N 2 >>"
        b"] >>",
    )
    return _assemble(bodies)


PDF_RECIPES["pdf_info_title"] = pdf_info_title
PDF_RECIPES["pdf_attachments"] = pdf_attachments
PDF_RECIPES["pdf_outline"] = pdf_outline
PDF_RECIPES["pdf_acroform"] = pdf_acroform
PDF_RECIPES["pdf_encrypted_objstm"] = pdf_encrypted_objstm
PDF_RECIPES["pdf_encrypted_rc4"] = pdf_encrypted_rc4
PDF_RECIPES["pdf_encrypted_aes"] = pdf_encrypted_aes
PDF_RECIPES["pdf_encrypted_aes256"] = pdf_encrypted_aes256
PDF_RECIPES["pdf_actions"] = pdf_actions
PDF_RECIPES["pdf_multimedia"] = pdf_multimedia


def pdf_markup_annots() -> bytes:
    """Markup-annotation recipe [PDF17 SS12.5.6.7-16]: one annotation per
    dedicated markup class — Line (/L), Circle, Highlight (/QuadPoints),
    Ink (/InkList), Polygon (/Vertices), Stamp, FileAttachment (/FS
    filespec) and Sound (/Sound stream) — all carrying the SS12.5.6.2
    common markup entries, so every per-subtype REQUIRED key is
    exercised with its spec-valid shape."""
    bodies = _base_objects(b"BT (Markup doc) Tj ET")
    bodies[3] = _obj(
        3,
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R "
        b"/Annots [5 0 R 6 0 R 7 0 R 8 0 R 9 0 R 10 0 R 11 0 R 13 0 R] >>",
    )
    bodies[5] = _obj(
        5,
        b"<< /Type /Annot /Subtype /Line /Rect [0 0 100 100] "
        b"/L [10 10 90 90] /LE [/OpenArrow /None] /T (ruler) "
        b"/Contents (a line) >>",
    )
    bodies[6] = _obj(
        6,
        b"<< /Type /Annot /Subtype /Circle /Rect [0 110 100 210] "
        b"/IC [1 0 0] /CA 0.5 /Subj (geometry) >>",
    )
    bodies[7] = _obj(
        7,
        b"<< /Type /Annot /Subtype /Highlight /Rect [0 220 100 320] "
        b"/QuadPoints [0 220 100 220 0 320 100 320] "
        b"/Contents (important) >>",
    )
    bodies[8] = _obj(
        8,
        b"<< /Type /Annot /Subtype /Ink /Rect [0 330 100 430] "
        b"/InkList [[0 330 50 380 100 430] [10 340 20 350]] >>",
    )
    bodies[9] = _obj(
        9,
        b"<< /Type /Annot /Subtype /Polygon /Rect [0 440 100 540] "
        b"/Vertices [0 440 100 440 50 540] /IC [0 1 0] >>",
    )
    bodies[10] = _obj(
        10,
        b"<< /Type /Annot /Subtype /Stamp /Rect [0 550 100 650] "
        b"/Name /Approved /T (review) >>",
    )
    bodies[11] = _obj(
        11,
        b"<< /Type /Annot /Subtype /FileAttachment "
        b"/Rect [110 0 140 30] /FS 12 0 R /Name /Paperclip "
        b"/Contents (see attachment) >>",
    )
    bodies[12] = _obj(
        12, b"<< /Type /Filespec /F (notes.txt) /UF (notes.txt) >>"
    )
    bodies[13] = _obj(
        13,
        b"<< /Type /Annot /Subtype /Sound /Rect [110 40 140 70] "
        b"/Sound 14 0 R /Name /Speaker >>",
    )
    bodies[14] = _stream_obj(
        14, b"/R 8000 /C 1 /B 8 /E /Raw", bytes(range(16))
    )
    return _assemble(bodies)


PDF_RECIPES["pdf_markup_annots"] = pdf_markup_annots


def pdf_javascript() -> bytes:
    """JavaScript-bearing recipe [PDF17 SS12.6.4.16, SS7.7.4]: a /Names
    /JavaScript name tree (one Kids level, one string-JS and one
    Flate-stream-JS entry), a catalog /AA document-action (WC
    will-close), an OpenAction JS whose /Next chains a second JS, and a
    widget annotation with both /A and an /AA keystroke action — every
    hook ``extract_javascript`` walks, so the side table pins tree
    descent, stream decode, chain follow, and annot order at once."""
    bodies = _base_objects(b"BT (JS doc) Tj ET")
    bodies[1] = _obj(
        1,
        b"<< /Type /Catalog /Pages 2 0 R /OpenAction 5 0 R "
        b"/AA << /WC 6 0 R >> /Names << /JavaScript 7 0 R >> >>",
    )
    bodies[3] = _obj(
        3,
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Annots [11 0 R] >>",
    )
    bodies[5] = _obj(
        5,
        b"<< /Type /Action /S /JavaScript /JS (console.println(1);) "
        b"/Next << /S /JavaScript /JS (this.closeDoc();) >> >>",
    )
    bodies[6] = _obj(
        6,
        b"<< /Type /Action /S /JavaScript "
        b"/JS (app.response('closing');) >>",
    )
    bodies[7] = _obj(7, b"<< /Kids [8 0 R] >>")
    bodies[8] = _obj(
        8,
        b"<< /Limits [(init) (setup)] "
        b"/Names [(init) 9 0 R (setup) 10 0 R] >>",
    )
    bodies[9] = _obj(
        9,
        b"<< /S /JavaScript /JS (var g = 1;) >>",
    )
    js_payload = zlib.compress(b"function setup() { return 42; }")
    bodies[10] = (
        f"10 0 obj\n<< /S /JavaScript /JS 12 0 R >>\nendobj\n".encode()
    )
    bodies[12] = _stream_obj(
        12, b"/Filter /FlateDecode", js_payload
    )
    bodies[11] = _obj(
        11,
        b"<< /Type /Annot /Subtype /Widget /Rect [10 10 60 30] "
        b"/A << /S /JavaScript /JS (event.target.value;) >> "
        b"/AA << /K << /S /JavaScript /JS (AFNumber_Keystroke();) >> >> "
        b">>",
    )
    return _assemble(bodies)


PDF_RECIPES["pdf_javascript"] = pdf_javascript


def pdf_measure() -> bytes:
    """Measurement/geospatial recipe [PDF17 SS12.9 + SS12.8.5 + SS12.6.4.7]:
    a page /VP viewport whose rectilinear /Measure carries X/D/A
    number-format arrays (fraction display, unit chaining), a Line annot
    with its own /Measure, a catalog /Legal attestation (the
    active-content counters a certifying signature attests to — this doc
    declares its own JavaScript count honestly: zero), and a typed
    catalog /URI base dict. Exercises viewport, measure_rl,
    number_format, legal, and uri_dict typedefs."""
    bodies = _base_objects(b"BT (Site plan) Tj ET")
    bodies[1] = _obj(
        1,
        b"<< /Type /Catalog /Pages 2 0 R "
        b"/URI << /Type /URI /Base (https://maps.example/) >> "
        b"/Legal << /JavaScriptActions 0 /LaunchActions 0 /URIActions 1 "
        b"/NonEmbeddedFonts 1 /Annotations 1 "
        b"/Attestation (reviewed; counts are accurate) >> >>",
    )
    bodies[3] = _obj(
        3,
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Annots [7 0 R] /VP [5 0 R] >>",
    )
    bodies[5] = _obj(
        5,
        b"<< /Type /Viewport /BBox [72 72 540 720] /Name (Plan view) "
        b"/Measure 6 0 R >>",
    )
    bodies[6] = _obj(
        6,
        b"<< /Type /Measure /Subtype /RL /R (1 in = 40 ft) "
        b"/X [ << /Type /NumberFormat /U (ft) /C 40.0 /D 100 /F /D >> ] "
        b"/D [ << /Type /NumberFormat /U (ft) /C 1.0 /F /F /D 8 >> "
        b"     << /Type /NumberFormat /U (in) /C 12.0 /F /F /D 8 "
        b"        /O /S >> ] "
        b"/A [ << /Type /NumberFormat /U (acres) /C 0.000022957 >> ] "
        b"/O [0 1] >>",
    )
    bodies[7] = _obj(
        7,
        b"<< /Type /Annot /Subtype /Line /Rect [100 100 300 120] "
        b"/L [100 110 300 110] /Cap true /LL 6 "
        b"/Contents (property line) /Measure 6 0 R >>",
    )
    return _assemble(bodies)


PDF_RECIPES["pdf_measure"] = pdf_measure


def pdf_3d_media() -> bytes:
    """Rich-media recipe [PDF17 SS13.6 + SS13.2.7 + SS14.10.5 + SS8.9.5.4]:
    a 3D annot whose U3D artwork stream carries a named view (camera
    matrix, orbit center) and an activation dict; a Screen annot whose
    rendition names required/preferred media players via software
    identifiers; a catalog SpiderInfo with a typed web-capture command;
    and a page image carrying a print-preferred /Alternates entry —
    exercising threed_stream/threed_view/threed_activation,
    media_players/media_player_info/software_identifier,
    webcapture_command, and alternate_image typedefs."""
    bodies = _base_objects(b"BT (Rich media) Tj ET")
    bodies[1] = _obj(
        1,
        b"<< /Type /Catalog /Pages 2 0 R /SpiderInfo << /V 1.0 "
        b"/C [ << /URL (https://crawl.example/start) /L 2 /F 1 "
        b"/CT (text/html) >> ] >> >>",
    )
    bodies[3] = _obj(
        3,
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Annots [5 0 R 9 0 R] "
        b"/Resources << /XObject << /Im0 11 0 R >> >> >>",
    )
    bodies[5] = _obj(
        5,
        b"<< /Type /Annot /Subtype /3D /Rect [50 400 350 700] "
        b"/3DD 6 0 R /3DV 7 0 R "
        b"/3DA << /A /PV /AIS /L /D /PI /TB false /NP true >> "
        b"/3DI false /3DB [60 410 340 690] >>",
    )
    bodies[6] = _stream_obj(
        6,
        b"/Type /3D /Subtype /U3D /VA [7 0 R] /DV 7 0 R",
        b"U3D\x00synthetic-artwork-bytes",
    )
    bodies[7] = _obj(
        7,
        b"<< /Type /3DView /XN (DefaultView) /IN (v0) /MS /M "
        b"/C2W [1 0 0 0 1 0 0 0 1 0 -20 50] /CO 120.0 /NR true >>",
    )
    bodies[9] = _obj(
        9,
        b"<< /Type /Annot /Subtype /Screen /Rect [0 0 320 240] "
        b"/T (Player) /A << /S /Rendition /OP 0 /AN 9 0 R /R 10 0 R >> >>",
    )
    bodies[10] = _obj(
        10,
        b"<< /Type /Rendition /S /MR /N (intro clip) "
        b"/C << /Type /MediaClip /S /MCD /N (clip) /D (intro.mp4) "
        b"/CT (video/mp4) >> "
        b"/P << /Type /MediaPlayParams /PL << /Type /MediaPlayers "
        b"/MU [ << /Type /MediaPlayerInfo /PID << "
        b"/Type /SoftwareIdentifier "
        b"/U (vnd.adobe.swname:AAPL_QuickTime) /L [7 6 5] /LI true "
        b"/OS [(MACOS) (WIN)] >> >> ] >> "
        b"/BE << /V 80 /C true /A false /RC 1 >> >> >>",
    )
    bodies[11] = (
        b"11 0 obj\n<< /Type /XObject /Subtype /Image /Width 2 /Height 2 "
        b"/BitsPerComponent 8 /ColorSpace /DeviceGray "
        b"/Alternates [ << /Image 12 0 R /DefaultForPrinting true >> ] "
        b"/Length 4 >>\nstream\n\x10\x20\x30\x40\nendstream\nendobj\n"
    )
    bodies[12] = _stream_obj(
        12,
        b"/Type /XObject /Subtype /Image /Width 4 /Height 4 "
        b"/BitsPerComponent 8 /ColorSpace /DeviceGray",
        bytes(range(16)),
    )
    return _assemble(bodies)


PDF_RECIPES["pdf_3d_media"] = pdf_3d_media


def pdf_webcapture() -> bytes:
    """Web-capture / collection recipe [PDF17 SS14.10.4 + SS7.11.6 +
    SS12.5.4 + SS8.10.4 + SS13.2.4-13.2.8]: catalog /Names /IDS and
    /URLS name trees holding an SPS page set (url-alias source info with
    a redirect chain) and an SIS image set; a Square annot carrying
    typed /BS border-style and /BE border-effect dicts; a FileAttachment
    whose filespec /CI is a rest-typed collection item (string, number
    and sort-prefixed subitem fields); a form XObject /Ref reference to
    an external page; and a Screen rendition exercising the full media
    selection chain — criteria (min bit depth / screen size), clip
    permissions + section offsets (timespan and frame), play-param
    duration, and screen params with a floating window. Exercises the
    round-3k typedefs: webcapture_pageset/imageset/sourceinfo,
    url_alias, name_tree_capture, collection_item/subitem,
    border_style/effect, ref_xobject, media_criteria, min_bit_depth,
    min_screen_size, media_permissions, media_duration, timespan,
    media_offset, media_screen_params, media_screen_be,
    floating_window, rendition_be, media_clip_be."""
    bodies = _base_objects(b"BT (Captured site) Tj ET")
    bodies[1] = _obj(
        1,
        b"<< /Type /Catalog /Pages 2 0 R "
        b"/Names << /IDS 5 0 R /URLS 7 0 R >> >>",
    )
    bodies[3] = _obj(
        3,
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Annots [10 0 R 11 0 R 13 0 R] "
        b"/Resources << /XObject << /Fm0 15 0 R >> >> >>",
    )
    bodies[5] = _obj(
        5, b"<< /Names [(c4f1d-digest-1) 6 0 R] "
        b"/Limits [(c4f1d-digest-1) (c4f1d-digest-1)] >>"
    )
    bodies[6] = _obj(
        6,
        b"<< /Type /SpiderContentSet /S /SPS /ID (c4f1d-digest-1) "
        b"/O [3 0 R] /T (Example Capture) /TS (D:20260301120000Z) "
        b"/CT (text/html) "
        b"/SI << /AU << /U (https://example.com/page) "
        b"/C [[(https://example.com/old) (https://example.com/older)]] >> "
        b"/TS (D:20260301110000Z) /S 0 "
        b"/C << /URL (https://example.com/page) /L 1 >> >> >>",
    )
    bodies[7] = _obj(7, b"<< /Names [(https://example.com/logo.gif) 8 0 R] >>")
    bodies[8] = _obj(
        8,
        b"<< /Type /SpiderContentSet /S /SIS /ID (c4f1d-digest-2) "
        b"/O [9 0 R] /R 1 "
        b"/SI [ << /AU (https://example.com/logo.gif) /S 0 >> ] >>",
    )
    bodies[9] = _stream_obj(
        9,
        b"/Type /XObject /Subtype /Image /Width 2 /Height 2 "
        b"/BitsPerComponent 8 /ColorSpace /DeviceGray",
        b"\x11\x22\x33\x44",
    )
    bodies[10] = _obj(
        10,
        b"<< /Type /Annot /Subtype /Square /Rect [10 10 110 110] "
        b"/Contents (captured region) /IC [1.0 1.0 0.9] "
        b"/BS << /Type /Border /W 2 /S /D /D [4 2] >> "
        b"/BE << /S /C /I 1 >> >>",
    )
    bodies[11] = _obj(
        11,
        b"<< /Type /Annot /Subtype /Screen /Rect [120 10 440 250] "
        b"/T (Site tour) /A << /S /Rendition /OP 0 /R 12 0 R >> >>",
    )
    bodies[12] = _obj(
        12,
        b"<< /Type /Rendition /S /MR /N (tour) "
        b"/C << /Type /MediaClip /S /MCS /N (tour-section) /D (tour.mp4) "
        b"/CT (video/mp4) "
        b"/P << /Type /MediaPermissions /TF (TEMPACCESS) >> "
        b"/BE << /B << /Type /MediaOffset /S /T "
        b"/T << /Type /Timespan /S /S /V 2.5 >> >> "
        b"/E << /Type /MediaOffset /S /F /F 480 >> >> >> "
        b"/P << /Type /MediaPlayParams "
        b"/BE << /V 80 /C true /A false "
        b"/D << /Type /MediaDuration /S /T "
        b"/T << /Type /Timespan /S /S /V 30.0 >> >> >> >> "
        b"/SP << /Type /MediaScreenParams "
        b"/BE << /W 0 /B [0.0 0.0 0.0] /O 0.9 /M 0 "
        b"/F << /Type /FWParams /D [320 240] /RT 0 /P 4 /O 1 "
        b"/T true /UC true /R 1 /TT [(en) (Tour)] >> >> >> "
        b"/BE << /C << /Type /MediaCriteria /A false /C false /R 2400 "
        b"/D << /Type /MinBitDepth /V 8 /M 0 >> "
        b"/Z << /Type /MinScreenSize /V [640 480] /M 0 >> "
        b"/L [(en-US)] >> >> >>",
    )
    bodies[13] = _obj(
        13,
        b"<< /Type /Annot /Subtype /FileAttachment /Rect [460 10 480 30] "
        b"/Contents (captured asset) /FS 14 0 R /Name /Paperclip >>",
    )
    bodies[14] = _obj(
        14,
        b"<< /Type /Filespec /F (report.csv) /UF (report.csv) "
        b"/Desc (crawl report) "
        b"/CI << /Type /CollectionItem /Title (Q3 crawl report) "
        b"/Size 1234 "
        b"/Order << /Type /CollectionSubitem /D 3 /P (No. ) >> >> >>",
    )
    bodies[15] = _stream_obj(
        15,
        b"/Type /XObject /Subtype /Form /BBox [0 0 200 200] "
        b"/Ref << /F (master-site.pdf) /Page 0 /ID [(aa11) (bb22)] >>",
        b"0 0 200 200 re S",
    )
    return _assemble(bodies)


PDF_RECIPES["pdf_webcapture"] = pdf_webcapture


def pdf_richmedia() -> bytes:
    """RichMedia recipe [ISO 32000-2 SS13.7 + SS12.6.4.17]: a RichMedia
    annotation whose content carries a filespec-valued asset name tree,
    a video configuration with an instance (binding params, FlashVars),
    activation-on-page-open / deactivation-on-page-close settings with
    an embedded presentation, plus a widget whose RichMediaExecute
    action targets the annotation with a play command. Exercises
    annot_richmedia, richmedia_content/configuration/instance/params,
    richmedia_settings/activation/deactivation/presentation,
    action_richmedia, and richmedia_command."""
    bodies = _base_objects(b"BT (Rich media page) Tj ET")
    bodies[3] = _obj(
        3,
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Annots [5 0 R 9 0 R] >>",
    )
    bodies[5] = _obj(
        5,
        b"<< /Type /Annot /Subtype /RichMedia /Rect [50 300 370 540] "
        b"/NM (rm0) /RichMediaContent 6 0 R "
        b"/RichMediaSettings << /Type /RichMediaSettings "
        b"/Activation << /Type /RichMediaActivation /Condition /PO "
        b"/Presentation << /Type /RichMediaPresentation /Style /Embedded "
        b"/Toolbar false /NavigationPane false /Transparent false "
        b"/PassContextClick false >> >> "
        b"/Deactivation << /Type /RichMediaDeactivation "
        b"/Condition /PC >> >> >>",
    )
    bodies[6] = _obj(
        6,
        b"<< /Type /RichMediaContent "
        b"/Assets << /Names [(intro.mp4) 8 0 R] >> "
        b"/Configurations [7 0 R] >>",
    )
    bodies[7] = _obj(
        7,
        b"<< /Type /RichMediaConfiguration /Subtype /Video /Name (main) "
        b"/Instances [ << /Type /RichMediaInstance /Subtype /Video "
        b"/Asset 8 0 R /Params << /Type /RichMediaParams "
        b"/Binding /Background /FlashVars (autoplay=0&loop=1) >> >> ] >>",
    )
    bodies[8] = _obj(
        8,
        b"<< /Type /Filespec /F (intro.mp4) /UF (intro.mp4) "
        b"/Desc (intro clip) /AFRelationship /Supplement >>",
    )
    bodies[9] = _obj(
        9,
        b"<< /Type /Annot /Subtype /Widget /Rect [50 250 150 280] "
        b"/T (PlayButton) /A << /Type /Action /S /RichMediaExecute "
        b"/TA 5 0 R /CMD << /Type /RichMediaCommand /C (play) "
        b"/A [true 1] >> >> >>",
    )
    return _assemble(bodies)


PDF_RECIPES["pdf_richmedia"] = pdf_richmedia


def html_forms(rng: random.Random) -> bytes:
    """v18 FORMS recipe: the form edge matrix — a POST login form with a
    padded action (trimmed, case preserved), a method-less search form
    (default 'get'), an UPPERCASE-method form (lowercased), an
    attribute-less form (("get", "")), a nav form and a boiler-div form
    (both excluded), a boiler-CLASSED form (its own attrs exclude it),
    and a nested inner form (inside the outer's dropped subtree —
    excluded). Form subtrees stay dropped from the text surface."""
    w = _para(rng, 3).rstrip(".")
    n = rng.randrange(100)
    paras = "\n".join(f"<p>{_para(rng, 14)}</p>" for _ in range(2))
    return (
        "<html><body>"
        f"<p>intro {_para(rng, 10)}</p>"
        f"<form method='POST' action=' /Login{n} '>"
        f"<input name='u'><input name='p'></form>"
        f"<form action='search{n}.php'><input name='q'></form>"
        "<form method=' PUT ' action='/api'></form>"
        "<form></form>"
        "<nav><form action='/nav-box'></form></nav>"
        "<div class='sidebar'><form action='/side'></form></div>"
        "<form class='promo' action='/ad'></form>"
        f"<form action='/outer{n}'><form action='/inner'></form></form>"
        f"{paras}"
        "</body></html>"
    ).encode()


HTML_RECIPES["html_forms"] = html_forms


def html_pagination(rng: random.Random) -> bytes:
    """v19 PAGINATION recipe: the pagination edge matrix — an empty-href
    rel=next decoy (skipped; a later element may still win), a
    case-mangled multi-token winner (' NEXT alternate ', padded href
    trimmed case-preserved — and the same element feeds v15 ALTERNATES),
    a losing second rel=next, a nav-wrapped rel=Previous winner (the
    'previous' spec synonym, collected DESPITE the tag-drop region), a
    losing rel=prev, and a boiler-div rel=next in the body (opaque
    region — excluded)."""
    n = rng.randrange(2, 98)
    paras = "\n".join(f"<p>{_para(rng, 14)}</p>" for _ in range(2))
    return (
        "<html><head>"
        "<link rel='next' href=''>"
        f"<link rel=' NEXT alternate ' href=' /page{n + 1}.html '>"
        "<link rel='next' href='/next-loses'>"
        f"<nav><link rel='Previous' href='?p={n - 1}'></nav>"
        "<link rel='prev' href='/prev-loses'>"
        "</head><body>"
        "<div class='sidebar'><link rel='next' href='/boiler-hidden'></div>"
        f"<p>page {_para(rng, 10)}</p>"
        f"{paras}"
        "</body></html>"
    ).encode()


HTML_RECIPES["html_pagination"] = html_pagination


def html_microdata(rng: random.Random) -> bytes:
    """v20 MICRODATA recipe: the itemprop edge matrix — a typed Article
    item (padded itemtype, trimmed on capture) with a multi-token
    heading prop, one of each attribute value category (a→href trimmed,
    meta→content normalized, time→datetime, img→src, data→value), a
    nested Person item (itemscope+itemprop → pointer value on the
    parent), an inner prop suspending the outer capture (innermost
    binding), a boiler-div prop (opaque region — excluded), a
    nav-wrapped prop (EXCLUDED — v20 is normal-path placement, unlike
    v13), a self-closing capture prop (emits ""), an orphan prop with
    no open item (item=-1, itemtype ""), and an unclosed Review item
    whose capture fills at EOF finalize."""
    n = rng.randrange(100)
    paras = "\n".join(f"<p>{_para(rng, 12)}</p>" for _ in range(2))
    return (
        "<html><body>"
        '<div itemscope itemtype=" https://schema.org/Article ">'
        f'<h1 itemprop="name headline">Story {n} <b>bold</b></h1>'
        f'<a itemprop="url" href=" /article/{n} ">read</a>'
        f'<meta itemprop="wordCount" content=" {n}  00 ">'
        f'<time itemprop="datePublished" datetime="2026-02-{n % 28 + 1:02d}">'
        "then</time>"
        f'<img itemprop="image" src="/img/{n}.png" alt="x">'
        f'<data itemprop="sku" value="SKU{n}">ignored</data>'
        '<div itemprop="author" itemscope '
        'itemtype="https://schema.org/Person">'
        f'<span itemprop="name">Ann{n} Author</span></div>'
        f'<span itemprop="about">outer {n} '
        '<span itemprop="detail">inner</span> tail</span>'
        '<div class="sidebar"><span itemprop="hidden">boiler</span></div>'
        '<nav><span itemprop="navprop">chrome</span></nav>'
        '<span itemprop="flag"/>'
        "</div>"
        f"{paras}"
        f'<span itemprop="loose">orphan {n}</span>'
        '<section itemscope itemtype="https://schema.org/Review">'
        f'<p itemprop="reviewBody">tail {n}'
    ).encode()


HTML_RECIPES["html_microdata"] = html_microdata


def html_rdfa(rng: random.Random) -> bytes:
    """v21 RDFA recipe: the property edge matrix — a vocab region with a
    typed Article subject (padded typeof, trimmed), a multi-token
    heading property, content-beats-href on an anchor, a resource
    value, a meta content (normalized), a time datetime, a void img
    src, a chained Person subject (typeof+property → pointer value on
    the parent), a vocab="" reset subtree, an inner property suspending
    the outer capture (innermost binding), a boiler-div property
    (opaque region — excluded), a nav-wrapped property (EXCLUDED —
    NORMAL-path placement), a valueless void link property (emits ""),
    an orphan property with no open subject (item -1), and an unclosed
    Review subject whose capture fills at EOF finalize."""
    n = rng.randrange(100)
    paras = "\n".join(f"<p>{_para(rng, 12)}</p>" for _ in range(2))
    return (
        "<html><body>"
        '<div vocab=" http://schema.org/ " typeof=" Article ">'
        f'<h1 property="name headline">Story {n} <b>bold</b></h1>'
        f'<a property="url" href=" /article/{n} " '
        f'content=" read  me {n} ">read</a>'
        f'<span property="sameAs" resource=" /canon/{n} ">ignored</span>'
        f'<meta property="wordCount" content=" {n}  00 ">'
        f'<time property="datePublished" datetime="2026-03-{n % 28 + 1:02d}">'
        "then</time>"
        f'<img property="image" src="/img/{n}.png" alt="x">'
        '<div property="author" typeof="Person">'
        f'<span property="name">Bea{n} Author</span></div>'
        '<div vocab="">'
        f'<span property="reset">bare {n}</span></div>'
        f'<span property="about">outer {n} '
        '<span property="detail">inner</span> tail</span>'
        '<div class="sidebar"><span property="hidden">boiler</span></div>'
        '<nav><span property="navprop">chrome</span></nav>'
        '<link property="flag">'
        "</div>"
        f"{paras}"
        f'<span property="loose">orphan {n}</span>'
        '<section vocab="http://example.org/rev#" typeof="Review">'
        f'<p property="reviewBody">tail {n}'
    ).encode()


HTML_RECIPES["html_rdfa"] = html_rdfa


def pdf_embedded_font() -> bytes:
    """Font-census discriminator recipe: one EMBEDDED Type1 font (its
    FontDescriptor carries a /FontFile stream — fake Type1 program
    bytes, flate-compressed) next to a non-embedded standard-14 fallback,
    plus a Type0 whose EMBEDDING lives on the DESCENDANT CIDFont's
    descriptor (/FontFile2) — the three embedding shapes
    `extract_fonts` discriminates."""
    content = (
        b"BT /F1 12 Tf 10 700 Td (embedded) Tj "
        b"/F2 12 Tf 0 -14 Td (standard) Tj ET"
    )
    prog = zlib.compress(b"%!PS-AdobeFont-1.0: SynthEmbedded fake-program")
    glyf = zlib.compress(b"\x00\x01\x00\x00fake-truetype")
    bodies = {
        1: _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        2: _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        3: _obj(
            3,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R /F2 7 0 R /F3 8 0 R >> >> >>",
        ),
        4: _stream_obj(4, b"", content),
        5: _obj(
            5,
            b"<< /Type /Font /Subtype /Type1 /BaseFont /SynthEmbedded"
            b" /FirstChar 32 /LastChar 126 /FontDescriptor 6 0 R >>",
        ),
        6: _obj(
            6,
            b"<< /Type /FontDescriptor /FontName /SynthEmbedded /Flags 4"
            b" /FontBBox [0 -200 1000 900] /ItalicAngle 0 /Ascent 900"
            b" /Descent -200 /CapHeight 700 /StemV 80 /FontFile 10 0 R >>",
        ),
        7: _obj(
            7, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        ),
        8: _obj(
            8,
            b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthCID-Emb"
            b" /Encoding /Identity-H /DescendantFonts [9 0 R] >>",
        ),
        9: _obj(
            9,
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /SynthCID-Emb"
            b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
            b" /Supplement 0 >> /DW 1000 /FontDescriptor 11 0 R >>",
        ),
        10: _stream_obj(
            10,
            b"/Filter /FlateDecode /Length1 46",
            prog,
        ),
        11: _obj(
            11,
            b"<< /Type /FontDescriptor /FontName /SynthCID-Emb /Flags 4"
            b" /FontBBox [0 -200 1000 900] /ItalicAngle 0 /Ascent 900"
            b" /Descent -200 /CapHeight 700 /StemV 80 /FontFile2 12 0 R >>",
        ),
        12: _stream_obj(12, b"/Filter /FlateDecode /Length1 17", glyf),
    }
    return _assemble(bodies)


PDF_RECIPES["pdf_embedded_font"] = pdf_embedded_font


def pdf_signed() -> bytes:
    """Digital-signature recipe [PDF17 §12.8.1]: AcroForm /SigFlags 3
    with one /FT /Sig field whose /V is a signature dict —
    /Adobe.PPKLite, /adbe.pkcs7.detached, a fixed-width /Contents hex
    placeholder and a fixed-width /ByteRange PATCHED POST-ASSEMBLY to
    the real offsets, so the signature covers [0, contents_start) and
    [contents_end, EOF) exactly: the intact whole-file-coverage shape
    (unsigned_tail = 0)."""
    contents_hex = b"<" + b"deadbeef" * 8 + b">"
    br_ph = b"[0000000000 0000000000 0000000000 0000000000]"
    bodies = _base_objects(b"BT (Signed doc) Tj ET")
    bodies[1] = _obj(
        1,
        b"<< /Type /Catalog /Pages 2 0 R"
        b" /AcroForm << /SigFlags 3 /Fields [5 0 R] >> >>",
    )
    bodies[5] = _obj(5, b"<< /FT /Sig /T (Sig1) /V 6 0 R >>")
    bodies[6] = _obj(
        6,
        b"<< /Type /Sig /Filter /Adobe.PPKLite"
        b" /SubFilter /adbe.pkcs7.detached"
        b" /Contents " + contents_hex
        + b" /ByteRange " + br_ph
        + b" /Reason (caraspark synth) >>",
    )
    raw = bytearray(_assemble(bodies))
    a = raw.find(contents_hex)
    b = a + len(contents_hex)
    patched = b"[%010d %010d %010d %010d]" % (0, a, b, len(raw) - b)
    assert len(patched) == len(br_ph)
    i = raw.find(br_ph)
    raw[i : i + len(br_ph)] = patched
    return bytes(raw)


def pdf_signed_updated() -> bytes:
    """The post-signature modification shape: ``pdf_signed`` plus one
    incremental update replacing the content stream — the ByteRange
    still covers only the SIGNED revision, so every appended byte is
    unsigned_tail (> 0): legitimate for a counter-signature workflow,
    the classic signature-defeating content swap otherwise. Pairs with
    ``extract_revisions``' n_won to show WHAT the update touched."""
    base = pdf_signed()
    prev_xref = base.rfind(b"\nxref\n") + 1
    out = bytearray(base)
    new4 = _stream_obj(4, b"", b"BT (Swapped after signing) Tj ET")
    off4 = len(out)
    out += new4
    xref_off = len(out)
    out += (
        b"xref\n0 1\n0000000000 65535 f \n4 1\n"
        + f"{off4:010d} 00000 n \n".encode()
        + b"trailer\n<< /Size 7 /Root 1 0 R /Prev "
        + str(prev_xref).encode()
        + b" >>\nstartxref\n"
        + str(xref_off).encode()
        + b"\n%%EOF\n"
    )
    return bytes(out)


PDF_RECIPES["pdf_signed"] = pdf_signed
PDF_RECIPES["pdf_signed_updated"] = pdf_signed_updated


def _xmp_packet(title: bytes, creator: bytes, date: bytes) -> bytes:
    return (
        b"<?xpacket begin='' id='W5M0MpCehiHzreSzNTczkc9d'?>"
        b"<x:xmpmeta xmlns:x='adobe:ns:meta/'>"
        b"<rdf:RDF xmlns:rdf='http://www.w3.org/1999/02/22-rdf-syntax-ns#'>"
        b"<rdf:Description rdf:about=''"
        b" xmlns:dc='http://purl.org/dc/elements/1.1/'"
        b" xmlns:xmp='http://ns.adobe.com/xap/1.0/'>"
        b"<dc:title><rdf:Alt><rdf:li xml:lang='x-default'>" + title
        + b"</rdf:li></rdf:Alt></dc:title>"
        b"<dc:creator><rdf:Seq><rdf:li>" + creator
        + b"</rdf:li></rdf:Seq></dc:creator>"
        b"<xmp:CreateDate>" + date + b"</xmp:CreateDate>"
        b"</rdf:Description></rdf:RDF></x:xmpmeta>"
        b"<?xpacket end='w'?>"
    )


def pdf_xmp() -> bytes:
    """XMP recipe [PDF17 §14.3.2 + XMP Part 1]: catalog /Metadata XML
    stream (UNFILTERED, as the spec recommends so non-PDF-aware
    scanners can find the packet) carrying dc:title / dc:creator /
    xmp:CreateDate, plus the classic trailer /Info dictionary with an
    AGREEING /Title — the consistent dual-metadata shape."""
    bodies = _base_objects(b"BT (XMP doc) Tj ET")
    bodies[1] = _obj(
        1, b"<< /Type /Catalog /Pages 2 0 R /Metadata 5 0 R >>"
    )
    bodies[5] = _stream_obj(
        5,
        b"/Type /Metadata /Subtype /XML",
        _xmp_packet(b"Synth XMP Title", b"A. Author",
                    b"2026-01-02T03:04:05Z"),
    )
    bodies[6] = _obj(
        6,
        b"<< /Title (Synth XMP Title) /Author (A. Author)"
        b" /Producer (caraspark-synth) >>",
    )
    return _assemble(bodies, trailer_extra=b" /Info 6 0 R")


def pdf_xmp_mismatch() -> bytes:
    """The tamper/tooling-drift shape: XMP and /Info DISAGREE on the
    title (one editor updated the Info dict, another the packet) — the
    cross-check signal `extract_xmp` surfaces as title_match=false."""
    bodies = _base_objects(b"BT (XMP mismatch) Tj ET")
    bodies[1] = _obj(
        1, b"<< /Type /Catalog /Pages 2 0 R /Metadata 5 0 R >>"
    )
    bodies[5] = _stream_obj(
        5,
        b"/Type /Metadata /Subtype /XML",
        _xmp_packet(b"Edited Title", b"B. Editor",
                    b"2026-02-03T04:05:06Z"),
    )
    bodies[6] = _obj(6, b"<< /Title (Original Title) >>")
    return _assemble(bodies, trailer_extra=b" /Info 6 0 R")


PDF_RECIPES["pdf_xmp"] = pdf_xmp
PDF_RECIPES["pdf_xmp_mismatch"] = pdf_xmp_mismatch
