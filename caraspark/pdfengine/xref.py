"""Header check, startxref locator, xref tables & streams, update-chain walk
(SURVEY.md C2, C3, C10–C12; ISO 32000-1 §7.5).

Capability parity: caradoc ``src/parser/xreflexer.mll``/``xrefparser.mly``
(classic tables), its xref-stream decoding, and the /Prev + /XRefStm chain
walk of ``src/parser/fetchcommon.ml`` [P] — including the visited-set cycle
guard that makes parsing terminate on adversarial files (LangSec16 §III).

Xref-stream rows are decoded with a vectorized NumPy dot against big-endian
byte weights — one pass for the whole table, no per-entry Python.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

from caraspark.pdfengine.filters import decode_stream
from caraspark.pdfengine.lexer import INT, KW, next_token
from caraspark.pdfengine.model import Name, PdfError, Ref, Stream
from caraspark.pdfengine.parser import parse_indirect_object, parse_object

_HEADER_RE = re.compile(rb"%PDF-(\d)\.(\d)")
_XREF_ENTRY_RE = re.compile(rb"(\d{10}) (\d{5}) ([nf])")


@dataclass(slots=True)
class XrefEntry:
    num: int
    gen: int
    kind: str  # 'free' | 'inuse' | 'compressed'
    offset: int = -1  # inuse: byte offset
    objstm: int = -1  # compressed: container object number
    idx: int = -1  # compressed: index within the container
    update_idx: int = 0  # which incremental update introduced this entry


def check_header(data: bytes, errors: list, strict: bool) -> tuple[str | None, int]:
    """C2: `%PDF-x.y` at offset 0; relaxed tolerates leading junk."""
    m = _HEADER_RE.match(data)
    if m:
        return f"{m.group(1).decode()}.{m.group(2).decode()}", 0
    m = _HEADER_RE.search(data, 0, 1024)
    if m:
        errors.append(PdfError("file.junk_before_header", 0, msg=str(m.start())))
        return f"{m.group(1).decode()}.{m.group(2).decode()}", m.start()
    errors.append(PdfError("file.no_header", 0))
    return None, 0


def locate_startxref(data: bytes, errors: list) -> int | None:
    """C3: scan backward from EOF for startxref [PDF17 §7.5.5]."""
    window = data[-2048:] if len(data) > 2048 else data
    base = len(data) - len(window)
    i = window.rfind(b"startxref")
    if i == -1:
        i = data.rfind(b"startxref")  # relaxed: whole-file fallback
        if i == -1:
            errors.append(PdfError("xref.no_startxref", len(data)))
            return None
        base = 0
        window = data
    m = re.match(rb"startxref[\r\n \t]+(\d{1,18})", window[i:])
    if not m:
        errors.append(PdfError("xref.bad_startxref", base + i))
        return None
    off = int(m.group(1))
    if off >= len(data):
        errors.append(PdfError("xref.bad_offset", base + i, msg=f"startxref={off}"))
        return None
    return off


def parse_classic_xref(
    data: bytes, offset: int, errors: list, strict: bool
) -> tuple[list[XrefEntry], dict | None, int]:
    """C10: `xref` + subsections of 20-byte entries, then `trailer` dict."""
    n = len(data)
    kind, v, at, pos = next_token(data, offset, n, strict, errors)
    if kind != KW or v != b"xref":
        errors.append(PdfError("xref.bad_table", offset))
        return [], None, offset
    entries: list[XrefEntry] = []
    while True:
        kind, start, at, pos = next_token(data, pos, n, strict, errors)
        if kind == INT:  # subsection header: start count
            kind2, count, _, pos = next_token(data, pos, n, strict, errors)
            if kind2 != INT:
                errors.append(PdfError("xref.bad_subsection", at))
                return entries, None, at
            # entries are fixed-width; consume them positionally, not via the
            # tokenizer, because `0000000000 65535 f` lexes as three tokens
            # anyway but the 20-byte framing is part of the strict grammar
            p = pos
            while p < n and data[p] in b"\r\n \t":
                p += 1
            for k in range(count):
                m = _XREF_ENTRY_RE.match(data, p)
                if not m:
                    errors.append(PdfError("xref.bad_entry", p, obj=(start + k, 0)))
                    break
                f1, f2, fk = int(m.group(1)), int(m.group(2)), m.group(3)
                if fk == b"n":
                    entries.append(XrefEntry(start + k, f2, "inuse", offset=f1))
                else:
                    entries.append(XrefEntry(start + k, f2, "free"))
                p = m.end()
                eol = data[p : p + 2]
                if eol in (b"\r\n", b" \r", b" \n"):
                    p += 2
                elif eol[:1] in (b"\r", b"\n"):
                    p += 1
                    if strict:
                        errors.append(PdfError("xref.entry_eol", p))
            pos = p
        elif kind == KW and start == b"trailer":
            # the section ends where the trailer's parse ends
            trailer, end = parse_object(data, pos, errors, strict=strict)
            if not isinstance(trailer, dict):
                errors.append(PdfError("xref.bad_trailer", at))
                trailer = None
            return entries, trailer, end
        else:
            errors.append(PdfError("xref.missing_trailer", at))
            return entries, None, at


def parse_xref_stream(
    data: bytes, offset: int, errors: list, strict: bool
) -> tuple[list[XrefEntry], dict | None, Stream | None]:
    """C11: /Type /XRef stream → vectorized row decode [PDF17 §7.5.8]."""
    res = parse_indirect_object(data, offset, errors, strict=strict)
    if res is None:
        return [], None, None
    num, gen, obj, _ = res
    if not isinstance(obj, Stream):
        errors.append(PdfError("xref.not_a_stream", offset, obj=(num, gen)))
        return [], None, None
    d = obj.d
    if d.get("Type") != Name("XRef") and strict:
        errors.append(PdfError("xref.stream_bad_type", offset, obj=(num, gen)))
    payload = decode_stream(obj.raw, d, errors, objkey=(num, gen))
    if payload is None:
        return [], d, obj
    obj.decoded = payload

    w = d.get("W")
    size = d.get("Size")
    if (
        not isinstance(w, list)
        or len(w) != 3
        or not all(isinstance(x, int) and 0 <= x <= 8 for x in w)
        or not isinstance(size, int)
    ):
        errors.append(PdfError("xref.stream_bad_w", offset, obj=(num, gen)))
        return [], d, obj
    a, b, c = w
    index = d.get("Index", [0, size])
    if not (
        isinstance(index, list)
        and len(index) % 2 == 0
        and all(isinstance(x, int) and x >= 0 for x in index)
    ):
        errors.append(PdfError("xref.stream_bad_index", offset, obj=(num, gen)))
        index = [0, size]

    rowlen = a + b + c
    total = sum(index[i + 1] for i in range(0, len(index), 2))
    if rowlen == 0 or len(payload) < total * rowlen:
        errors.append(PdfError("xref.stream_short", offset, obj=(num, gen)))
        total = len(payload) // rowlen if rowlen else 0
    buf = np.frombuffer(payload[: total * rowlen], dtype=np.uint8).reshape(
        total, rowlen
    )

    def field(lo: int, width: int, default: int) -> np.ndarray:
        if width == 0:
            return np.full(total, default, dtype=np.int64)
        weights = (256 ** np.arange(width - 1, -1, -1)).astype(np.int64)
        return buf[:, lo : lo + width].astype(np.int64) @ weights

    types = field(0, a, 1)  # W[0]=0 ⇒ type defaults to 1
    f2 = field(a, b, 0)
    f3 = field(a + b, c, 0)

    entries: list[XrefEntry] = []
    row = 0
    for i in range(0, len(index), 2):
        start, count = index[i], index[i + 1]
        for k in range(count):
            if row >= total:
                break
            t, x, y = int(types[row]), int(f2[row]), int(f3[row])
            if t == 0:
                entries.append(XrefEntry(start + k, y, "free"))
            elif t == 1:
                entries.append(XrefEntry(start + k, y, "inuse", offset=x))
            elif t == 2:
                entries.append(
                    XrefEntry(start + k, 0, "compressed", objstm=x, idx=y)
                )
            else:
                # spec: unknown types are ignored (treated as null refs)
                errors.append(
                    PdfError("xref.stream_bad_type_field", obj=(start + k, 0))
                )
            row += 1
    return entries, d, obj


_TAIL_RE = re.compile(rb"(?:[\r\n \t]*startxref[\r\n \t]+\d+)?(?:[\r\n \t]*%%EOF)?[\r\n \t]*")


def _extend_tail(data: bytes, end: int) -> int:
    """Extend an xref-section interval over its startxref/%%EOF tail so the
    hole map (C19) only reports genuinely unclaimed bytes."""
    m = _TAIL_RE.match(data, end)
    return m.end() if m else end


def walk_xref_chain(
    data: bytes,
    start: int,
    errors: list,
    strict: bool,
    intervals: list | None = None,
) -> tuple[dict[int, XrefEntry], list[dict], bool]:
    """C12: follow /Prev (+ /XRefStm for hybrids) across incremental
    updates. Later updates win; visited-offset set guarantees termination
    (→ xref.prev_cycle). Returns (num → entry, trailers newest-first, hybrid).
    """
    table: dict[int, XrefEntry] = {}
    trailers: list[dict] = []
    visited: set[int] = set()
    hybrid = False
    offset: int | None = start
    update_idx = 0

    def absorb(entries: list[XrefEntry], upd: int, upgrade_free: bool = False) -> None:
        for e in entries:
            cur = table.get(e.num)
            if cur is None:  # newest-first: first writer wins
                e.update_idx = upd
                table[e.num] = e
            elif (
                upgrade_free
                and cur.kind == "free"
                and cur.update_idx == upd
                and e.kind != "free"
            ):
                # hybrid files: objects hidden from classic-only readers are
                # marked free in the table but live in /XRefStm [PDF17 §F.3]
                e.update_idx = upd
                table[e.num] = e

    while offset is not None:
        if offset in visited:
            errors.append(PdfError("xref.prev_cycle", offset))
            break
        if offset >= len(data) or offset < 0:
            errors.append(PdfError("xref.bad_offset", pos=offset))
            break
        visited.add(offset)

        probe = data[offset : offset + 8].lstrip(b"\r\n \t")
        if probe.startswith(b"xref"):
            entries, trailer, end = parse_classic_xref(data, offset, errors, strict)
            if intervals is not None:
                intervals.append((offset, _extend_tail(data, end), "xref"))
            absorb(entries, update_idx)
            if trailer is None:
                break
            trailers.append(trailer)
            xrefstm = trailer.get("XRefStm")
            if isinstance(xrefstm, int) and 0 <= xrefstm < len(data):
                hybrid = True
                s_entries, _, _ = parse_xref_stream(data, xrefstm, errors, strict)
                absorb(s_entries, update_idx, upgrade_free=True)
            prev = trailer.get("Prev")
        else:
            entries, trailer, _ = parse_xref_stream(data, offset, errors, strict)
            # the xref-stream object's own bytes are claimed when it is
            # fetched as an in-use object; claim only the trailing
            # startxref/%%EOF that follows the enclosing section
            if intervals is not None:
                idx = data.find(b"startxref", offset)
                if idx != -1:
                    intervals.append((idx, _extend_tail(data, idx), "eof"))
            absorb(entries, update_idx)
            if trailer is None:
                break
            trailers.append(trailer)
            prev = trailer.get("Prev")

        if prev is None:
            break
        if not isinstance(prev, int):
            errors.append(PdfError("xref.bad_prev", pos=offset))
            break
        offset = prev
        update_idx += 1

    return table, trailers, hybrid
