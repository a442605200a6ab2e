"""ToUnicode CMap parsing (SURVEY.md C26 tier-2; PDF17 §9.10.3).

Caradoc does not map glyph codes to Unicode (its `extract` stops at stream
bytes); this is part of OUR extraction spec extension. Only the CMap
constructs that matter for ToUnicode are implemented:

  begincodespacerange … endcodespacerange   → code byte-widths
  beginbfchar … endbfchar                   → single code → UTF-16BE string
  beginbfrange … endbfrange                 → code range → consecutive
                                              destinations, or explicit
                                              destination array

SPEC (mirrored byte-for-byte by ``oracle/text_oracle.py``):
  * a show-string is split into codes by matching codespace ranges at the
    current offset, narrowest range width first; if none matches, one byte
    is consumed;
  * a mapped code contributes its UTF-16BE-decoded destination; an
    unmapped code contributes U+FFFD;
  * with no codespace ranges at all, codes are single bytes.
"""

from __future__ import annotations

from caraspark.pdfengine.lexer import ARRAY_CLOSE, ARRAY_OPEN, HEX, KW, STR, tokens

_STRINGS = (STR, HEX)


class ToUnicodeCMap:
    __slots__ = ("ranges", "mapping")

    def __init__(self) -> None:
        self.ranges: list[tuple[bytes, bytes]] = []  # (lo, hi), len(lo)==len(hi)
        self.mapping: dict[bytes, str] = {}

    def decode(self, s: bytes) -> str:
        out: list[str] = []
        i, n = 0, len(s)
        widths = sorted({len(lo) for lo, _ in self.ranges})
        while i < n:
            code = None
            for w in widths:
                cand = s[i : i + w]
                if len(cand) < w:
                    continue
                if any(
                    len(lo) == w and lo <= cand <= hi for lo, hi in self.ranges
                ):
                    code = cand
                    break
            if code is None:
                code = s[i : i + 1]
            i += len(code)
            out.append(self.mapping.get(code, "�"))
        return "".join(out)


def _utf16(b: bytes) -> str:
    try:
        return b.decode("utf-16-be")
    except UnicodeDecodeError:
        return b.decode("utf-16-be", "replace")


def _incremented(dst: bytes, delta: int) -> str:
    # consecutive bfrange destinations increment the LAST code unit
    # (16-bit for even-length UTF-16BE destinations, else the last byte)
    if not dst:
        return "�"
    if len(dst) >= 2 and len(dst) % 2 == 0:
        base = int.from_bytes(dst[-2:], "big") + delta
        if base > 0xFFFF:
            return "�"
        return _utf16(dst[:-2] + base.to_bytes(2, "big"))
    base = dst[-1] + delta
    if base > 0xFF:
        return "�"
    return _utf16(dst[:-1] + bytes([base]))


MAX_RANGE_SPAN = 65536  # hard budget: a bfrange can't claim more codes


def parse_tounicode(data: bytes) -> ToUnicodeCMap:
    """Parse a decoded ToUnicode CMap stream. Total: never raises on
    malformed input — unparseable sections are skipped (the show-string
    then falls back to U+FFFD per unmapped code)."""
    cm = ToUnicodeCMap()
    toks = [(kind, v) for kind, v, _, _ in tokens(data)]
    i, n = 0, len(toks)

    def hexval(t):
        return t[1] if t[0] in _STRINGS else None

    while i < n:
        kind, v = toks[i]
        if kind != KW:
            i += 1
            continue
        if v == b"begincodespacerange":
            i += 1
            while i + 1 < n and toks[i][0] in _STRINGS:
                lo, hi = hexval(toks[i]), hexval(toks[i + 1])
                i += 2
                if lo is not None and hi is not None and len(lo) == len(hi):
                    cm.ranges.append((lo, hi))
        elif v == b"beginbfchar":
            i += 1
            while i + 1 < n and toks[i][0] in _STRINGS:
                src, dst = hexval(toks[i]), hexval(toks[i + 1])
                i += 2
                if src is not None and dst is not None:
                    cm.mapping[src] = _utf16(dst)
        elif v == b"beginbfrange":
            i += 1
            while i + 1 < n and toks[i][0] in _STRINGS:
                lo, hi = hexval(toks[i]), hexval(toks[i + 1])
                i += 2
                if i >= n or lo is None or hi is None or len(lo) != len(hi):
                    break
                lo_i, hi_i = int.from_bytes(lo, "big"), int.from_bytes(hi, "big")
                span = hi_i - lo_i
                if span < 0 or span >= MAX_RANGE_SPAN:
                    i += 1
                    continue
                w = len(lo)
                if toks[i][0] in _STRINGS:
                    dst = hexval(toks[i])
                    i += 1
                    for d in range(span + 1):
                        cm.mapping[(lo_i + d).to_bytes(w, "big")] = _incremented(
                            dst, d
                        )
                elif toks[i][0] == ARRAY_OPEN:
                    i += 1
                    d = 0
                    while i < n and toks[i][0] != ARRAY_CLOSE:
                        if toks[i][0] in _STRINGS and d <= span:
                            cm.mapping[(lo_i + d).to_bytes(w, "big")] = _utf16(
                                toks[i][1]
                            )
                            d += 1
                        i += 1
                    i += 1  # consume ']'
                else:
                    i += 1
        else:
            i += 1
    return cm
