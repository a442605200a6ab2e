"""Oracle text extraction — see oracle/__init__.py. FROZEN."""

from __future__ import annotations

import base64
import binascii
import re
import zlib
from html.parser import HTMLParser

# ---------------------------------------------------------------------------
# minimal COS reading, xref-free: scan for `N G obj` frames
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(?<![0-9])(\d{1,9})\s+(\d{1,5})\s+obj\b")
_TOK_RE = re.compile(
    rb"""
      (?P<ws>[\x00\t\n\x0c\r\ ]+)
    | (?P<comment>%[^\r\n]*)
    | (?P<dopen><<)
    | (?P<dclose>>>)
    | (?P<aopen>\[) | (?P<aclose>\])
    | (?P<name>/[^\x00\t\n\x0c\r\ ()<>\[\]{}/%]*)
    | (?P<num>[+-]?(?:\d+\.\d*|\.\d+|\d+))
    | (?P<hex><[0-9A-Fa-f\x00\t\n\x0c\r\ ]*>)
    | (?P<kw>[^\x00\t\n\x0c\r\ ()<>\[\]{}/%]+)
    | (?P<lparen>\()
    | (?P<other>.)
    """,
    re.VERBOSE | re.DOTALL,
)


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num):
        self.num = num


class _NameTok(str):
    pass


def _read_string(data: bytes, start: int) -> tuple[bytes, int]:
    """Literal string starting at '(' — escapes + nesting per ISO 32000-1."""
    out = bytearray()
    depth = 1
    i = start + 1
    n = len(data)
    esc = {107: None}
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            simple = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08, 0x66: 0x0C}
            if e in simple:
                out.append(simple[e])
                i += 1
            elif e in (0x28, 0x29, 0x5C):
                out.append(e)
                i += 1
            elif 0x30 <= e <= 0x37:
                j = i
                while j < min(i + 3, n) and 0x30 <= data[j] <= 0x37:
                    j += 1
                out.append(int(data[i:j], 8) & 0xFF)
                i = j
            elif e in (0x0D, 0x0A):
                i += 2 if data[i : i + 2] == b"\r\n" else 1
            else:
                out.append(e)
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out.append(c)
            i += 1
        elif c in (0x0D, 0x0A):
            out.append(0x0A)
            i += 2 if data[i : i + 2] == b"\r\n" else 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


def _tokens(data: bytes, pos: int, end: int):
    """Yield (kind, value, newpos); caller controls recursion."""
    while pos < end:
        m = _TOK_RE.match(data, pos, end)
        if not m:
            return
        kind = m.lastgroup
        pos = m.end()
        if kind in ("ws", "comment"):
            continue
        if kind == "lparen":
            s, pos = _read_string(data, m.start())
            yield ("str", s, pos)
            continue
        if kind == "hex":
            h = bytes(
                c for c in m.group()[1:-1] if c in b"0123456789abcdefABCDEF"
            )
            if len(h) % 2:
                h += b"0"
            yield ("str", binascii.unhexlify(h), pos)
            continue
        if kind == "name":
            raw = m.group()[1:]
            if b"#" in raw:
                raw = re.sub(
                    rb"#([0-9A-Fa-f]{2})",
                    lambda mm: bytes([int(mm.group(1), 16)]),
                    raw,
                )
            yield ("name", raw.decode("latin-1"), pos)
            continue
        if kind == "num":
            t = m.group()
            yield (("real", float(t), pos) if b"." in t else ("int", int(t), pos))
            continue
        if kind == "dopen":
            yield ("<<", None, pos)
        elif kind == "dclose":
            yield (">>", None, pos)
        elif kind == "aopen":
            yield ("[", None, pos)
        elif kind == "aclose":
            yield ("]", None, pos)
        elif kind == "kw":
            yield ("kw", m.group().decode("latin-1"), pos)
        else:
            yield ("kw", m.group().decode("latin-1"), pos)






def _fold(toks):
    """Fold a flat token list into values with `int int R` collapsing."""
    out = []
    i = 0
    n = len(toks)
    while i < n:
        kind, v, pos = toks[i]
        if kind == "int" and i + 2 < n and toks[i + 1][0] == "int" and toks[i + 2][:2] == ("kw", "R"):
            out.append(_Ref(v))
            i += 3
            continue
        if kind == "[":
            sub, j = _fold_until(toks, i + 1, "]")
            out.append(sub)
            i = j
            continue
        if kind == "<<":
            sub, j = _fold_until(toks, i + 1, ">>")
            d = {}
            k = None
            for x in sub:
                if k is None:
                    k = x if isinstance(x, _NameTok) else None
                    if k is None:
                        k = "?"
                else:
                    d[str(k)] = x
                    k = None
            out.append(d)
            i = j
            continue
        if kind == "name":
            out.append(_NameTok(v))
        elif kind == "kw":
            if v == "true":
                out.append(True)
            elif v == "false":
                out.append(False)
            elif v == "null":
                out.append(None)
            else:
                out.append(("KW", v))
        else:
            out.append(v)
        i += 1
    return out, n


_MAX_FOLD_DEPTH = 256


def _fold_until(toks, i, closer, depth=0):
    if depth > _MAX_FOLD_DEPTH:
        # adversarial nesting: skip to the matching closer, return empty
        opener = "[" if closer == "]" else "<<"
        lvl = 1
        n = len(toks)
        while i < n and lvl:
            if toks[i][0] == opener:
                lvl += 1
            elif toks[i][0] == closer:
                lvl -= 1
            i += 1
        return [], i
    out = []
    n = len(toks)
    while i < n:
        kind, v, pos = toks[i]
        if kind == closer:
            return (out, i + 1) if closer == "]" else (out, i + 1)
        if kind == "int" and i + 2 < n and toks[i + 1][0] == "int" and toks[i + 2][:2] == ("kw", "R"):
            out.append(_Ref(v))
            i += 3
            continue
        if kind == "[":
            sub, i = _fold_until(toks, i + 1, "]", depth + 1)
            out.append(sub)
            continue
        if kind == "<<":
            sub, i = _fold_until(toks, i + 1, ">>", depth + 1)
            d = {}
            k = None
            for x in sub:
                if k is None:
                    k = str(x) if isinstance(x, _NameTok) else "?"
                else:
                    d[k] = x
                    k = None
            out.append(d)
            continue
        if kind == "name":
            out.append(_NameTok(v))
        elif kind == "kw":
            out.append(
                True if v == "true" else False if v == "false" else None
                if v == "null" else ("KW", v)
            )
        else:
            out.append(v)
        i += 1
    return out, i


# ---------------------------------------------------------------------------
# document scan
# ---------------------------------------------------------------------------


def _scan_objects(data: bytes) -> dict[int, tuple[dict | object, bytes | None]]:
    """num → (value, raw_stream) by raw frame scan; later frames win."""
    objs: dict[int, tuple] = {}
    for m in _OBJ_RE.finditer(data):
        num = int(m.group(1))
        body_at = m.end()
        endobj = data.find(b"endobj", body_at)
        stream_kw = data.find(b"stream", body_at)
        raw = None
        if stream_kw != -1 and (endobj == -1 or stream_kw < endobj):
            head = data[body_at:stream_kw]
            toks = list(_tokens(head, 0, len(head)))
            vals, _ = _fold(toks)
            val = vals[0] if vals else None
            p = stream_kw + 6
            if data[p : p + 2] == b"\r\n":
                p += 2
            elif data[p : p + 1] in (b"\n", b"\r"):
                p += 1
            es = data.find(b"endstream", p)
            if es == -1:
                es = len(data)
            e = es
            if data[e - 2 : e] == b"\r\n":
                e -= 2
            elif data[e - 1 : e] in (b"\n", b"\r"):
                e -= 1
            length = val.get("Length") if isinstance(val, dict) else None
            if isinstance(length, int) and p + length <= e:
                raw = data[p : p + length]
            else:
                raw = data[p:e]
        else:
            seg = data[body_at : endobj if endobj != -1 else len(data)]
            # skip frames that are actually inside a string/stream: heuristic
            # — a real frame's body parses to exactly one value
            toks = list(_tokens(seg, 0, len(seg)))
            vals, _ = _fold(toks)
            val = vals[0] if vals else None
        objs[num] = (val, raw)
    return objs


_PRED_NONE = 0


def _undo_png_predictor(data: bytes, columns: int, bpp: int) -> bytes:
    stride = columns + 1
    out = bytearray()
    prev = bytearray(columns)
    for r in range(len(data) // stride):
        row = bytearray(data[r * stride + 1 : (r + 1) * stride])
        tag = data[r * stride]
        if tag == 1:
            for i in range(bpp, columns):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif tag == 2:
            for i in range(columns):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif tag == 3:
            for i in range(columns):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif tag == 4:
            for i in range(columns):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        out += row
        prev = row
    return bytes(out)


def _decode(raw: bytes, d: dict, objs) -> bytes | None:
    f = d.get("Filter")
    if f is None:
        return raw
    fl = f if isinstance(f, list) else [f]
    parms = d.get("DecodeParms", d.get("DP"))
    pl = parms if isinstance(parms, list) else [parms] * len(fl)
    data = raw
    for i, name in enumerate(fl):
        name = str(name)
        p = pl[i] if i < len(pl) else None
        try:
            if name in ("FlateDecode", "Fl"):
                data = zlib.decompress(data)
                if isinstance(p, dict):
                    pred = p.get("Predictor", 1)
                    if isinstance(pred, int) and pred >= 10:
                        cols = p.get("Columns", 1)
                        colors = p.get("Colors", 1)
                        bpc = p.get("BitsPerComponent", 8)
                        bpp = max(1, (colors * bpc + 7) // 8)
                        rowlen = (cols * colors * bpc + 7) // 8
                        data = _undo_png_predictor(data, rowlen, bpp)
                    elif pred == 2:
                        cols = p.get("Columns", 1)
                        row = bytearray(data)
                        for r in range(len(row) // cols):
                            for i2 in range(1, cols):
                                row[r * cols + i2] = (
                                    row[r * cols + i2] + row[r * cols + i2 - 1]
                                ) & 0xFF
                        data = bytes(row)
            elif name in ("ASCIIHexDecode", "AHx"):
                body = data.split(b">")[0]
                h = bytes(c for c in body if c not in b"\x00\t\n\x0c\r ")
                if len(h) % 2:
                    h += b"0"
                data = binascii.unhexlify(h)
            elif name in ("ASCII85Decode", "A85"):
                body = data.split(b"~>")[0]
                body = bytes(c for c in body if c not in b"\x00\t\n\x0c\r ")
                data = base64.a85decode(body)
            elif name in ("LZWDecode", "LZW"):
                early = 1
                if isinstance(p, dict) and p.get("EarlyChange") == 0:
                    early = 0
                # independent impl: one bit at a time, dict-of-ints table
                # (vs the engine's 3-byte window per code + list table)
                bits = len(data) * 8
                pos = 0
                tbl: dict[int, bytes] = {}
                nxt, w = 258, 9
                res = bytearray()
                last: bytes | None = None
                while pos + w <= bits:
                    code = 0
                    for k in range(w):
                        b_idx, b_off = divmod(pos + k, 8)
                        code = (code << 1) | ((data[b_idx] >> (7 - b_off)) & 1)
                    pos += w
                    if code == 256:
                        tbl.clear()
                        nxt, w = 258, 9
                        last = None
                        continue
                    if code == 257:
                        break
                    if code < 256:
                        seq = bytes([code])
                    elif code in tbl:
                        seq = tbl[code]
                    elif code == nxt and last is not None:
                        seq = last + last[:1]
                    else:
                        return None
                    if last is not None:
                        tbl[nxt] = last + seq[:1]
                        nxt += 1
                    res += seq
                    last = seq
                    if nxt + early >= (1 << w) and w < 12:
                        w += 1
                data = bytes(res)
                if isinstance(p, dict):
                    pred = p.get("Predictor", 1)
                    if isinstance(pred, int) and pred >= 10:
                        cols = p.get("Columns", 1)
                        colors = p.get("Colors", 1)
                        bpc = p.get("BitsPerComponent", 8)
                        bpp = max(1, (colors * bpc + 7) // 8)
                        rowlen = (cols * colors * bpc + 7) // 8
                        data = _undo_png_predictor(data, rowlen, bpp)
            elif name in ("RunLengthDecode", "RL"):
                out = bytearray()
                i2 = 0
                while i2 < len(data):
                    l = data[i2]
                    if l == 128:
                        break
                    if l < 128:
                        out += data[i2 + 1 : i2 + 2 + l]
                        i2 += 2 + l
                    else:
                        out += data[i2 + 1 : i2 + 2] * (257 - l)
                        i2 += 2
                data = bytes(out)
            else:
                return None
        except Exception:  # noqa: BLE001
            return None
    return data


# ---------------------------------------------------------------------------
# text assembly (same SPEC, second witness)
# ---------------------------------------------------------------------------

_DOCENC = {
    0x18: 0x02D8, 0x19: 0x02C7, 0x1A: 0x02C6, 0x1B: 0x02D9,
    0x1C: 0x02DD, 0x1D: 0x02DB, 0x1E: 0x02DA, 0x1F: 0x02DC,
    0x80: 0x2022, 0x81: 0x2020, 0x82: 0x2021, 0x83: 0x2026,
    0x84: 0x2014, 0x85: 0x2013, 0x86: 0x0192, 0x87: 0x2044,
    0x88: 0x2039, 0x89: 0x203A, 0x8A: 0x2212, 0x8B: 0x2030,
    0x8C: 0x201E, 0x8D: 0x201C, 0x8E: 0x201D, 0x8F: 0x2018,
    0x90: 0x2019, 0x91: 0x201A, 0x92: 0x2122, 0x93: 0xFB01,
    0x94: 0xFB02, 0x95: 0x0141, 0x96: 0x0152, 0x97: 0x0160,
    0x98: 0x0178, 0x99: 0x017D, 0x9A: 0x0131, 0x9B: 0x0142,
    0x9C: 0x0153, 0x9D: 0x0161, 0x9E: 0x017E, 0xA0: 0x20AC,
}


def _decode_str(b: bytes) -> str:
    if b[:2] == b"\xfe\xff":
        return b[2:].decode("utf-16-be", "replace")
    return "".join(chr(_DOCENC.get(c, c)) for c in b)


def _page_keys(objs) -> list[int]:
    cat = None
    for num in sorted(objs):
        v = objs[num][0]
        if isinstance(v, dict) and str(v.get("Type")) == "Catalog":
            cat = v
    if cat is None:
        return []
    pages = cat.get("Pages")
    if not isinstance(pages, _Ref):
        return []
    order: list[int] = []
    seen = set()
    stack = [pages.num]
    while stack:
        num = stack.pop()
        if num in seen:
            continue
        seen.add(num)
        v = objs.get(num, (None, None))[0]
        if not isinstance(v, dict):
            continue
        if str(v.get("Type")) == "Page":
            order.append(num)
            continue
        kids = v.get("Kids")
        if isinstance(kids, list):
            for k in reversed(kids):
                if isinstance(k, _Ref):
                    stack.append(k.num)
    return order


def _parse_cmap(data: bytes):
    """ToUnicode CMap → (codespace ranges, code→str map). Independent
    twin of caraspark.pdfengine.cmap (same SPEC, separate code)."""
    toks = list(_tokens(data, 0, len(data)))
    ranges: list[tuple[bytes, bytes]] = []
    mapping: dict[bytes, str] = {}

    def u16(b: bytes) -> str:
        return b.decode("utf-16-be", "replace")

    def bump(dst: bytes, d: int) -> str:
        if not dst:
            return "�"
        if len(dst) >= 2 and len(dst) % 2 == 0:
            v = int.from_bytes(dst[-2:], "big") + d
            return "�" if v > 0xFFFF else u16(dst[:-2] + v.to_bytes(2, "big"))
        v = dst[-1] + d
        return "�" if v > 0xFF else u16(dst[:-1] + bytes([v]))

    i, n = 0, len(toks)
    while i < n:
        kind, v, _p = toks[i]
        if kind != "kw":
            i += 1
            continue
        if v == "begincodespacerange":
            i += 1
            while i + 1 < n and toks[i][0] == "str":
                lo, hi = toks[i][1], toks[i + 1][1]
                i += 2
                if len(lo) == len(hi):
                    ranges.append((lo, hi))
        elif v == "beginbfchar":
            i += 1
            while i + 1 < n and toks[i][0] == "str":
                mapping[toks[i][1]] = u16(toks[i + 1][1])
                i += 2
        elif v == "beginbfrange":
            i += 1
            while i + 1 < n and toks[i][0] == "str":
                lo, hi = toks[i][1], toks[i + 1][1]
                i += 2
                if i >= n or len(lo) != len(hi):
                    break
                lo_i, hi_i = int.from_bytes(lo, "big"), int.from_bytes(hi, "big")
                if not (0 <= hi_i - lo_i < 65536):
                    i += 1
                    continue
                w = len(lo)
                if toks[i][0] == "str":
                    dst = toks[i][1]
                    i += 1
                    for d in range(hi_i - lo_i + 1):
                        mapping[(lo_i + d).to_bytes(w, "big")] = bump(dst, d)
                elif toks[i][0] == "[":
                    i += 1
                    d = 0
                    while i < n and toks[i][0] != "]":
                        if toks[i][0] == "str" and d <= hi_i - lo_i:
                            mapping[(lo_i + d).to_bytes(w, "big")] = u16(
                                toks[i][1]
                            )
                            d += 1
                        i += 1
                    i += 1
                else:
                    i += 1
        else:
            i += 1
    return ranges, mapping


def _cmap_decode(s: bytes, cm) -> str:
    ranges, mapping = cm
    widths = sorted({len(lo) for lo, _ in ranges})
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        code = None
        for w in widths:
            cand = s[i : i + w]
            if len(cand) == w and any(
                len(lo) == w and lo <= cand <= hi for lo, hi in ranges
            ):
                code = cand
                break
        if code is None:
            code = s[i : i + 1]
        i += len(code)
        out.append(mapping.get(code, "�"))
    return "".join(out)


def _page_text(
    content: bytes,
    fonts: dict | None = None,
    xobjects: dict | None = None,
    objs=None,
    depth: int = 0,
    active: frozenset = frozenset(),
) -> str:
    toks = list(_tokens(content, 0, len(content)))
    vals, _ = [], None
    lines: list[str] = []
    cur: list[str] = []
    stackvals: list = []
    cmap = None  # ToUnicode of the current font, set by Tf
    kthr = -180.0  # kern-space threshold, scaled per font (Tf)

    def nl():
        if cur:
            lines.append("".join(cur))
            cur.clear()

    def dec(b: bytes) -> str:
        return _cmap_decode(b, cmap) if cmap is not None else _decode_str(b)

    def do_form(name: str):
        ent = (xobjects or {}).get(name)
        if ent is None or depth >= 8:
            return
        xnum, xv, xraw = ent
        if xnum in active or xraw is None or not isinstance(xv, dict):
            return
        if str(xv.get("Subtype")) != "Form":
            return
        decd = _decode(xraw, xv, objs)
        if decd is None:
            return
        f2, x2 = fonts, xobjects
        res = xv.get("Resources")
        if isinstance(res, _Ref):
            res = objs.get(res.num, (None, None))[0] if objs else None
        if isinstance(res, dict):
            f2, x2 = _res_ctx(objs, res)
        nl()
        sub = _page_text(decd, f2, x2, objs, depth + 1, active | {xnum})
        if sub:
            lines.extend(sub.split("\n"))

    i = 0
    n = len(toks)
    while i < n:
        kind, v, pos = toks[i]
        if kind == "[":
            sub, i = _fold_until(toks, i + 1, "]")
            stackvals.append(sub)
            continue
        if kind == "<<":
            sub, i = _fold_until(toks, i + 1, ">>")
            stackvals.append(dict())
            continue
        if kind in ("int", "real", "str", "name"):
            stackvals.append(v if kind != "name" else _NameTok(v))
            i += 1
            continue
        if kind == "kw":
            op = v
            if op == "Tj" and stackvals and isinstance(stackvals[-1], bytes):
                cur.append(dec(stackvals[-1]))
            elif op == "'" and stackvals and isinstance(stackvals[-1], bytes):
                nl()
                cur.append(dec(stackvals[-1]))
            elif op == '"' and stackvals and isinstance(stackvals[-1], bytes):
                nl()
                cur.append(dec(stackvals[-1]))
            elif op == "TJ" and stackvals and isinstance(stackvals[-1], list):
                for el in stackvals[-1]:
                    if isinstance(el, bytes):
                        cur.append(dec(el))
                    elif isinstance(el, (int, float)) and el <= kthr:
                        cur.append(" ")
            elif op == "Tf" and stackvals and isinstance(stackvals[0], _NameTok):
                cmap, kthr = (fonts or {}).get(
                    str(stackvals[0]), (None, -180.0)
                )
            elif op == "Do" and stackvals and isinstance(stackvals[0], _NameTok):
                do_form(str(stackvals[0]))
            elif op == "BI":
                # inline image: skip tokens through ID, then raw bytes to
                # a whitespace-delimited EI (independent twin of the
                # engine's SPEC rule)
                while i < n and not (toks[i][0] == "kw" and toks[i][1] == "ID"):
                    i += 1
                raw_at = toks[i][2] if i < n else len(content)
                i += 1
                ws = b"\x00\t\n\x0c\r "
                wsdelim = b"\x00\t\n\x0c\r ()<>[]{}/%"
                j = raw_at
                endpos = len(content)
                while True:
                    m = content.find(b"EI", j, endpos)
                    if m < 0:
                        endpos = None
                        break
                    if (m == 0 or content[m - 1] in ws) and (
                        m + 2 >= endpos or content[m + 2] in wsdelim
                    ):
                        endpos = m + 2
                        break
                    j = m + 1
                if endpos is None:
                    i = n
                else:
                    # re-tokenize after EI: raw image bytes may have
                    # derailed the upfront tokenization (e.g. a lone '(')
                    toks = list(_tokens(content, endpos, len(content)))
                    n = len(toks)
                    i = 0
                stackvals.clear()
                continue
            elif op in ("Td", "TD"):
                tx = stackvals[0] if len(stackvals) > 0 else 0
                ty = stackvals[1] if len(stackvals) > 1 else 0
                if not isinstance(tx, (int, float)):
                    tx = 0
                if not isinstance(ty, (int, float)):
                    ty = 0
                if ty != 0:
                    nl()
                elif tx != 0 and cur and not cur[-1].endswith(" "):
                    cur.append(" ")
            elif op in ("T*", "Tm", "BT", "ET"):
                nl()
            stackvals.clear()
        i += 1
    nl()
    return "\n".join(lines)


def _rep_w(objs, font: dict) -> float:
    """Representative glyph width — independent twin of the engine's SPEC
    "font metrics" rule (Type0: fold /W, else /DW; simple: mean /Widths;
    fallback 1000)."""

    def deref(v):
        return objs.get(v.num, (None, None))[0] if isinstance(v, _Ref) else v

    def is_num(x):
        return isinstance(x, (int, float)) and not isinstance(x, bool)

    if str(font.get("Subtype")) == "Type0":
        dfs = deref(font.get("DescendantFonts"))
        cid = deref(dfs[0]) if isinstance(dfs, list) and dfs else None
        if isinstance(cid, dict):
            warr = deref(cid.get("W"))
            total = 0.0
            cnt = 0
            if isinstance(warr, list):
                i, m = 0, len(warr)
                while i < m:
                    a = warr[i]
                    b = warr[i + 1] if i + 1 < m else None
                    c = warr[i + 2] if i + 2 < m else None
                    if is_num(a) and isinstance(b, list):
                        for wi in b:
                            if is_num(wi):
                                total += wi
                                cnt += 1
                        i += 2
                    elif is_num(a) and is_num(b) and is_num(c):
                        span = int(b) - int(a) + 1
                        if span > 0:
                            total += span * c
                            cnt += span
                        i += 3
                    else:
                        i += 1
            if cnt:
                return total / cnt
            if is_num(cid.get("DW")):
                return float(cid["DW"])
        return 1000.0
    ws = deref(font.get("Widths"))
    if isinstance(ws, list):
        nums = [w for w in ws if is_num(w)]
        if nums:
            total = 0.0
            for w in nums:
                total += w
            return total / len(nums)
    return 1000.0


def _res_ctx(objs, res: dict):
    """Resolved /Resources dict → (fonts: name→(cmap|None, kern thr),
    xobjects: name→(num, dict, raw))."""

    def deref(v):
        return objs.get(v.num, (None, None))[0] if isinstance(v, _Ref) else v

    fonts: dict = {}
    xobjects: dict = {}
    if not isinstance(res, dict):
        return fonts, xobjects
    fdict = deref(res.get("Font"))
    if isinstance(fdict, dict):
        for fname, fval in fdict.items():
            font = deref(fval)
            cm = None
            thr = -180.0
            if isinstance(font, dict):
                tu = font.get("ToUnicode")
                if isinstance(tu, _Ref):
                    tv, traw = objs.get(tu.num, (None, None))
                    if traw is not None and isinstance(tv, dict):
                        decd = _decode(traw, tv, objs)
                        if decd is not None:
                            cm = _parse_cmap(decd)
                thr = -0.18 * _rep_w(objs, font)
            fonts[str(fname)] = (cm, thr)
    xdict = deref(res.get("XObject"))
    if isinstance(xdict, dict):
        for xname, xval in xdict.items():
            if isinstance(xval, _Ref):
                xv, xraw = objs.get(xval.num, (None, None))
                if isinstance(xv, dict):
                    xobjects[str(xname)] = (xval.num, xv, xraw)
    return fonts, xobjects


def _page_res(objs, pnum: int):
    """Nearest /Resources dict, walking up the /Parent chain."""
    node = objs.get(pnum, (None, None))[0]
    seen = set()
    while isinstance(node, dict):
        res = node.get("Resources")
        if isinstance(res, _Ref):
            res = objs.get(res.num, (None, None))[0]
        if isinstance(res, dict):
            return res
        parent = node.get("Parent")
        if not isinstance(parent, _Ref) or parent.num in seen:
            return None
        seen.add(parent.num)
        node = objs.get(parent.num, (None, None))[0]
    return None


def _spans_of(parts: list[str], prefix: str) -> list[tuple[int, int, str]]:
    """SPEC v3 SPANS witness: octet offsets of each part in the payload
    built by joining parts with a 1-byte separator, end exclusive."""
    spans = []
    off = 0
    for i, p in enumerate(parts):
        n = len(p.encode("utf-8"))
        spans.append((off, off + n, f"{prefix}:{i}"))
        off += n + 1
    return spans


def _pdf_text(data: bytes) -> bytes:
    return _pdf_text_spans(data)[0]


def _pdf_text_spans(data: bytes) -> tuple[bytes, list]:
    objs = _scan_objects(data)
    # explode object streams so compressed catalogs resolve
    for num in sorted(list(objs)):
        v, raw = objs[num]
        if isinstance(v, dict) and str(v.get("Type")) == "ObjStm" and raw is not None:
            payload = _decode(raw, v, objs)
            if payload is None:
                continue
            first = v.get("First", 0)
            nn = v.get("N", 0)
            head = list(_tokens(payload, 0, min(first, len(payload))))
            ints = [t[1] for t in head if t[0] == "int"]
            for j in range(min(nn, len(ints) // 2)):
                onum, ooff = ints[2 * j], ints[2 * j + 1]
                seg = payload[first + ooff :]
                toks = list(_tokens(seg, 0, len(seg)))
                valsx, _ = _fold(toks)
                if onum not in objs:
                    objs[onum] = (valsx[0] if valsx else None, None)
    pages = _page_keys(objs)
    texts = []
    for pnum in pages:
        v, _raw = objs.get(pnum, (None, None))
        contents = v.get("Contents") if isinstance(v, dict) else None
        items = contents if isinstance(contents, list) else [contents]
        parts = []
        for it in items:
            if isinstance(it, _Ref):
                tv, traw = objs.get(it.num, (None, None))
                if traw is not None and isinstance(tv, dict):
                    dec = _decode(traw, tv, objs)
                    if dec is not None:
                        parts.append(dec)
        fonts, xobjects = _res_ctx(objs, _page_res(objs, pnum))
        texts.append(_page_text(b"\n".join(parts), fonts, xobjects, objs))
    txt = "\x0c".join(texts)
    if not txt.strip("\x0c\n"):
        return b"", []
    return txt.encode("utf-8"), _spans_of(texts, "page")


# ---------------------------------------------------------------------------
# HTML (two-pass token-list design)
# ---------------------------------------------------------------------------

_DROP = frozenset(
    """script style noscript template nav header footer aside iframe svg
       math form button select option object embed head title""".split()
)
_BLOCK = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li ul ol table tr td th article section
       main blockquote pre dl dt dd figure figcaption br hr""".split()
)


_BOILER = (
    "comment sidebar footer advert banner menu breadcrumb social share "
    "related sponsor cookie popup promo widget"
).split()


def _sniff_codec(blob: bytes):
    """SPEC v2 DECODE, oracle witness: returns (codec, byte_offset, strict).

    strict=True means try that codec strict-first with a cp1252/replace
    fallback (the no-declaration branch); otherwise decode with replace.
    """
    import re as _re

    for bom, codec in (
        (b"\xef\xbb\xbf", "utf-8"),
        (b"\xff\xfe", "utf-16-le"),
        (b"\xfe\xff", "utf-16-be"),
    ):
        if blob[: len(bom)] == bom:
            return codec, len(bom), False
    m = _re.search(
        rb"""charset\s*=\s*["']?([A-Za-z0-9_\-]+)""", blob[:1024], _re.I
    )
    if m is None:
        return "utf-8", 0, True
    label = m.group(1).lower().decode("ascii")
    if label in ("utf-8", "utf8"):
        return "utf-8", 0, False
    if label in (
        "latin1", "latin-1", "iso-8859-1", "iso8859-1",
        "windows-1252", "cp1252", "ansi",
    ):
        return "cp1252", 0, False
    import codecs as _codecs

    try:
        _codecs.lookup(label)
    except LookupError:
        return "utf-8", 0, False
    return label, 0, False


def _decode_page(blob: bytes) -> str:
    codec, off, strict = _sniff_codec(blob)
    if strict:
        try:
            return blob.decode(codec)
        except UnicodeDecodeError:
            return blob.decode("cp1252", "replace")
    return blob[off:].decode(codec, "replace")


def _boilerplate_attrs(attrs) -> bool:
    for tok in _BOILER:
        for name, val in attrs:
            if name in ("id", "class") and val and tok in val.lower():
                return True
    return False


class _Tokenizer(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.events: list[tuple] = []

    def handle_starttag(self, tag, attrs):
        self.events.append(("open", tag, attrs))

    def handle_endtag(self, tag):
        self.events.append(("close", tag, None))

    def handle_startendtag(self, tag, attrs):
        self.events.append(("selfclose", tag, attrs))

    def handle_data(self, data):
        self.events.append(("text", data, None))


def _html_text(blob: bytes) -> bytes:
    return _html_text_spans(blob)[0]


def _html_text_spans(blob: bytes) -> tuple[bytes, list]:
    return _html_full(blob)[:2]


def _html_full(blob: bytes) -> tuple[bytes, list, list]:
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass

    blocks: list[str] = []
    headings: list[tuple[int, int]] = []
    buf: list[str] = []
    drop = 0
    a_depth = 0
    link = total = 0
    open_block = [None]  # v7: opening tag of the current block

    def flush():
        nonlocal link, total
        text = " ".join("".join(buf).split())
        l, t = link, total
        tag = open_block[0]
        open_block[0] = None
        buf.clear()
        link = total = 0
        if text and not (t > 0 and l / t > 0.66):
            if tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
                headings.append((len(blocks), int(tag[1])))
            blocks.append(text)

    # attr-drop region state (SPEC v2): opaque while active — only the
    # root tag's own open/close events are counted
    region_tag = None
    region_n = 0

    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "open":
            if val in _DROP:
                drop += 1
            elif drop == 0:
                if _boilerplate_attrs(attrs):
                    region_tag, region_n = val, 1
                elif val in _BLOCK:
                    flush()
                    open_block[0] = val
                elif val == "a":
                    a_depth += 1
        elif ev == "close":
            if val in _DROP:
                drop = max(0, drop - 1)
            elif drop == 0:
                if val in _BLOCK:
                    flush()
                elif val == "a":
                    a_depth = max(0, a_depth - 1)
        elif ev == "selfclose":
            if drop == 0 and val in _BLOCK:
                flush()
                open_block[0] = val
        else:  # text
            if drop == 0 and val:
                buf.append(val)
                nws = len("".join(val.split()))
                total += nws
                if a_depth:
                    link += nws
    flush()
    if not blocks:
        return b"", [], headings
    return (
        "\n".join(blocks).encode("utf-8"),
        _spans_of(blocks, "block"),
        headings,
    )


def _html_outlinks(blob: bytes) -> list[str]:
    """v4 OUTLINKS, second witness: a separate event pass (not the engine's
    in-flight collection) — tokenize, walk drop/boiler region state, gather
    ``href`` of ``a`` open/self-close events, trim, filter fragments and
    javascript:/mailto:/data: schemes, first-occurrence dedup."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    out: list[str] = []
    drop = 0
    region_tag = None
    region_n = 0
    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "open" and val in _DROP:
            drop += 1
        elif ev == "close" and val in _DROP:
            drop = max(0, drop - 1)
        elif ev in ("open", "selfclose") and drop == 0:
            # v2 precedent: self-closing tags are exempt from boiler regions
            if ev == "open" and _boilerplate_attrs(attrs):
                region_tag, region_n = val, 1
                continue
            if val != "a":
                continue
            href = next(
                (v for k, v in attrs if k == "href" and v is not None), None
            )
            if href is None:
                continue
            href = href.strip()
            if (
                href
                and not href.startswith("#")
                and not href.lower().startswith(
                    ("javascript:", "mailto:", "data:")
                )
                and href not in out
            ):
                out.append(href)
    return out


# PDFDocEncoding exceptions (ISO 32000-1 Annex D.3) — spec data, also
# carried by the engine; the DECODE ALGORITHM here is independent.
_DOC_ENC_EXC = (
    "\x18\u02d8 \x19\u02c7 \x1a\u02c6 \x1b\u02d9 \x1c\u02dd \x1d\u02db "
    "\x1e\u02da \x1f\u02dc \x80\u2022 \x81\u2020 \x82\u2021 \x83\u2026 "
    "\x84\u2014 \x85\u2013 \x86\u0192 \x87\u2044 \x88\u2039 \x89\u203a "
    "\x8a\u2212 \x8b\u2030 \x8c\u201e \x8d\u201c \x8e\u201d \x8f\u2018 "
    "\x90\u2019 \x91\u201a \x92\u2122 \x93\ufb01 \x94\ufb02 \x95\u0141 "
    "\x96\u0152 \x97\u0160 \x98\u0178 \x99\u017d \x9a\u0131 \x9b\u0142 "
    "\x9c\u0153 \x9d\u0161 \x9e\u017e \xa0\u20ac"
).split(" ")
_DOC_ENC_MAP = {pair[0]: pair[1] for pair in _DOC_ENC_EXC}


def _pdf_string_text(b: bytes) -> str:
    if b[:2] == b"\xfe\xff":
        try:
            return b[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            return b[2:].decode("utf-16-be", "replace")
    return "".join(_DOC_ENC_MAP.get(c, c) for c in b.decode("latin-1"))


def _pdf_info_text(data: bytes, key: str) -> str | None:
    """v5 TITLE / v6 description, PDF second witness: xref-free — every
    ``trailer`` dict in byte order (later wins, mirroring
    incremental-update semantics), with XRef-stream dicts as the fallback
    carrier; /Info deref via the object scan; the requested Info entry
    decoded per Annex D and whitespace-normalized."""
    objs = _scan_objects(data)
    info_num = None
    for m in re.finditer(rb"trailer\b", data):
        seg = data[m.end() : m.end() + 4096]
        toks = list(_tokens(seg, 0, len(seg)))
        vals, _n = _fold(toks)
        d = next((v for v in vals if isinstance(v, dict)), None)
        if isinstance(d, dict) and isinstance(d.get("Info"), _Ref):
            info_num = d["Info"].num
    if info_num is None:
        for num in sorted(objs):
            v = objs[num][0]
            if (
                isinstance(v, dict)
                and str(v.get("Type")) == "XRef"
                and isinstance(v.get("Info"), _Ref)
            ):
                info_num = v["Info"].num
    if info_num is None:
        return None
    info = objs.get(info_num, (None, None))[0]
    if not isinstance(info, dict):
        return None
    t = info.get(key)
    if not isinstance(t, bytes):
        return None
    out = " ".join(_pdf_string_text(t).split())
    return out or None


def _pdf_info_title(data: bytes) -> str | None:
    return _pdf_info_text(data, "Title")


def _html_title(blob: bytes) -> str | None:
    """v5 TITLE, second witness: first <title> outside boiler regions —
    a separate event pass; drop regions do NOT suppress it (title is
    itself a DROP tag), matching the engine's pre-DROP collection."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    parts: list[str] = []
    collecting = False
    done = False
    drop = 0
    region_tag = None
    region_n = 0
    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "open":
            if val == "title" and not done:
                collecting = True
            if val in _DROP:
                drop += 1
            elif drop == 0 and _boilerplate_attrs(attrs):
                region_tag, region_n = val, 1
        elif ev == "close":
            if val == "title" and collecting:
                collecting = False
                done = True
            if val in _DROP:
                drop = max(0, drop - 1)
        elif ev == "text" and collecting and val:
            parts.append(val)
    t = " ".join("".join(parts).split())
    return t or None


def _html_headmeta(blob: bytes) -> tuple[str | None, str | None]:
    """v6 HEADMETA, second witness: first canonical <link> href and first
    <meta name=description> content — a separate event pass; collected
    despite drop regions (head metadata), opaque inside boiler regions."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    canonical = description = None
    drop = 0
    region_tag = None
    region_n = 0
    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "close":
            if val in _DROP:
                drop = max(0, drop - 1)
            continue
        if ev not in ("open", "selfclose"):
            continue
        # collection precedes the boiler-region start, mirroring the
        # engine's handle_starttag ordering
        if val in ("link", "meta"):
            a = {k: v for k, v in attrs if v is not None}
            if val == "link" and canonical is None:
                href = a.get("href", "").strip()
                if "canonical" in a.get("rel", "").lower().split() and href:
                    canonical = href
            elif val == "meta" and description is None:
                if a.get("name", "").strip().lower() == "description":
                    d = " ".join(a.get("content", "").split())
                    if d:
                        description = d
            if ev == "selfclose":
                continue
        if ev == "open":
            if val in _DROP:
                drop += 1
            elif drop == 0 and _boilerplate_attrs(attrs):
                region_tag, region_n = val, 1
    return canonical, description


def oracle_extract(blob: bytes) -> bytes:
    """url-invariant: blob → extracted text bytes (the SPEC's 2nd witness)."""
    return oracle_extract_spans(blob)[0]


def oracle_extract_spans(blob: bytes) -> tuple[bytes, list]:
    """blob → (text bytes, v3 spans) — the SPEC's 2nd witness incl. spans."""
    if b"%PDF-" in blob[:1024]:
        return _pdf_text_spans(blob)
    return _html_text_spans(blob)


def _html_ogmeta(blob: bytes) -> tuple:
    """v8 OGMETA, second witness: first non-empty <meta property="og:X">
    content per X in {title, description, image} — its own event pass;
    collected despite drop regions, opaque inside boiler regions, same
    placement contract as v6 HEADMETA."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    og = {"og:title": None, "og:description": None, "og:image": None}
    drop = 0
    region_tag = None
    region_n = 0
    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "close":
            if val in _DROP:
                drop = max(0, drop - 1)
            continue
        if ev not in ("open", "selfclose"):
            continue
        if val == "meta":
            a = {k: v for k, v in attrs if v is not None}
            prop = a.get("property", "").strip().lower()
            if prop in og and og[prop] is None:
                c = a.get("content", "")
                c = c.strip() if prop == "og:image" else " ".join(c.split())
                if c:
                    og[prop] = c
            if ev == "selfclose":
                continue
        if ev == "open":
            if val in _DROP:
                drop += 1
            elif drop == 0 and _boilerplate_attrs(attrs):
                region_tag, region_n = val, 1
    return (og["og:title"], og["og:description"], og["og:image"])


def _html_anchors(blob: bytes) -> list[str]:
    """v9 ANCHORS, second witness: a separate event pass (not the
    engine's in-flight capture) — walk drop/boiler region state, push a
    capture per ``a`` open (bound to the outlink index when THIS element
    created the first occurrence of its href, else inert), bind text
    events to the innermost open capture, pop on ``a`` close, finalize
    leftovers at EOF."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    hrefs: list[str] = []
    texts: list[str] = []
    stack: list = []  # None | [outlink_idx, parts]
    drop = 0
    region_tag = None
    region_n = 0

    def record(attrs) -> int | None:
        href = next(
            (v for k, v in attrs if k == "href" and v is not None), None
        )
        if href is None:
            return None
        href = href.strip()
        if (
            href
            and not href.startswith("#")
            and not href.lower().startswith(
                ("javascript:", "mailto:", "data:")
            )
            and href not in hrefs
        ):
            hrefs.append(href)
            texts.append("")
            return len(hrefs) - 1
        return None

    def finish(entry) -> None:
        if entry is not None:
            texts[entry[0]] = " ".join("".join(entry[1]).split())

    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "open":
            if val in _DROP:
                drop += 1
            elif drop == 0:
                if _boilerplate_attrs(attrs):
                    region_tag, region_n = val, 1
                elif val == "a":
                    idx = record(attrs)
                    stack.append(None if idx is None else [idx, []])
        elif ev == "close":
            if val in _DROP:
                drop = max(0, drop - 1)
            elif drop == 0 and val == "a" and stack:
                finish(stack.pop())
        elif ev == "selfclose":
            if drop == 0 and val == "a":
                record(attrs)  # href counts, no text capture
        else:  # text
            if drop == 0 and val and stack and stack[-1] is not None:
                stack[-1][1].append(val)
    while stack:
        finish(stack.pop())
    return texts


def oracle_extract_full(blob: bytes) -> tuple:
    """blob → (text, v3 spans, v4 outlinks, v5 title, v6 canonical,
    v6 description, v7 headings, v8 ogmeta triple, v9 anchors,
    v10 tables, v11 lists, v12 images, v13 jsonld, v14 robots_meta,
    v15 alternates, v16 refresh_meta, v17 base_href, v18 forms,
    v19 next_href, v19 prev_href, v20 microdata, v21 rdfa) — 2nd
    witness."""
    if b"%PDF-" in blob[:1024]:
        text, spans = _pdf_text_spans(blob)
        return (
            text, spans, [], _pdf_info_title(blob),
            None, _pdf_info_text(blob, "Subject"),
            _pdf_outline_levels(blob),
            (None, None, None),
            [],
            [],
            [],
            [],
            [],
            None,
            [],
            None,
            None,
            [],
            None,
            None,
            [],
            [],
        )
    text, spans, headings = _html_full(blob)
    canonical, description = _html_headmeta(blob)
    return (
        text, spans, _html_outlinks(blob), _html_title(blob),
        canonical, description, headings,
        _html_ogmeta(blob),
        _html_anchors(blob),
        _html_tables(blob),
        _html_lists(blob),
        _html_images(blob),
        _html_jsonld(blob),
        _html_robots(blob),
        _html_alternates(blob),
        _html_refresh(blob),
        _html_base(blob),
        _html_forms(blob),
        *_html_pagination(blob),
        _html_microdata(blob),
        _html_rdfa(blob),
    )


def _html_robots(blob: bytes) -> str | None:
    """v14 ROBOTSMETA, second witness: its own event pass — the first
    non-empty <meta name="robots"> content, lowercased + normalized;
    same placement contract as v6 HEADMETA."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    robots = None
    drop = 0
    region_tag = None
    region_n = 0
    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "close":
            if val in _DROP:
                drop = max(0, drop - 1)
            continue
        if ev not in ("open", "selfclose"):
            continue
        if val == "meta" and robots is None:
            a = {k: v for k, v in attrs if v is not None}
            if a.get("name", "").strip().lower() == "robots":
                rb = " ".join(a.get("content", "").lower().split())
                if rb:
                    robots = rb
            if ev == "selfclose":
                continue
        elif ev == "selfclose":
            continue
        if ev == "open":
            if val in _DROP:
                drop += 1
            elif drop == 0 and _boilerplate_attrs(attrs):
                region_tag, region_n = val, 1
    return robots


def _html_refresh(blob: bytes) -> str | None:
    """v16 REFRESH, second witness: its own event pass — the first
    non-empty <meta http-equiv="refresh"> content, lowercased +
    normalized; same placement contract as v14 ROBOTSMETA."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    refresh = None
    drop = 0
    region_tag = None
    region_n = 0
    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "close":
            if val in _DROP:
                drop = max(0, drop - 1)
            continue
        if ev not in ("open", "selfclose"):
            continue
        if val == "meta" and refresh is None:
            a = {k: v for k, v in attrs if v is not None}
            if a.get("http-equiv", "").strip().lower() == "refresh":
                rf = " ".join(a.get("content", "").lower().split())
                if rf:
                    refresh = rf
            if ev == "selfclose":
                continue
        elif ev == "selfclose":
            continue
        if ev == "open":
            if val in _DROP:
                drop += 1
            elif drop == 0 and _boilerplate_attrs(attrs):
                region_tag, region_n = val, 1
    return refresh


def _html_base(blob: bytes) -> str | None:
    """v17 BASEHREF, second witness: its own event pass — the first
    non-empty <base href>, trimmed, case-preserved (URLs are
    case-sensitive past the authority); HEADMETA placement contract."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    base = None
    drop = 0
    region_tag = None
    region_n = 0
    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "close":
            if val in _DROP:
                drop = max(0, drop - 1)
            continue
        if ev not in ("open", "selfclose"):
            continue
        if val == "base" and base is None:
            a = {k: v for k, v in attrs if v is not None}
            b = a.get("href", "").strip()
            if b:
                base = b
            if ev == "selfclose":
                continue
        elif ev == "selfclose":
            continue
        if ev == "open":
            if val in _DROP:
                drop += 1
            elif drop == 0 and _boilerplate_attrs(attrs):
                region_tag, region_n = val, 1
    return base


def _html_pagination(blob: bytes) -> tuple[str | None, str | None]:
    """v19 PAGINATION, second witness: own event pass — the first
    non-empty <link> href whose rel token list contains "next"
    (-> next_href) and, independently, "prev" or the spec synonym
    "previous" (-> prev_href); trimmed, case-preserved; empty-href
    decoys skipped; HEADMETA placement contract (collected despite drop
    regions, opaque inside boiler regions)."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    nxt: str | None = None
    prv: str | None = None
    drop = 0
    region_tag = None
    region_n = 0
    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "close":
            if val in _DROP:
                drop = max(0, drop - 1)
            continue
        if ev not in ("open", "selfclose"):
            continue
        if val == "link":
            a = {k: v for k, v in attrs if v is not None}
            rel = a.get("rel", "").lower().split()
            href = a.get("href", "").strip()
            if href:
                if nxt is None and "next" in rel:
                    nxt = href
                if prv is None and ("prev" in rel or "previous" in rel):
                    prv = href
            if ev == "selfclose":
                continue
        if ev == "open":
            if val in _DROP:
                drop += 1
            elif drop == 0 and _boilerplate_attrs(attrs):
                region_tag, region_n = val, 1
    return nxt, prv


def _html_jsonld(blob: bytes) -> list[str]:
    """v13 JSONLD, second witness: its own event pass — one stripped raw
    payload per <script type="application/ld+json"> element, collected
    DESPITE tag-drop regions (like TITLE) but opaque inside boilerplate
    attr-drop regions; self-closing matches emit ""; an open match at
    EOF captures to end of input."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    out: list[str] = []
    buf: list[str] = []
    open_ = False
    drop = 0
    region_tag = None
    region_n = 0

    def is_ld(attrs) -> bool:
        t = next(
            (v for k, v in attrs if k == "type" and v is not None), ""
        )
        return t.strip().lower() == "application/ld+json"

    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "open":
            if val == "script" and is_ld(attrs):
                open_, buf = True, []
            if val in _DROP:
                drop += 1
            elif drop == 0 and _boilerplate_attrs(attrs):
                region_tag, region_n = val, 1
        elif ev == "close":
            if val == "script" and open_:
                out.append("".join(buf).strip())
                open_, buf = False, []
            if val in _DROP:
                drop = max(0, drop - 1)
        elif ev == "selfclose":
            if val == "script" and is_ld(attrs):
                out.append("")
        else:  # text
            if open_ and val:
                buf.append(val)
    if open_:
        out.append("".join(buf).strip())
    return out


def _html_images(blob: bytes) -> list[tuple[str, str]]:
    """v12 IMAGES, second witness: its own event pass — walk the
    drop/boiler region state and emit one (trimmed src, normalized alt)
    pair per <img> open or self-close outside those regions, in document
    order; no dedup, no scheme filtering, first attr occurrence wins."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    out: list[tuple[str, str]] = []
    drop = 0
    region_tag = None
    region_n = 0

    def record(attrs) -> None:
        s = next(
            (v for k, v in attrs if k == "src" and v is not None), ""
        ).strip()
        a = " ".join(
            next(
                (v for k, v in attrs if k == "alt" and v is not None), ""
            ).split()
        )
        out.append((s, a))

    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "open":
            if val in _DROP:
                drop += 1
            elif drop == 0:
                if _boilerplate_attrs(attrs):
                    region_tag, region_n = val, 1
                elif val == "img":
                    record(attrs)
        elif ev == "close":
            if val in _DROP:
                drop = max(0, drop - 1)
        elif ev == "selfclose":
            if drop == 0 and val == "img":
                record(attrs)
    return out


def _html_forms(blob: bytes) -> list[tuple[str, str]]:
    """v18 FORMS, second witness: its own event pass — one (method
    lowercased, default 'get'; action trimmed case-preserved) pair per
    <form> open or self-close outside drop/boiler regions, in document
    order; no dedup."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    out: list[tuple[str, str]] = []
    drop = 0
    region_tag = None
    region_n = 0

    def record(attrs) -> None:
        m = next(
            (v for k, v in attrs if k == "method" and v is not None), ""
        ).strip().lower() or "get"
        a = next(
            (v for k, v in attrs if k == "action" and v is not None), ""
        ).strip()
        out.append((m, a))

    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        # the form element records BEFORE its own tag-drop opens (the
        # subtree is chrome; the element is the signal)
        if (
            ev in ("open", "selfclose")
            and val == "form"
            and drop == 0
            and not _boilerplate_attrs(attrs)
        ):
            record(attrs)
        if ev == "open":
            if val in _DROP:
                drop += 1
            elif drop == 0 and _boilerplate_attrs(attrs):
                region_tag, region_n = val, 1
        elif ev == "close":
            if val in _DROP:
                drop = max(0, drop - 1)
    return out


_MD_ATTR_SRC = {
    "meta": "content", "a": "href", "area": "href", "link": "href",
    "img": "src", "audio": "src", "video": "src", "embed": "src",
    "iframe": "src", "source": "src", "track": "src",
    "object": "data", "data": "value", "meter": "value",
    "time": "datetime",
}


def _html_microdata(blob: bytes) -> list[tuple[int, str, str, str]]:
    """v20 MICRODATA, second witness: own event pass with the v10
    NORMAL-path placement — drop subtrees and boiler regions opaque,
    self-closing elements always collected, a boiler-classed open
    element invisible (its region opens first).  One (item, itemtype,
    prop, value) tuple per whitespace-split itemprop token in
    element-OPEN order; itemscope elements take 0-based indices per
    element (self-closing included); an itemscope+itemprop element is
    pointer-valued "item:<own idx>" on its PARENT item; attribute
    values per the WHATWG table (meta→content normalized, a/area/link→
    href, media→src, object→data, data/meter→value, time→datetime,
    all trimmed); everything else text-captures with the region-tracked
    innermost-binding contract, filling its reserved slots at close
    (EOF closes all, innermost first)."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    rows: list[list] = []
    # open v20 regions, outer->inner:
    #   ["scope", root, depth, item_idx, itemtype]
    #   ["cap",   root, depth, parts,    slot_idxs]
    regions: list[list] = []
    n_items = 0
    drop = 0
    region_tag = None
    region_n = 0

    def emit(tag, attrs, nests: bool) -> None:
        nonlocal n_items
        scoped = any(k == "itemscope" for k, _v in attrs)
        a = {k: v for k, v in attrs if v is not None}
        toks = a.get("itemprop", "").split()
        if not scoped and not toks:
            return
        item, itype = -1, ""
        for r in reversed(regions):
            if r[0] == "scope":
                item, itype = r[3], r[4]
                break
        if scoped:
            own = n_items
            n_items += 1
            for t in toks:
                rows.append([item, itype, t, f"item:{own}"])
            if nests:
                regions.append(
                    ["scope", tag, 1, own, a.get("itemtype", "").strip()]
                )
            return
        src_attr = _MD_ATTR_SRC.get(tag)
        if src_attr is not None:
            v = a.get(src_attr, "")
            v = " ".join(v.split()) if tag == "meta" else v.strip()
            for t in toks:
                rows.append([item, itype, t, v])
        elif nests:
            slots = [len(rows) + i for i in range(len(toks))]
            for t in toks:
                rows.append([item, itype, t, ""])
            regions.append(["cap", tag, 1, [], slots])
        else:  # self-closing capture category: opened+closed empty
            for t in toks:
                rows.append([item, itype, t, ""])

    def pop_from(i: int) -> None:
        while len(regions) > i:
            r = regions.pop()
            if r[0] == "cap":
                v = " ".join("".join(r[3]).split())
                for slot in r[4]:
                    rows[slot][3] = v

    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "open":
            if val in _DROP:
                drop += 1
            elif drop == 0:
                if _boilerplate_attrs(attrs):
                    region_tag, region_n = val, 1
                else:
                    for r in regions:
                        if r[1] == val:
                            r[2] += 1
                    emit(val, attrs, nests=True)
        elif ev == "close":
            if val in _DROP:
                drop = max(0, drop - 1)
            elif drop == 0:
                low = None
                for i, r in enumerate(regions):
                    if r[1] == val:
                        r[2] -= 1
                        if r[2] == 0 and low is None:
                            low = i
                if low is not None:
                    pop_from(low)
        elif ev == "selfclose":
            if drop == 0:
                emit(val, attrs, nests=False)
        else:  # text
            if drop == 0 and val and regions and regions[-1][0] == "cap":
                regions[-1][3].append(val)
    pop_from(0)
    return [tuple(r) for r in rows]


_RD_VOID = frozenset(
    {"area", "base", "br", "col", "embed", "hr", "img", "input", "link",
     "meta", "param", "source", "track", "wbr"}
)


def _html_rdfa(blob: bytes) -> list[tuple[int, str, str, str, str]]:
    """v21 RDFA, second witness: own event pass with the v10
    NORMAL-path placement.  One (item, vocab, typeof, prop, value)
    tuple per whitespace-split property token in element-OPEN order;
    typeof elements take 0-based subject indices per element
    (self-closing included); a typeof+property element chains as
    pointer "item:<own idx>" on its PARENT subject; vocab attributes
    open region-stacked vocabularies applying to the element itself
    (vocab="" resets); value by RDFa-Lite presence precedence —
    content (normalized, any tag) > resource > a/area/link href >
    media src > object data > time datetime, all trimmed — else a
    text capture with the region-tracked innermost-binding contract;
    HTML void elements are collected as if self-closing (the
    tokenizer emits no close event for them)."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    rows: list[list] = []
    # open v21 regions, outer->inner:
    #   ["voc",  root, depth, vocab]
    #   ["subj", root, depth, item_idx, typeof]
    #   ["cap",  root, depth, parts,    slot_idxs]
    regions: list[list] = []
    n_subjects = 0
    drop = 0
    region_tag = None
    region_n = 0

    def value_of(tag: str, a: dict) -> tuple[str | None, bool]:
        if "content" in a:
            return " ".join(a["content"].split()), False
        if "resource" in a:
            return a["resource"].strip(), False
        for tags, attr in (
            (("a", "area", "link"), "href"),
            (("img", "audio", "video", "embed", "iframe", "source",
              "track"), "src"),
            (("object",), "data"),
            (("time",), "datetime"),
        ):
            if tag in tags and attr in a:
                return a[attr].strip(), False
        return None, True

    def emit(tag, attrs, nests: bool) -> None:
        nonlocal n_subjects
        typed = any(k == "typeof" for k, _v in attrs)
        vocced = any(k == "vocab" for k, _v in attrs)
        a = {k: v for k, v in attrs if v is not None}
        toks = a.get("property", "").split()
        if not typed and not vocced and not toks:
            return
        vocab = ""
        for r in reversed(regions):
            if r[0] == "voc":
                vocab = r[3]
                break
        if vocced:
            vocab = a.get("vocab", "").strip()
            if nests:
                regions.append(["voc", tag, 1, vocab])
        if not typed and not toks:
            return
        item, ttype = -1, ""
        for r in reversed(regions):
            if r[0] == "subj":
                item, ttype = r[3], r[4]
                break
        if typed:
            own = n_subjects
            n_subjects += 1
            for t in toks:
                rows.append([item, vocab, ttype, t, f"item:{own}"])
            if nests:
                regions.append(
                    ["subj", tag, 1, own, a.get("typeof", "").strip()]
                )
            return
        v, is_cap = value_of(tag, a)
        if is_cap and nests:
            slots = [len(rows) + i for i in range(len(toks))]
            for t in toks:
                rows.append([item, vocab, ttype, t, ""])
            regions.append(["cap", tag, 1, [], slots])
        else:
            v = "" if is_cap else v  # self-closing capture: emits ""
            for t in toks:
                rows.append([item, vocab, ttype, t, v])

    def pop_from(i: int) -> None:
        while len(regions) > i:
            r = regions.pop()
            if r[0] == "cap":
                v = " ".join("".join(r[3]).split())
                for slot in r[4]:
                    rows[slot][4] = v

    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "open":
            if val in _DROP:
                drop += 1
            elif drop == 0:
                if _boilerplate_attrs(attrs):
                    region_tag, region_n = val, 1
                else:
                    for r in regions:
                        if r[1] == val:
                            r[2] += 1
                    emit(val, attrs, nests=val not in _RD_VOID)
        elif ev == "close":
            if val in _DROP:
                drop = max(0, drop - 1)
            elif drop == 0:
                low = None
                for i, r in enumerate(regions):
                    if r[1] == val:
                        r[2] -= 1
                        if r[2] == 0 and low is None:
                            low = i
                if low is not None:
                    pop_from(low)
        elif ev == "selfclose":
            if drop == 0:
                emit(val, attrs, nests=False)
        else:  # text
            if drop == 0 and val:
                # vocab regions are transparent to text capture
                for r in reversed(regions):
                    if r[0] == "voc":
                        continue
                    if r[0] == "cap":
                        r[3].append(val)
                    break
    pop_from(0)
    return [tuple(r) for r in rows]


def _pdf_outline_levels(data: bytes) -> list[tuple[int, int]]:
    """v7 PDF side, 2nd witness: (preorder position, level+1) over the
    catalog /Outlines tree — xref-free object scan, iterative walk."""
    objs = _scan_objects(data)
    cat = None
    for num in sorted(objs):
        v = objs[num][0]
        if isinstance(v, dict) and str(v.get("Type")) == "Catalog":
            cat = v
    if not isinstance(cat, dict):
        return []
    ol = cat.get("Outlines")
    if not isinstance(ol, _Ref):
        return []
    root = objs.get(ol.num, (None, None))[0]
    if not isinstance(root, dict):
        return []
    out: list[tuple[int, int]] = []
    seen: set[int] = set()

    def walk(first, level):
        cur = first
        while isinstance(cur, _Ref) and level <= 33:
            if cur.num in seen:
                return
            seen.add(cur.num)
            item = objs.get(cur.num, (None, None))[0]
            if not isinstance(item, dict):
                return
            out.append((len(out), level))
            if isinstance(item.get("First"), _Ref):
                walk(item.get("First"), level + 1)
            cur = item.get("Next")

    walk(root.get("First"), 1)
    return out


def _html_tables(blob: bytes) -> list[tuple[int, int, int, bool, str]]:
    """v10 TABLES, second witness: a separate event pass — walk the
    drop/boiler region state, keep a stack of open table elements, count
    <table> opens for the index, advance row/col counters on <tr> and
    <td>/<th> opens (implicit row 0 before any <tr>), bind text to the
    innermost table's open cell, and emit one tuple per opened cell at
    cell-close time (close tag, sibling open, </table>, or EOF)."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    out: list[tuple[int, int, int, bool, str]] = []
    stack: list[list] = []  # [idx, row, col, cell_open, is_th, parts]
    count = 0
    drop = 0
    region_tag = None
    region_n = 0

    def close_cell() -> None:
        if stack and stack[-1][3]:
            t = stack[-1]
            out.append(
                (t[0], t[1], t[2], t[4], " ".join("".join(t[5]).split()))
            )
            t[3] = False
            t[5] = []

    def open_cell(tag: str) -> None:
        close_cell()
        t = stack[-1]
        if t[1] < 0:
            t[1] = 0
        t[2] += 1
        t[3] = True
        t[4] = tag == "th"
        t[5] = []

    def open_row() -> None:
        close_cell()
        stack[-1][1] += 1
        stack[-1][2] = -1

    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "open":
            if val in _DROP:
                drop += 1
            elif drop == 0:
                if _boilerplate_attrs(attrs):
                    region_tag, region_n = val, 1
                elif val == "table":
                    stack.append([count, -1, -1, False, False, []])
                    count += 1
                elif val == "tr" and stack:
                    open_row()
                elif val in ("td", "th") and stack:
                    open_cell(val)
        elif ev == "close":
            if val in _DROP:
                drop = max(0, drop - 1)
            elif drop == 0:
                if val in ("td", "th", "tr"):
                    close_cell()
                elif val == "table" and stack:
                    close_cell()
                    stack.pop()
        elif ev == "selfclose":
            if drop == 0:
                if val == "table":
                    count += 1  # index per element, no cells possible
                elif val == "tr" and stack:
                    open_row()
                elif val in ("td", "th") and stack:
                    open_cell(val)
                    close_cell()
        else:  # text
            if drop == 0 and val and stack and stack[-1][3]:
                stack[-1][5].append(val)
    while stack:
        close_cell()
        stack.pop()
    return out


def _html_lists(blob: bytes) -> list[tuple[int, int, int, bool, str]]:
    """v11 LISTS, second witness: a separate event pass — walk the
    drop/boiler region state, keep a stack of open list elements (<ul>/
    <ol>), count list opens for the index, record each list's nesting
    depth at its own open, advance the innermost list's 0-based item
    counter on <li> opens, bind text to the innermost list's open item,
    and emit one tuple per opened item at item-close time (</li>,
    sibling <li> open, list close, or EOF)."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    out: list[tuple[int, int, int, bool, str]] = []
    stack: list[list] = []  # [idx, item, depth, ordered, item_open, parts]
    count = 0
    drop = 0
    region_tag = None
    region_n = 0

    def close_item() -> None:
        if stack and stack[-1][4]:
            s = stack[-1]
            out.append(
                (s[0], s[1], s[2], s[3], " ".join("".join(s[5]).split()))
            )
            s[4] = False
            s[5] = []

    def open_item() -> None:
        close_item()
        s = stack[-1]
        s[1] += 1
        s[4] = True
        s[5] = []

    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "open":
            if val in _DROP:
                drop += 1
            elif drop == 0:
                if _boilerplate_attrs(attrs):
                    region_tag, region_n = val, 1
                elif val in ("ul", "ol"):
                    stack.append([count, -1, len(stack), val == "ol",
                                  False, []])
                    count += 1
                elif val == "li" and stack:
                    open_item()
        elif ev == "close":
            if val in _DROP:
                drop = max(0, drop - 1)
            elif drop == 0:
                if val == "li":
                    close_item()
                elif val in ("ul", "ol") and stack:
                    close_item()
                    stack.pop()
        elif ev == "selfclose":
            if drop == 0:
                if val in ("ul", "ol"):
                    count += 1  # index per element, no items possible
                elif val == "li" and stack:
                    open_item()
                    close_item()
        else:  # text
            if drop == 0 and val and stack and stack[-1][4]:
                stack[-1][5].append(val)
    while stack:
        close_item()
        stack.pop()
    return out


def _html_alternates(blob: bytes) -> list[tuple[str, str, str]]:
    """v15 ALTERNATES, second witness: own event pass with the HEADMETA
    placement contract — <link rel~=alternate> collected despite drop
    regions, opaque inside boiler regions; one (hreflang, type, href)
    triple per element in document order, last attr occurrence wins
    (the shared headmeta dict contract), no dedup."""
    src = _decode_page(blob)
    tk = _Tokenizer()
    try:
        tk.feed(src)
        tk.close()
    except Exception:  # noqa: BLE001
        pass
    out: list[tuple[str, str, str]] = []
    drop = 0
    region_tag = None
    region_n = 0
    for ev, val, attrs in tk.events:
        if region_tag is not None:
            if val == region_tag:
                if ev == "open":
                    region_n += 1
                elif ev == "close":
                    region_n -= 1
                    if region_n == 0:
                        region_tag = None
            continue
        if ev == "close":
            if val in _DROP:
                drop = max(0, drop - 1)
            continue
        if ev not in ("open", "selfclose"):
            continue
        if val == "link":
            a = {k: v for k, v in attrs if v is not None}
            if "alternate" in a.get("rel", "").lower().split():
                out.append(
                    (
                        a.get("hreflang", "").strip().lower(),
                        a.get("type", "").strip().lower(),
                        a.get("href", "").strip(),
                    )
                )
            if ev == "selfclose":
                continue
        if ev == "open":
            # a drop tag never opens a boiler region, even with boiler
            # attrs — mirrors handle_starttag's DROP-before-boiler order
            if val in _DROP:
                drop += 1
            elif drop == 0 and _boilerplate_attrs(attrs):
                region_tag, region_n = val, 1
    return out
