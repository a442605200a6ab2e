"""PDF text extraction (SURVEY.md C26 — the north_rule flagship invariant).

Caradoc itself stops at stream/object extraction (``caradoc extract`` /
``object --decode`` [P?]); full text assembly is the extension mandated by
BASELINE.json:north_rule. The layout rules below are therefore OUR frozen
specification — implemented twice (here, and independently in ``oracle/``)
and compared byte-for-byte:

  SPEC (deterministic, total):
  * pages are visited in page-tree order (Kids arrays, depth-first,
    cycle-guarded); each page's /Contents streams are decoded and
    concatenated with a single b"\\n" between them;
  * inside a content stream, only text operators matter:
      BT        begins a text object; no output
      Tj <str>  show string             → append decoded bytes
      '  <str>  next-line + show        → newline, then append
      "  a c s  word/char spacing + show→ newline, then append
      TJ <arr>  strings appended in order; a numeric kern element
                v <= -0.18 × repw(font) (thousandths of text space,
                scaled by the CURRENT font's representative glyph
                width — see "font metrics" below) → one space
      Td/TD tx ty → ty != 0: line break (newline, emitted only if the
                current line is non-empty); ty == 0 and tx != 0: a
                single space (horizontal positioning inside a justified
                line must not split it); both zero: nothing
      T*/Tm     → line break (newline), emitted only if the current
                line is non-empty
      ET        ends the text object → newline if current line non-empty
      BI        inline image: tokens through the ID keyword are
                consumed, then RAW BYTES are skipped until the next
                'EI' preceded by a whitespace byte and followed by
                whitespace/delimiter/EOF (no such EI → rest of stream
                skipped) — image bytes must never reach the text ops
      Do <name> if the name resolves to a Form XObject with decoded
                content, the current line is flushed and the form's
                content runs through the same machine (the form's own
                /Resources win, else the caller's are inherited);
                recursion is depth-limited (8) and cycle-guarded —
                re-entering a form already on the stack is a no-op
  * string decoding: if the CURRENT FONT (tracked via ``Tf``, looked up
    in the page's inheritable /Resources /Font) carries a /ToUnicode
    CMap, show-strings decode through it (codespace-range splitting,
    bfchar/bfrange mapping, U+FFFD for unmapped codes — see
    ``cmap.py``); otherwise bytes starting with FE FF → UTF-16BE (BOM
    dropped), else PDFDocEncoding (Annex D) → unicode; output is UTF-8;
    the font (and its CMap) persists across BT/ET within a page;
  * font metrics: each font carries a representative glyph width
    ``repw`` in glyph-space units [PDF17 §9.7.4.3], used to scale the
    TJ kern-space threshold (narrow fonts need smaller kerns to open a
    visual space). repw(font):
      - Type0 font: the first /DescendantFonts entry's /W array,
        folded left-to-right — item ``c [w1 … wn]`` contributes the
        numeric wi (count n'); item ``c1 c2 w`` (all numeric)
        contributes (c2−c1+1) copies of w without materializing;
        malformed items resync by one element; inner elements are
        taken literally (no deref). repw = Σ(n·w)/Σn. If /W is absent
        or contributes nothing: /DW if numeric, else 1000.
      - simple font: mean of the numeric entries of /Widths (the
        array deref'd if indirect), else 1000.
      - no/unknown font: 1000 → threshold −180, the historical rule.
  * page texts are joined with b"\\x0c" (form feed); a document with no
    extractable text yields b"".
  * SPANS (v3, north_rule "extracted text/spans per document"): one span
    per page in page-tree order: (start, end, label) with start/end BYTE
    (octet) offsets into the UTF-8 text payload, end exclusive, label
    "page:<i>" (0-based). Pages are joined by the 1-byte form feed, so
    start_{i+1} = end_i + 1; an empty page is a zero-length span. A
    document whose text is b"" yields [] — spans are offsets into the
    emitted payload, and there is none.

Implementation: the operator machine (``extract_page_text``) and the
operator histogram (``content_op_histogram``) read ``lexer.TOKEN_RE``
matches straight off the content bytes — operand classes dispatch on the
match's group, operators are looked up as bytes in ``_TEXT_OPS`` — and
never build a token list: a 500 KB content stream holds only its operand
stack and the text it emits.  Array and dict operands go through the object
parser; both machines share one inline-image skip
(``_skip_inline_image``).

Everything here is per-document pure compute — it runs inside the Arrow
batch UDF with zero shuffle.
"""

from __future__ import annotations

from caraspark.pdfengine import lexer
from caraspark.pdfengine.cmap import ToUnicodeCMap, parse_tounicode
from caraspark.pdfengine.lexer import (
    ARRAY_OPEN,
    DICT_OPEN,
    EOF,
    HEX,
    INT,
    KW,
    NAME,
    REAL,
    STR,
    hex_value,
    name_value,
    next_token,
    slow_token,
)
from caraspark.pdfengine.model import Name, PdfError, Real, Ref, Stream
from caraspark.pdfengine.parser import parse_object

# Kern-space threshold for a 1000-unit (full-width) font; per-font the
# effective threshold is -0.18 × repw(font) — see SPEC "font metrics".
KERN_SPACE_THRESHOLD = -180

_WS = b"\x00\t\n\x0c\r "
_WS_DELIM = b"\x00\t\n\x0c\r ()<>[]{}/%"

# PDFDocEncoding (ISO 32000-1 Annex D.3): latin-1 except 0x18–0x1F and
# 0x80–0x9F, which map to typographic code points.
_PDFDOC_HIGH = {
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
# latin-1 decode is the identity on bytes; translate() then rewrites the
# ~40 typographic exceptions at C speed (hot path: every show-string)
_PDFDOC_TRANS = str.maketrans({chr(k): chr(v) for k, v in _PDFDOC_HIGH.items()})


def decode_pdf_string(b: bytes) -> str:
    if b[:2] == b"\xfe\xff":
        try:
            return b[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            return b[2:].decode("utf-16-be", "replace")
    return b.decode("latin-1").translate(_PDFDOC_TRANS)


def _page_order(doc) -> list[tuple[int, int]]:
    """Page keys in tree order (DFS over Kids, cycle-guarded): the one page
    walk, shared by text, page, annotation and action extraction. It
    follows only indirect kids and visits each object once."""
    root = doc.trailer.get("Root")
    if not isinstance(root, Ref):
        return []
    cat = doc.objects.get((root.num, root.gen))
    cat = cat.d if isinstance(cat, Stream) else cat
    if not isinstance(cat, dict):
        return []
    pages_ref = cat.get("Pages")
    if not isinstance(pages_ref, Ref):
        return []
    out: list[tuple[int, int]] = []
    seen: set = set()
    stack = [(pages_ref.num, pages_ref.gen)]
    while stack:
        key = stack.pop()
        if key in seen:
            continue
        seen.add(key)
        node = doc.objects.get(key)
        node = node.d if isinstance(node, Stream) else node
        if not isinstance(node, dict):
            continue
        t = node.get("Type")
        if isinstance(t, Name) and t.v == "Page":
            out.append(key)
            continue
        kids = node.get("Kids")
        if isinstance(kids, list):
            for k in reversed(kids):
                if isinstance(k, Ref):
                    stack.append((k.num, k.gen))
    return out


def _deref(doc, v):
    return doc.objects.get((v.num, v.gen)) if isinstance(v, Ref) else v


def _rep_width(doc, font) -> float:
    """Representative glyph width per the SPEC "font metrics" rule."""
    if not isinstance(font, dict):
        return 1000.0
    sub = font.get("Subtype")
    if isinstance(sub, Name) and sub.v == "Type0":
        desc = _deref(doc, font.get("DescendantFonts"))
        desc = desc.d if isinstance(desc, Stream) else desc
        cid = None
        if isinstance(desc, list) and desc:
            cid = _deref(doc, desc[0])
            cid = cid.d if isinstance(cid, Stream) else cid
        if isinstance(cid, dict):
            w = _deref(doc, cid.get("W"))
            w = w.d if isinstance(w, Stream) else w
            total, cnt = 0.0, 0
            if isinstance(w, list):
                i = 0
                while i < len(w):
                    c = w[i]
                    if (
                        isinstance(c, (int, float))
                        and i + 1 < len(w)
                        and isinstance(w[i + 1], list)
                    ):
                        for wi in w[i + 1]:
                            if isinstance(wi, (int, float)):
                                total += wi
                                cnt += 1
                        i += 2
                    elif (
                        isinstance(c, (int, float))
                        and i + 2 < len(w)
                        and isinstance(w[i + 1], (int, float))
                        and isinstance(w[i + 2], (int, float))
                    ):
                        n = int(w[i + 1]) - int(c) + 1
                        if n > 0:
                            total += n * w[i + 2]
                            cnt += n
                        i += 3
                    else:
                        i += 1  # malformed: resync by one element
            if cnt > 0:
                return total / cnt
            dw = cid.get("DW")
            if isinstance(dw, (int, float)):
                return float(dw)
        return 1000.0
    widths = _deref(doc, font.get("Widths"))
    widths = widths.d if isinstance(widths, Stream) else widths
    if isinstance(widths, list):
        nums = [x for x in widths if isinstance(x, (int, float))]
        if nums:
            total = 0.0
            for x in nums:
                total += x
            return total / len(nums)
    return 1000.0


def _resources_ctx(doc, res):
    """Resolved /Resources dict → (fonts: name→(CMap|None, kern
    threshold), xobjects: name→Stream)."""
    fonts: dict[str, tuple[ToUnicodeCMap | None, float]] = {}
    xobjects: dict[str, Stream] = {}
    if not isinstance(res, dict):
        return fonts, xobjects
    fdict = _deref(doc, res.get("Font"))
    fdict = fdict.d if isinstance(fdict, Stream) else fdict
    if isinstance(fdict, dict):
        for fname, fval in fdict.items():
            font = _deref(doc, fval)
            font = font.d if isinstance(font, Stream) else font
            cm = None
            if isinstance(font, dict):
                tu = _deref(doc, font.get("ToUnicode"))
                if isinstance(tu, Stream) and tu.decoded is not None:
                    cm = parse_tounicode(tu.decoded)
            fonts[fname] = (cm, -0.18 * _rep_width(doc, font))
    xdict = _deref(doc, res.get("XObject"))
    xdict = xdict.d if isinstance(xdict, Stream) else xdict
    if isinstance(xdict, dict):
        for xname, xval in xdict.items():
            xo = _deref(doc, xval)
            if isinstance(xo, Stream):
                xobjects[xname] = xo
    return fonts, xobjects


def _page_resources(doc, page_key):
    """The page's /Resources dict, inherited up the /Parent chain per
    [PDF17 §7.7.3.4] — the nearest /Resources wins outright."""
    node = doc.objects.get(page_key)
    node = node.d if isinstance(node, Stream) else node
    seen: set = set()
    while isinstance(node, dict):
        res = _deref(doc, node.get("Resources"))
        res = res.d if isinstance(res, Stream) else res
        if isinstance(res, dict):
            return res
        parent = node.get("Parent")
        if not isinstance(parent, Ref) or (parent.num, parent.gen) in seen:
            return None
        seen.add((parent.num, parent.gen))
        node = doc.objects.get((parent.num, parent.gen))
        node = node.d if isinstance(node, Stream) else node
    return None


MAX_FORM_DEPTH = 8


def _content_bytes(doc, page_key, errors) -> bytes:
    node = doc.objects.get(page_key)
    node = node.d if isinstance(node, Stream) else node
    contents = node.get("Contents")
    if isinstance(contents, Ref):
        contents = doc.objects.get((contents.num, contents.gen))
    parts: list[bytes] = []
    items = contents if isinstance(contents, list) else [contents]
    for it in items:
        if isinstance(it, Ref):
            it = doc.objects.get((it.num, it.gen))
        if isinstance(it, Stream):
            if it.decoded is not None:
                parts.append(it.decoded)
            else:
                errors.append(
                    PdfError("extract.content_undecoded", obj=page_key)
                )
        elif it is not None:
            errors.append(PdfError("extract.bad_contents", obj=page_key))
    return b"\n".join(parts)


# the text operators; every other keyword only clears the operand stack
_SHOW, _NEWLINE_SHOW, _SHOW_ARRAY, _FONT, _FORM, _IMAGE, _MOVE, _NEWLINE = range(8)
_TEXT_OPS = {
    b"Tj": _SHOW,
    b"'": _NEWLINE_SHOW,
    b'"': _NEWLINE_SHOW,
    b"TJ": _SHOW_ARRAY,
    b"Tf": _FONT,
    b"Do": _FORM,
    b"BI": _IMAGE,
    b"Td": _MOVE,
    b"TD": _MOVE,
    b"T*": _NEWLINE,
    b"Tm": _NEWLINE,
    b"ET": _NEWLINE,
    b"BT": _NEWLINE,
}


def _skip_inline_image(data: bytes, pos: int, counts=None) -> int:
    """From just past ``BI``: the image dict's tokens through ``ID``, then
    raw bytes to an ``EI`` preceded by a whitespace byte and followed by
    whitespace/delimiter/EOF (see SPEC) → the position after that ``EI``,
    or the end of the stream.  ``counts`` tallies the keywords read."""
    n = len(data)
    while True:
        kind, v, _, pos = next_token(data, pos, n)
        if kind == EOF:
            return n
        if kind == KW:
            if counts is not None:
                counts[v] += 1
            if v == b"ID":
                break
    i = pos
    while True:
        m = data.find(b"EI", i, n)
        if m < 0:
            return n
        if (m == 0 or data[m - 1] in _WS) and (
            m + 2 >= n or data[m + 2] in _WS_DELIM
        ):
            if counts is not None:
                counts[b"EI"] += 1
            return m + 2
        i = m + 1


def extract_page_text(
    content: bytes,
    errors: list,
    fonts: dict[str, ToUnicodeCMap | None] | None = None,
    xobjects: dict[str, Stream] | None = None,
    doc=None,
    _depth: int = 0,
    _active: frozenset = frozenset(),
) -> str:
    """Run the text-operator machine over one page's content bytes,
    streaming ``TOKEN_RE`` matches (no token list is built)."""
    match = lexer.TOKEN_RE.match
    n = len(content)
    pos = 0
    lex_errors: list = []  # content-stream lex errors are not
    operands: list = []    # document-validity errors
    lines: list[str] = []
    cur: list[str] = []
    cmap: ToUnicodeCMap | None = None  # of the current font (Tf)
    kern_thr: float = float(KERN_SPACE_THRESHOLD)  # scaled per font

    def newline():
        if cur:
            lines.append("".join(cur))
            cur.clear()

    def do_form(name: str):
        xo = (xobjects or {}).get(name)
        if (
            xo is None
            or xo.decoded is None
            or _depth >= MAX_FORM_DEPTH
            or id(xo) in _active
        ):
            return
        sub = xo.d.get("Subtype")
        if not (isinstance(sub, Name) and sub.v == "Form"):
            return
        f2, x2 = fonts, xobjects
        if doc is not None:
            res = _deref(doc, xo.d.get("Resources"))
            res = res.d if isinstance(res, Stream) else res
            if isinstance(res, dict):
                f2, x2 = _resources_ctx(doc, res)
        newline()
        sub_text = extract_page_text(
            xo.decoded, errors, f2, x2, doc, _depth + 1,
            _active | {id(xo)},
        )
        if sub_text:
            lines.extend(sub_text.split("\n"))

    def show(v):
        if isinstance(v, bytes):
            cur.append(cmap.decode(v) if cmap else decode_pdf_string(v))

    while True:
        m = match(content, pos)
        i = m.lastindex
        if i == INT:
            pos = m.end()
            operands.append(int(m[INT]))
            continue
        if i == KW:
            pos = m.end()
            op = m[KW]
        elif i is None:
            p = m.end()
            if p >= n:
                break
            i, op, pos = slow_token(content, p, n, False, lex_errors)
            if i != KW:  # an escaped/nested string or a loose hex string
                operands.append(op)
                continue
        else:
            pos = m.end()
            if i == REAL:
                operands.append(float(m[REAL]))
            elif i == STR:
                operands.append(m[STR])
            elif i == NAME:
                operands.append(Name(name_value(m[NAME], 0, lex_errors)))
            elif i == HEX:
                operands.append(hex_value(m[HEX], 0, False, lex_errors))
            elif i == ARRAY_OPEN:
                arr, pos = parse_object(content, m.start(i), [])
                operands.append(arr if isinstance(arr, list) else [])
            elif i == DICT_OPEN:
                d, pos = parse_object(content, m.start(i), [])
                operands.append(d if isinstance(d, dict) else {})
            else:  # a stray closer or brace
                operands.clear()
            continue

        code = _TEXT_OPS.get(op)
        if code is None:
            pass
        elif code == _SHOW:
            if operands:
                show(operands[-1])
        elif code == _NEWLINE_SHOW:
            if operands:
                newline()
                show(operands[-1])
        elif code == _SHOW_ARRAY:
            if operands and isinstance(operands[-1], list):
                for el in operands[-1]:
                    if isinstance(el, bytes):
                        show(el)
                    elif isinstance(el, (int, float)):
                        if el <= kern_thr:
                            cur.append(" ")
                    elif isinstance(el, Real) and el.value() <= kern_thr:
                        cur.append(" ")
        elif code == _FONT:
            if operands and isinstance(operands[0], Name):
                cmap, kern_thr = (fonts or {}).get(
                    operands[0].v, (None, float(KERN_SPACE_THRESHOLD))
                )
        elif code == _FORM:
            if operands and isinstance(operands[0], Name):
                do_form(operands[0].v)
        elif code == _IMAGE:
            # inline image [PDF17 §8.9.7]: image bytes never reach the ops
            pos = _skip_inline_image(content, pos)
        elif code == _MOVE:
            tx = operands[0] if len(operands) > 0 else 0
            ty = operands[1] if len(operands) > 1 else 0
            if not isinstance(tx, (int, float)):
                tx = 0
            if not isinstance(ty, (int, float)):
                ty = 0
            if ty != 0:
                newline()
            elif tx != 0 and cur and not cur[-1].endswith(" "):
                cur.append(" ")
        else:  # _NEWLINE: T* Tm ET BT
            newline()
        operands.clear()

    newline()
    return "\n".join(lines)


def extract_text_spans(
    doc, errors: list
) -> tuple[bytes, list[tuple[int, int, str]]]:
    """Whole-document (text, page spans) per the SPEC (incl. v3 SPANS)."""
    pages = _page_order(doc)
    page_texts: list[str] = []
    for pk in pages:
        content = _content_bytes(doc, pk, errors)
        fonts, xobjects = _resources_ctx(doc, _page_resources(doc, pk))
        page_texts.append(
            extract_page_text(content, errors, fonts, xobjects, doc)
        )
    txt = "\x0c".join(page_texts)
    if not txt.strip("\x0c\n"):
        return b"", []
    spans: list[tuple[int, int, str]] = []
    off = 0
    for i, pt in enumerate(page_texts):
        n = len(pt.encode("utf-8"))
        spans.append((off, off + n, f"page:{i}"))
        off += n + 1  # the 1-byte form-feed joiner
    return txt.encode("utf-8"), spans


def extract_text(doc, errors: list) -> bytes:
    """Whole-document extracted text per the SPEC above → UTF-8 bytes."""
    return extract_text_spans(doc, errors)[0]


def extract_pages(doc) -> list[dict]:
    """Per-page facts over the page-tree walk (the page-granular view of
    `extract_text_spans` — same order, same content assembly, same
    operator machine): 0-based page index, the page object's num.gen,
    assembled content-stream byte count, and the UTF-8 length + md5 of
    that page's extracted text. Pins the tree DFS, /Contents assembly
    and per-page resource contexts independently of the whole-document
    form-feed join."""
    import hashlib

    rows: list[dict] = []
    errors: list = []  # page-level extraction warnings don't gate validity
    for i, pk in enumerate(_page_order(doc)):
        content = _content_bytes(doc, pk, errors)
        fonts, xobjects = _resources_ctx(doc, _page_resources(doc, pk))
        t = extract_page_text(content, errors, fonts, xobjects, doc)
        enc = t.encode("utf-8")
        rows.append(
            {
                "page": i,
                "obj": f"{pk[0]}.{pk[1]}",
                "content_bytes": len(content),
                "text_len": len(enc),
                "text_md5": hashlib.md5(enc).hexdigest(),
            }
        )
    return rows


def content_op_histogram(doc) -> list[dict]:
    """Content-stream operator histogram [PDF17 SS8-9]: lex every page's
    (decoded, concatenated) content stream with the SAME tokenizer the
    text extractor runs and count operator keywords — the per-document
    profile of what a renderer would execute (text ops Tj/TJ/Tf,
    path ops m/l/re/f, XObject Do, state ops q/Q/cm/gs), which is both
    an extraction-quality signal (text-op-free pages are scans) and the
    triage table for renderer-attack surface (op mix outliers).
    Deterministic: same lexer, same page order as extraction.

    Rows: {"op", "n"} sorted by op."""
    from collections import Counter

    counts: Counter = Counter()  # keyword bytes → occurrences
    errors: list = []
    match = lexer.TOKEN_RE.match
    for pk in _page_order(doc):
        content = _content_bytes(doc, pk, errors)
        pos, n = 0, len(content)
        while True:
            m = match(content, pos)
            i = m.lastindex
            if i == KW:
                pos = m.end()
                op = m[KW]
            elif i is None:
                p = m.end()
                if p >= n:
                    break
                i, op, pos = slow_token(content, p, n, False, [])
                if i != KW:
                    continue
            else:
                pos = m.end()
                continue
            counts[op] += 1
            if op == b"BI":
                # the same inline-image skip as extract_page_text; the
                # dict's keywords (through ID) and the EI are counted
                pos = _skip_inline_image(content, pos, counts)
    return [{"op": op.decode("latin-1"), "n": counts[op]} for op in sorted(counts)]
