"""COS object parser (SURVEY.md C6–C9; ISO 32000-1 §7.3).

Capability parity: caradoc ``src/parser/parser.mly`` (relaxed grammar),
``strictparser.mly`` (strict variant) and the indirect-object / stream logic
of ``src/parser/fetchimpl.ml`` + ``src/data/pdfstream.ml`` [P].

From-scratch design: the parser reads ``lexer.TOKEN_RE`` matches directly
at byte offsets (dispatch on the group number; the irregular rest goes
through ``lexer.slow_token``) and builds the tree on an **explicit stack**
— no Python recursion, so adversarial 10k-deep nesting hits the
configurable depth budget (``resource.depth_limit``) instead of a
RecursionError.  The ``int int R`` reference form looks at most two
matches ahead, and only after an integer; those matches are reused, not
re-lexed.  A body is tokenized up to the first keyword its grammar cannot
consume, so an object ends at the end of its own ``endobj`` and lex errors
come only from tokens the object consumes.
"""

from __future__ import annotations

from caraspark.pdfengine import lexer
from caraspark.pdfengine.lexer import (
    ARRAY_CLOSE,
    ARRAY_OPEN,
    BRACE_CLOSE,
    DICT_CLOSE,
    DICT_OPEN,
    EOF,
    HEX,
    INT,
    KIND_NAMES,
    KW,
    MAX_INT,
    MIN_INT,
    NAME,
    REAL,
    STR,
    hex_value,
    int_token,
    name_value,
    next_token,
    slow_token,
)
from caraspark.pdfengine.model import Name, PdfError, Real, Ref, Stream

# bounded so downstream recursive consumers (canonical JSON serialization,
# json.dumps) stay far from CPython's recursion limit
DEFAULT_MAX_DEPTH = 256

_UNEXPECTED = object()  # sentinel: value position hit a foreign keyword

_KEYWORD_VALUES = {b"true": True, b"false": False, b"null": None}


def parse_object(
    data: bytes,
    pos: int,
    errors: list,
    strict: bool = False,
    max_depth: int = DEFAULT_MAX_DEPTH,
):
    """Parse one DirectObject at ``pos`` → (value, resume position).

    On a foreign keyword in value position the keyword is left unread
    (resume = its start) and, at top level, ``_UNEXPECTED`` is the value:
    the caller (indirect-object / trailer / content parser) decides what
    it means.
    """
    match = lexer.TOKEN_RE.match
    n = len(data)
    stack: list[tuple] = []  # (container, pending_key | None)
    pending_key: str | None = None
    container = None
    la = la2 = None  # matches an `int int R` probe lexed ahead

    while True:
        if la is None:
            m = match(data, pos)
        else:
            m, la, la2 = la, la2, None
        i = m.lastindex
        if i is None:
            start = m.end()
            if start >= n:
                errors.append(PdfError("cos.eof_in_object", start))
                return None, start
            if data[start] in b")>":
                # a stray ')' or '>' is a keyword no grammar rule consumes:
                # left unread, its lex error is the next reader's to record
                i, v, pos = KW, data[start : start + 1], start + 1
            else:
                i, v, pos = slow_token(data, start, n, strict, errors)
        else:
            start = m.start(i)
            pos = m.end()
            if i == INT:
                v = int(m[INT])
                if not MIN_INT <= v <= MAX_INT:
                    i, v = int_token(m[INT], start, errors)
            elif i == NAME:
                start -= 1
                v = m[NAME]
                v = name_value(v, start, errors) if b"#" in v else v.decode("latin-1")
            elif i == STR:
                start -= 1
                v = m[STR]
            elif i == REAL:
                v = m[REAL].decode("ascii")
            elif i == HEX:
                start -= 1
                v = hex_value(m[HEX], start, strict, errors)
            else:
                v = m[i]

        if i < DICT_OPEN or i > BRACE_CLOSE:  # a scalar or a keyword
            key_slot = pending_key is None and container.__class__ is dict
            if key_slot:
                if i == NAME:
                    pending_key = v
                    if strict and v in container:
                        errors.append(PdfError("cos.dict_dup_key", start, path=v))
                    continue
                # relaxed: the stray value is consumed, then dropped
                errors.append(
                    PdfError("cos.dict_key_not_name", start, msg=KIND_NAMES[i])
                )
            if i == INT:
                m1 = la or match(data, pos)
                if m1.lastindex == INT:
                    m2 = match(data, m1.end())
                    if m2.lastindex == KW and m2[KW] == b"R":
                        gen = int(m1[INT])
                        if MIN_INT <= gen <= MAX_INT:
                            if v < 0 or gen < 0 or (strict and gen > 65535):
                                errors.append(
                                    PdfError(
                                        "cos.bad_reference", start, msg=f"{v} {gen} R"
                                    )
                                )
                            v = Ref(v, gen)
                            pos = m2.end()
                            m1 = m2 = None
                    la, la2 = m1, m2
                else:
                    la = m1
            elif i == NAME:
                v = Name(v)
            elif i == REAL:
                v = Real(v)
            elif i == KW:
                if v in _KEYWORD_VALUES:
                    v = _KEYWORD_VALUES[v]
                elif key_slot:
                    # foreign keyword while inside a dict: bail out
                    return None, start
                elif container is None:
                    return _UNEXPECTED, start
                else:
                    errors.append(
                        PdfError(
                            "cos.unexpected_keyword", start, msg=v.decode("latin-1")
                        )
                    )
                    # relaxed resync: close all open containers
                    while stack:
                        if isinstance(container, dict) and pending_key is not None:
                            container[pending_key] = None
                        parent, pk = stack.pop()
                        if isinstance(parent, list):
                            parent.append(container)
                        elif isinstance(parent, dict) and pk is not None:
                            parent[pk] = container
                        container, pending_key = parent, pk
                    return container, start
            if key_slot:
                continue
            if container.__class__ is list:
                container.append(v)
            elif container is None:
                return v, pos
            else:
                container[pending_key] = v
                pending_key = None
            continue

        if i == ARRAY_OPEN or i == DICT_OPEN:
            if len(stack) + 1 > max_depth:
                errors.append(PdfError("resource.depth_limit", start))
                pos = _skip_container(data, pos, i, strict, errors)
                value = [] if i == ARRAY_OPEN else {}
            else:
                stack.append((container, pending_key))
                container, pending_key = ([] if i == ARRAY_OPEN else {}), None
                continue
        elif i == ARRAY_CLOSE:
            if container.__class__ is not list:
                errors.append(PdfError("cos.unbalanced_bracket", start))
                continue
            value = container
            container, pending_key = stack.pop()
        elif i == DICT_CLOSE:
            if container.__class__ is not dict:
                errors.append(PdfError("cos.unbalanced_bracket", start))
                continue
            if pending_key is not None:
                errors.append(
                    PdfError("cos.dict_missing_value", start, path=pending_key)
                )
            value = container
            container, pending_key = stack.pop()
        else:  # '{' or '}'
            errors.append(PdfError("cos.unexpected_brace", start))
            continue

        # a finished container (or a depth-limited stand-in) is the value
        if container is None:
            return value, pos
        if container.__class__ is list:
            container.append(value)
        elif pending_key is None:
            # a container value landed in dict KEY position
            # (e.g. << [1 2] /X >>) — keys must be names; drop it
            errors.append(PdfError("cos.dict_key_not_name", start, msg=KIND_NAMES[i]))
        else:
            container[pending_key] = value
            pending_key = None


def _skip_container(data: bytes, pos: int, opener: int, strict, errors) -> int:
    """Consume tokens through the matching closer (depth-limited subtree)."""
    closer = ARRAY_CLOSE if opener == ARRAY_OPEN else DICT_CLOSE
    n = len(data)
    depth = 1
    while depth:
        kind, _, _, pos = next_token(data, pos, n, strict, errors)
        if kind == EOF:
            return pos
        if kind == opener:
            depth += 1
        elif kind == closer:
            depth -= 1
    return pos


def parse_indirect_object(
    data: bytes,
    offset: int,
    errors: list,
    strict: bool = False,
    resolve_length=None,
    expected: tuple[int, int] | None = None,
    max_depth: int = DEFAULT_MAX_DEPTH,
):
    """``N G obj … endobj`` at a byte offset (C8), incl. stream payloads (C9).

    Returns (num, gen, obj_or_Stream, end_offset) or None on hard failure;
    ``end_offset`` is the end of ``endobj`` (or, when it is missing, the
    start of the token found in its place).  ``resolve_length`` resolves an
    indirect /Length (int or None).
    """
    n = len(data)
    head = _header(data, offset, n, strict, errors)
    if head is None:
        errors.append(PdfError("obj.bad_header", offset))
        return None
    num, gen, pos = head
    if expected is not None and (num, gen) != expected:
        errors.append(
            PdfError(
                "xref.obj_mismatch",
                offset,
                obj=expected,
                msg=f"found {num} {gen}",
            )
        )
    body, pos = parse_object(data, pos, errors, strict=strict, max_depth=max_depth)
    if body is _UNEXPECTED:
        errors.append(PdfError("obj.empty_body", pos, obj=(num, gen)))
        body = None

    kind, kw, at, pos = _keyword(data, pos, n, strict, errors)
    if kind == KW and kw == b"stream":
        if not isinstance(body, dict):
            errors.append(PdfError("stream.dict_missing", at, obj=(num, gen)))
            body = {}
        body, end = _read_stream_payload(
            data, at, body, errors, strict, resolve_length, (num, gen)
        )
        kind, kw, at, pos = _keyword(data, end, n, strict, errors)
    if kind == KW and kw == b"endobj":
        return (num, gen, body, pos)
    errors.append(PdfError("obj.missing_endobj", at, obj=(num, gen)))
    return (num, gen, body, at)


def _header(data: bytes, pos: int, n: int, strict: bool, errors: list):
    """``N G obj`` → (N, G, position after ``obj``), or None."""
    match = lexer.TOKEN_RE.match
    m1 = match(data, pos)
    if m1.lastindex == INT:
        m2 = match(data, m1.end())
        if m2.lastindex == INT:
            m3 = match(data, m2.end())
            if m3.lastindex == KW and m3[KW] == b"obj":
                num, gen = int(m1[INT]), int(m2[INT])
                if MIN_INT <= num <= MAX_INT and MIN_INT <= gen <= MAX_INT:
                    return num, gen, m3.end()
    # the general case, with the lex errors of all three tokens
    k1, num, _, pos = next_token(data, pos, n, strict, errors)
    k2, gen, _, pos = next_token(data, pos, n, strict, errors)
    k3, kw, _, pos = next_token(data, pos, n, strict, errors)
    if k1 == INT and k2 == INT and k3 == KW and kw == b"obj":
        return num, gen, pos
    return None


def _keyword(data: bytes, pos: int, n: int, strict: bool, errors: list):
    """``next_token`` with the keyword case (``endobj``/``stream``) inline."""
    m = lexer.TOKEN_RE.match(data, pos)
    if m.lastindex == KW:
        return KW, m[KW], m.start(KW), m.end()
    return next_token(data, pos, n, strict, errors)


def _read_stream_payload(
    data: bytes,
    kw_pos: int,
    sdict: dict,
    errors: list,
    strict: bool,
    resolve_length,
    objkey: tuple[int, int],
) -> tuple[Stream, int]:
    """After the ``stream`` keyword: exactly-/Length bytes, else re-derive by
    searching ``endstream`` (relaxed mode) [PDF17 §7.3.8]."""
    p = kw_pos + len(b"stream")
    if data[p : p + 2] == b"\r\n":
        start = p + 2
    elif data[p : p + 1] == b"\n":
        start = p + 1
    elif data[p : p + 1] == b"\r":
        # lone CR is forbidden after `stream` — tolerate, flag in strict
        if strict:
            errors.append(PdfError("stream.bad_eol", p, obj=objkey))
        start = p + 1
    else:
        errors.append(PdfError("stream.bad_eol", p, obj=objkey))
        start = p

    length = sdict.get("Length")
    if isinstance(length, Ref) and resolve_length is not None:
        length = resolve_length(length)
    if not isinstance(length, int) or length < 0 or start + length > len(data):
        errors.append(PdfError("stream.bad_length", kw_pos, obj=objkey))
        length = None

    if length is not None:
        end = start + length
        # expect EOL? + 'endstream'
        q = end
        if data[q : q + 2] == b"\r\n":
            q += 2
        elif data[q : q + 1] in (b"\n", b"\r"):
            q += 1
        if data[q : q + 9] == b"endstream":
            return Stream(sdict, data[start:end]), q + 9
        errors.append(PdfError("stream.length_mismatch", kw_pos, obj=objkey))

    # relaxed re-derivation: nearest endstream marker
    idx = data.find(b"endstream", start)
    if idx == -1:
        errors.append(PdfError("stream.unterminated", kw_pos, obj=objkey))
        return Stream(sdict, data[start:]), len(data)
    end = idx
    # strip one trailing EOL that belongs to the marker, not the payload
    if data[end - 2 : end] == b"\r\n":
        end -= 2
    elif data[end - 1 : end] in (b"\n", b"\r"):
        end -= 1
    return Stream(sdict, data[start:end]), idx + 9
