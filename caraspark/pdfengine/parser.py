"""COS object parser (SURVEY.md C6–C9; ISO 32000-1 §7.3).

Capability parity: caradoc ``src/parser/parser.mly`` (relaxed grammar),
``strictparser.mly`` (strict variant) and the indirect-object / stream logic
of ``src/parser/fetchimpl.ml`` + ``src/data/pdfstream.ml`` [P].

From-scratch design: a token-buffer stream with k-lookahead (for the
``int int R`` reference form) feeding an **explicit-stack** tree builder —
no Python recursion, so adversarial 10k-deep nesting hits the configurable
depth budget (``resource.depth_limit``) instead of a RecursionError.
"""

from __future__ import annotations

from caraspark.pdfengine.lexer import Lexer
from caraspark.pdfengine.model import Name, PdfError, Real, Ref, Stream

# bounded so downstream recursive consumers (canonical JSON serialization,
# json.dumps) stay far from CPython's recursion limit
DEFAULT_MAX_DEPTH = 256

_UNEXPECTED = object()  # sentinel: value position hit a foreign keyword


class TokenStream:
    __slots__ = ("lx", "buf")

    def __init__(self, lx: Lexer):
        self.lx = lx
        self.buf: list[tuple] = []

    def peek(self, k: int = 0) -> tuple:
        while len(self.buf) <= k:
            self.buf.append(self.lx.next_token())
        return self.buf[k]

    def next(self) -> tuple:
        if self.buf:
            return self.buf.pop(0)
        return self.lx.next_token()

    def push_back(self, tok: tuple) -> None:
        self.buf.insert(0, tok)

    @property
    def pos(self) -> int:
        return self.peek()[2]


def _scalar(ts: TokenStream, tok: tuple, errors: list, strict: bool):
    """Turn one non-container token into a value, handling `int int R`."""
    kind, v, pos = tok
    if kind == "int":
        n1 = ts.peek(0)
        n2 = ts.peek(1)
        if n1[0] == "int" and n2[0] == "kw" and n2[1] == "R":
            ts.next()
            ts.next()
            if v < 0 or n1[1] < 0 or (strict and n1[1] > 65535):
                errors.append(
                    PdfError("cos.bad_reference", pos, msg=f"{v} {n1[1]} R")
                )
            return Ref(v, n1[1])
        return v
    if kind == "real":
        return Real(v)
    if kind == "str" or kind == "hexstr":
        return v
    if kind == "name":
        return Name(v)
    if kind == "kw":
        if v == "true":
            return True
        if v == "false":
            return False
        if v == "null":
            return None
        return _UNEXPECTED
    return _UNEXPECTED


def parse_object(
    ts: TokenStream,
    errors: list,
    strict: bool = False,
    max_depth: int = DEFAULT_MAX_DEPTH,
):
    """Parse one DirectObject; explicit container stack, bounded depth.

    On a foreign keyword in value position the token is pushed back and
    ``_UNEXPECTED`` propagates: the caller (indirect-object / trailer /
    content parser) decides what it means.
    """
    stack: list[tuple] = []  # (container, pending_key | None)
    pending_key: str | None = None
    container = None

    while True:
        tok = ts.next()
        kind, v, pos = tok
        value = None
        have_value = False

        if kind == "eof":
            errors.append(PdfError("cos.eof_in_object", pos))
            value = None
            # unwind: return whatever was built so far
            while stack:
                container, pending_key = stack.pop()
            return container if container is not None else None
        if kind == "[":
            if len(stack) + 1 > max_depth:
                errors.append(PdfError("resource.depth_limit", pos))
                _skip_container(ts, "]")
                value, have_value = [], True
            else:
                stack.append((container, pending_key))
                container, pending_key = [], None
                continue
        elif kind == "<<":
            if len(stack) + 1 > max_depth:
                errors.append(PdfError("resource.depth_limit", pos))
                _skip_container(ts, ">>")
                value, have_value = {}, True
            else:
                stack.append((container, pending_key))
                container, pending_key = {}, None
                continue
        elif kind == "]":
            if isinstance(container, list):
                value = container
                container, pending_key = stack.pop()
                have_value = True
            else:
                errors.append(PdfError("cos.unbalanced_bracket", pos))
                continue
        elif kind == ">>":
            if isinstance(container, dict):
                if pending_key is not None:
                    errors.append(PdfError("cos.dict_missing_value", pos, path=pending_key))
                value = container
                container, pending_key = stack.pop()
                have_value = True
            else:
                errors.append(PdfError("cos.unbalanced_bracket", pos))
                continue
        elif kind in ("{", "}"):
            errors.append(PdfError("cos.unexpected_brace", pos))
            continue
        else:
            if isinstance(container, dict) and pending_key is None:
                # key position: must be a name
                if kind == "name":
                    pending_key = v
                    if strict and v in container:
                        errors.append(PdfError("cos.dict_dup_key", pos, path=v))
                    continue
                errors.append(PdfError("cos.dict_key_not_name", pos, msg=kind))
                # relaxed: consume the stray value and resync
                sv = _scalar(ts, tok, errors, strict)
                if sv is _UNEXPECTED:
                    ts.push_back(tok)
                    # foreign keyword while inside a dict: bail out
                    while stack:
                        container, pending_key = stack.pop()
                    return container
                continue
            value = _scalar(ts, tok, errors, strict)
            if value is _UNEXPECTED:
                ts.push_back(tok)
                if not stack and container is None:
                    return _UNEXPECTED
                errors.append(PdfError("cos.unexpected_keyword", pos, msg=str(v)))
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
                return container
            have_value = True

        if have_value:
            if container is None:
                return value
            if isinstance(container, list):
                container.append(value)
            elif pending_key is None:
                # a container value landed in dict KEY position
                # (e.g. << [1 2] /X >>) — keys must be names; drop it
                errors.append(
                    PdfError("cos.dict_key_not_name", pos, msg=kind)
                )
            else:
                container[pending_key] = value
                pending_key = None


def _skip_container(ts: TokenStream, closer: str) -> None:
    """Consume tokens until the matching closer (depth-limited subtree)."""
    depth = 1
    opener = "[" if closer == "]" else "<<"
    while depth:
        kind, _, _ = ts.next()
        if kind == "eof":
            return
        if kind == opener:
            depth += 1
        elif kind == closer:
            depth -= 1


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

    Returns (num, gen, obj_or_Stream, end_offset) or None on hard failure.
    ``resolve_length`` resolves an indirect /Length (int or None).
    """
    lx = Lexer(data, offset, strict=strict, errors=errors)
    ts = TokenStream(lx)
    t1, t2, t3 = ts.next(), ts.next(), ts.next()
    if not (t1[0] == "int" and t2[0] == "int" and t3[0] == "kw" and t3[1] == "obj"):
        errors.append(PdfError("obj.bad_header", offset))
        return None
    num, gen = t1[1], t2[1]
    if expected is not None and (num, gen) != expected:
        errors.append(
            PdfError(
                "xref.obj_mismatch",
                offset,
                obj=expected,
                msg=f"found {num} {gen}",
            )
        )
    body = parse_object(ts, errors, strict=strict, max_depth=max_depth)
    if body is _UNEXPECTED:
        errors.append(PdfError("obj.empty_body", ts.pos, obj=(num, gen)))
        body = None

    tok = ts.next()
    if tok[0] == "kw" and tok[1] == "stream":
        if not isinstance(body, dict):
            errors.append(PdfError("stream.dict_missing", tok[2], obj=(num, gen)))
            body = body if isinstance(body, dict) else {}
        stream_obj, end = _read_stream_payload(
            data, tok[2], body, errors, strict, resolve_length, (num, gen)
        )
        end2 = _expect_endobj(
            TokenStream(Lexer(data, end, strict=strict, errors=errors)),
            errors,
            (num, gen),
            strict,
        )
        return (num, gen, stream_obj, end2)
    if tok[0] == "kw" and tok[1] == "endobj":
        return (num, gen, body, lx.pos)
    errors.append(PdfError("obj.missing_endobj", tok[2], obj=(num, gen)))
    return (num, gen, body, tok[2])


def _expect_endobj(ts: TokenStream, errors: list, objkey, strict: bool) -> int:
    tok = ts.next()
    if tok[0] == "kw" and tok[1] == "endobj":
        return ts.lx.pos
    errors.append(PdfError("obj.missing_endobj", tok[2], obj=objkey))
    return tok[2]


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
