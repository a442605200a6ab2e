"""COS tokenizer (SURVEY.md C4/C5; semantics from ISO 32000-1 §7.2–7.3).

Capability parity target: caradoc ``src/parser/lexer.mll`` +
``strictlexer.mll`` and the overflow-checked ints of
``src/data/boundedint.ml`` [P].  Implementation is from scratch: ONE token
regex, ``TOKEN_RE``, whose single C-level match skips white space and
comments and then classifies the next token by its numbered group.  The
object parser and the content-stream machines read those matches
directly (dispatch on ``m.lastindex``, keywords compared as bytes); this
module adds only what a regex cannot do:

* ``slow_token`` — the irregular rest, reached when no group matched:
  literal strings with an escape, a nested paren or a raw EOL inside,
  hex strings with white space or bad digits, a stray ``)`` or ``>``;
* ``int_token`` / ``name_value`` / ``hex_value`` — the value rules with
  their lex errors (int overflow, bad ``#xx`` escape, odd hex length);
* ``next_token`` / ``tokens`` — the same tokenizer as one call per token,
  for the cold callers (xref tables, object-stream headers, CMaps).

Token kinds (the group numbers of ``TOKEN_RE``; ``EOF`` is 0):
    REAL    verbatim lexeme str (PDF reals have no exponent form)
    INT     Python int, |v| < 2^63 (overflow → REAL + lex.int_overflow)
    NAME    decoded name str (after #xx unescape)
    KW      any other regular-character run, as bytes (obj/endobj/R/true/…
            and content-stream operators — the parser interprets)
    DICT_OPEN DICT_CLOSE ARRAY_OPEN ARRAY_CLOSE BRACE_OPEN BRACE_CLOSE
    STR     bytes (literal string, escapes resolved)
    HEX     bytes (hex string, odd length padded with 0)
"""

from __future__ import annotations

import re
from binascii import unhexlify

from caraspark.pdfengine.model import PdfError

WHITESPACE = b"\x00\t\n\x0c\r "

MAX_INT = 2**63 - 1
MIN_INT = -(2**63)

EOF = 0
(
    REAL, INT, NAME, KW,
    DICT_OPEN, DICT_CLOSE, ARRAY_OPEN, ARRAY_CLOSE, BRACE_OPEN, BRACE_CLOSE,
    STR, HEX,
) = range(1, 13)

# the historical kind names; error messages (cos.dict_key_not_name) carry them
KIND_NAMES = (
    "eof", "real", "int", "name", "kw",
    "<<", ">>", "[", "]", "{", "}",
    "str", "hexstr",
)

# Skip any run of white space / comments, then at most one token.  Group
# order matters: REAL before INT (``1.5``), ``<<`` before ``<hex>``, ``>>``
# before a stray ``>``.  No group matches (``lastindex is None``) at EOF and
# on the irregular tokens ``slow_token`` handles.
TOKEN_RE = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*"
    rb"(?:([+-]?(?:\d+\.\d*|\.\d+))"          # 1 REAL
    rb"|([+-]?\d+)"                           # 2 INT
    rb"|/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"   # 3 NAME
    rb"|([^\x00\t\n\x0c\r ()<>\[\]{}/%]+)"    # 4 KW
    rb"|(<<)|(>>)|(\[)|(\])|(\{)|(\})"        # 5-10 delimiters
    rb"|\(([^()\\\r\n]*)\)"                   # 11 STR: no escape/nesting/EOL
    rb"|<([0-9A-Fa-f]*)>"                     # 12 HEX: digits only
    rb")?"
)

_STR_SPECIAL_RE = re.compile(rb"[()\\\r\n]")
_HEX_BODY_RE = re.compile(rb"[0-9A-Fa-f\x00\t\n\x0c\r ]*")
_HEXPAIR_RE = re.compile(rb"[0-9A-Fa-f]{2}")
_NOT_HEX = bytes(c for c in range(256) if c not in b"0123456789abcdefABCDEF")

_ESCAPES = {
    ord("n"): b"\n",
    ord("r"): b"\r",
    ord("t"): b"\t",
    ord("b"): b"\b",
    ord("f"): b"\x0c",
    ord("("): b"(",
    ord(")"): b")",
    ord("\\"): b"\\",
}


def int_token(lexeme: bytes, p: int, errors: list) -> tuple[int, object]:
    """(INT, int) — or, boundedint rule, (REAL, lexeme) plus
    lex.int_overflow when it does not fit 64 bits, so bytes round-trip."""
    v = int(lexeme)
    if MIN_INT <= v <= MAX_INT:
        return INT, v
    errors.append(PdfError("lex.int_overflow", p, msg=lexeme.decode("ascii")))
    return REAL, lexeme.decode("ascii")


def name_value(raw: bytes, p: int, errors: list) -> str:
    """#xx unescape for /Name [PDF17 §7.3.5]; ``p`` is the '/' pos."""
    if b"#" not in raw:
        return raw.decode("latin-1")
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        if raw[i] == 0x23 and i + 2 <= n:  # a final '#' stays literal
            hx = _HEXPAIR_RE.match(raw, i + 1)
            if hx:
                out.append(int(hx.group(), 16))
                i += 3
                continue
            errors.append(PdfError("lex.name_bad_escape", p + 1 + i))
            # relaxed: keep the '#' literally
        out.append(raw[i])
        i += 1
    return out.decode("latin-1")


def hex_value(digits: bytes, p: int, strict: bool, errors: list) -> bytes:
    """Hex digits → bytes; an odd count is padded with '0'."""
    if len(digits) & 1:
        digits += b"0"
        if strict:
            errors.append(PdfError("lex.hexstring_odd", p))
    return unhexlify(digits)


def slow_token(
    data: bytes, p: int, end: int, strict: bool, errors: list
) -> tuple[int, object, int]:
    """The token at ``p`` that ``TOKEN_RE`` left unmatched (``p < end``):
    → (kind, value, resume position)."""
    c = data[p]
    if c == 0x28:  # '('
        return _string(data, p, end, errors)
    if c == 0x3C:  # '<' not followed by '<'
        return _hexstring(data, p, end, strict, errors)
    if c == 0x3E:  # '>' not followed by '>'
        errors.append(PdfError("lex.stray_gt", p))
        return KW, b">", p + 1
    # ')' without '(' — every other byte is matched by TOKEN_RE
    errors.append(PdfError("lex.unbalanced_paren", p))
    return KW, data[p : p + 1], p + 1


def _string(data: bytes, p: int, end: int, errors: list) -> tuple:
    """(literal string) with nesting + escapes [PDF17 §7.3.4.2]."""
    out = bytearray()
    depth = 1
    i = p + 1
    while i < end:
        m = _STR_SPECIAL_RE.search(data, i, end)
        if not m:
            break
        out += data[i : m.start()]
        i = m.start()
        c = data[i]
        if c == 0x28:  # '('
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:  # ')'
            depth -= 1
            if depth == 0:
                return STR, bytes(out), i + 1
            out.append(c)
            i += 1
        elif c in (0x0D, 0x0A):  # raw EOL inside string → \n
            out.append(0x0A)
            i += 2 if data[i : i + 2] == b"\r\n" else 1
        else:  # backslash
            i += 1
            if i >= end:
                break
            e = data[i]
            if e in _ESCAPES:
                out += _ESCAPES[e]
                i += 1
            elif 0x30 <= e <= 0x37:  # \ooo: 1–3 octal digits
                j = i
                while j < min(i + 3, end) and 0x30 <= data[j] <= 0x37:
                    j += 1
                out.append(int(data[i:j], 8) & 0xFF)
                i = j
            elif e in (0x0D, 0x0A):  # line continuation
                i += 2 if data[i : i + 2] == b"\r\n" else 1
            else:  # lone backslash: drop it, keep the char
                out.append(e)
                i += 1
    errors.append(PdfError("lex.unterminated_string", p))
    return STR, bytes(out), end


def _hexstring(data: bytes, p: int, end: int, strict: bool, errors: list) -> tuple:
    """<hex string>: whitespace-tolerant; relaxed past bad characters."""
    m = _HEX_BODY_RE.match(data, p + 1, end)
    q = m.end()
    if q < end and data[q] == 0x3E:  # '>'
        digits = m.group().translate(None, WHITESPACE)
        nxt = q + 1
    else:
        # relaxed: scan to the next '>' dropping everything but hex digits
        gt = data.find(b">", q, end)
        errors.append(PdfError("lex.hexstring_bad_char", q))
        if gt == -1:
            errors.append(PdfError("lex.unterminated_string", p))
            gt, nxt = end, end
        else:
            nxt = gt + 1
        digits = data[p + 1 : gt].translate(None, _NOT_HEX)
    return HEX, hex_value(digits, p, strict, errors), nxt


def next_token(
    data: bytes,
    pos: int,
    end: int,
    strict: bool = False,
    errors: list | None = None,
) -> tuple[int, object, int, int]:
    """One token at or after ``pos`` → (kind, value, start, resume).

    Values: INT int, REAL lexeme str, NAME str, KW bytes, STR/HEX bytes,
    delimiters and EOF None.  Lex errors go to ``errors`` (dropped if
    None)."""
    if errors is None:
        errors = []
    m = TOKEN_RE.match(data, pos, end)
    i = m.lastindex
    if i is None:
        p = m.end()
        if p >= end:
            return EOF, None, p, p
        kind, v, nxt = slow_token(data, p, end, strict, errors)
        return kind, v, p, nxt
    p = m.start(i)
    if i == INT:
        kind, v = int_token(m[INT], p, errors)
        return kind, v, p, m.end()
    if i == REAL:
        return REAL, m[REAL].decode("ascii"), p, m.end()
    if i == NAME:
        return NAME, name_value(m[NAME], p - 1, errors), p - 1, m.end()
    if i == KW:
        return KW, m[KW], p, m.end()
    if i == STR:
        return STR, m[STR], p - 1, m.end()
    if i == HEX:
        return HEX, hex_value(m[HEX], p - 1, strict, errors), p - 1, m.end()
    return i, None, p, m.end()


def tokens(
    data: bytes,
    pos: int = 0,
    end: int | None = None,
    strict: bool = False,
    errors: list | None = None,
):
    """Every token from ``pos`` to ``end``: (kind, value, start, resume)."""
    if end is None:
        end = len(data)
    if errors is None:
        errors = []
    while True:
        tok = next_token(data, pos, end, strict, errors)
        if tok[0] == EOF:
            return
        yield tok
        pos = tok[3]
