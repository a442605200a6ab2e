"""COS lexer (SURVEY.md C4/C5; semantics from ISO 32000-1 §7.2–7.3).

Capability parity target: caradoc ``src/parser/lexer.mll`` +
``strictlexer.mll`` and the overflow-checked ints of
``src/data/boundedint.ml`` [P].  Implementation is from scratch: a
position-tracked incremental tokenizer over a bytes buffer, regex-driven for
the hot token classes (regex scanning runs in C), byte-at-a-time only inside
literal strings.

Token = (kind, value, pos) with kinds:
    'int'     Python int, |v| < 2^63 (overflow → 'real' token + lex.int_overflow)
    'real'    verbatim lexeme str (PDF reals have no exponent form)
    'name'    decoded name str (after #xx unescape)
    'str'     bytes (literal string, escapes resolved)
    'hexstr'  bytes (hex string, odd length padded with 0)
    '[' ']' '<<' '>>' '{' '}'   structural delimiters
    'kw'      any other regular-character run (obj/endobj/R/true/… and
              content-stream operators — the parser interprets)
    'eof'
"""

from __future__ import annotations

import re

from caraspark.pdfengine.model import PdfError

WHITESPACE = b"\x00\t\n\x0c\r "

MAX_INT = 2**63 - 1

# one C-level match per token for the hot classes: skips any run of
# whitespace/comments, then classifies number | /name | keyword; the
# remaining classes (strings, hex, delimiters) fall through to the
# byte-dispatch below.
_MASTER_RE = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*"
    rb"(?:(?P<num>[+-]?(?:\d+\.\d*|\.\d+|\d+))"
    rb"|/(?P<name>[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|(?P<kw>[^\x00\t\n\x0c\r ()<>\[\]{}/%]+)"
    rb")?"
)
_STR_SPECIAL_RE = re.compile(rb"[()\\\r\n]")
_HEX_BODY_RE = re.compile(rb"[0-9A-Fa-f\x00\t\n\x0c\r ]*")
_HEXPAIR_RE = re.compile(rb"[0-9A-Fa-f]{2}")

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


class Lexer:
    """Incremental tokenizer; errors accumulate in ``self.errors``."""

    __slots__ = ("data", "pos", "end", "strict", "errors")

    def __init__(
        self,
        data: bytes,
        pos: int = 0,
        end: int | None = None,
        strict: bool = False,
        errors: list[PdfError] | None = None,
    ):
        self.data = data
        self.pos = pos
        self.end = len(data) if end is None else end
        self.strict = strict
        self.errors = errors if errors is not None else []

    def _err(self, code: str, pos: int, msg: str = "") -> None:
        self.errors.append(PdfError(code=code, pos=pos, msg=msg))

    def next_token(self) -> tuple:
        data, end = self.data, self.end
        m = _MASTER_RE.match(data, self.pos, end)
        kind = m.lastgroup
        if kind is not None:
            self.pos = m.end()
            if kind == "num":
                p = m.start("num")
                lex = m.group("num")
                if b"." in lex:
                    return ("real", lex.decode("ascii"), p)
                v = int(lex)
                if -MAX_INT - 1 <= v <= MAX_INT:
                    return ("int", v, p)
                # boundedint rule: overflowing ints are a lex error; the
                # verbatim lexeme survives as a real so bytes round-trip.
                self._err("lex.int_overflow", p, lex.decode("ascii"))
                return ("real", lex.decode("ascii"), p)
            if kind == "name":
                p = m.start("name") - 1  # token starts at the '/'
                raw = m.group("name")
                if b"#" not in raw:
                    return ("name", raw.decode("latin-1"), p)
                return ("name", self._unescape_name(raw, p), p)
            # kind == 'kw'
            p = m.start("kw")
            return ("kw", m.group("kw").decode("latin-1"), p)

        # skip consumed; remaining classes dispatch on the next byte
        self.pos = p = m.end()
        if p >= end:
            return ("eof", None, p)
        c = data[p]
        if c == 0x28:  # '('
            return self._lex_string(p)
        if c == 0x3C:  # '<'
            if p + 1 < end and data[p + 1] == 0x3C:
                self.pos = p + 2
                return ("<<", None, p)
            return self._lex_hexstring(p)
        if c == 0x3E:  # '>'
            if p + 1 < end and data[p + 1] == 0x3E:
                self.pos = p + 2
                return (">>", None, p)
            self._err("lex.stray_gt", p)
            self.pos = p + 1
            return ("kw", ">", p)
        if c == 0x5B:
            self.pos = p + 1
            return ("[", None, p)
        if c == 0x5D:
            self.pos = p + 1
            return ("]", None, p)
        if c == 0x7B:
            self.pos = p + 1
            return ("{", None, p)
        if c == 0x7D:
            self.pos = p + 1
            return ("}", None, p)
        if c == 0x29:  # ')' without '('
            self._err("lex.unbalanced_paren", p)
            self.pos = p + 1
            return ("kw", ")", p)

        # unreachable: every byte is either matched by the master regex
        # (regular/ws/comment/name) or one of the delimiters above
        self.pos = p + 1
        return ("kw", chr(c), p)

    def _unescape_name(self, raw: bytes, p: int) -> str:
        """#xx unescape for /Name [PDF17 §7.3.5]; ``p`` is the '/' pos."""
        out = bytearray()
        i, n = 0, len(raw)
        while i < n:
            if raw[i] == 0x23 and i + 2 < n + 1:
                hx = _HEXPAIR_RE.match(raw, i + 1)
                if hx:
                    out.append(int(hx.group(), 16))
                    i += 3
                    continue
                self._err("lex.name_bad_escape", p + 1 + i)
                # relaxed: keep the '#' literally
            out.append(raw[i])
            i += 1
        return out.decode("latin-1")

    def _lex_string(self, p: int) -> tuple:
        """(literal string) with nesting + escapes [PDF17 §7.3.4.2]."""
        data, end = self.data, self.end
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
                    self.pos = i + 1
                    return ("str", bytes(out), p)
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
        self._err("lex.unterminated_string", p)
        self.pos = end
        return ("str", bytes(out), p)

    def _lex_hexstring(self, p: int) -> tuple:
        """<hex string>: whitespace-tolerant, odd length → pad '0'."""
        data, end = self.data, self.end
        m = _HEX_BODY_RE.match(data, p + 1, end)
        body = m.group()
        q = m.end()
        if q < end and data[q] == 0x3E:  # '>'
            self.pos = q + 1
        else:
            # relaxed: scan to the next '>' skipping invalid chars
            nxt = data.find(b">", q, end)
            self._err("lex.hexstring_bad_char", q)
            if nxt == -1:
                self._err("lex.unterminated_string", p)
                self.pos = end
                body = bytes(ch for ch in data[p + 1 : end] if ch in b"0123456789abcdefABCDEF")
            else:
                self.pos = nxt + 1
                body = bytes(
                    ch for ch in data[p + 1 : nxt] if ch in b"0123456789abcdefABCDEF"
                )
        hexdigits = bytes(ch for ch in body if ch not in WHITESPACE)
        if len(hexdigits) % 2:
            hexdigits += b"0"
            if self.strict:
                self._err("lex.hexstring_odd", p)
        return ("hexstr", bytes.fromhex(hexdigits.decode("ascii")), p)
