"""Structure pin and totality over token-boundary mutations of every recipe.

Each of the 60 ``synth.PDF_RECIPES`` documents yields a fixed set of
mutants, cut at token boundaries (``lexer.tokens``): a token dropped,
duplicated, swapped with the next one or replaced by a keyword in value
position, the file truncated at a token, and a ``/Length``, ``/Prev``,
``/Count`` or ``/Kids`` target corrupted. A replacement no longer than
what it replaces is space-padded, so byte offsets hold and the mutant
still reaches the structure checks. Every mutant goes through
``process_document`` strict and relaxed, with ``want=()`` and
``want=None``:

* nothing may raise (the engine is total on adversarial input);
* the structure checks' outputs — ``type_assignments`` and the
  ``type.*``/``graph.*``/``tree.*`` errors as (code, obj, path, msg), in
  order — hash to a pinned digest. Lexing and hole-map codes are left
  out, so a fix there does not move the pin; the type checker and the
  reference graph must give exactly what they gave before.
"""

from __future__ import annotations

import hashlib
import json
import random
import re

from caraspark import synth
from caraspark.pdfengine import process_document
from caraspark.pdfengine.lexer import INT, tokens

MUTANTS_PER_RECIPE = 80
_KEYWORDS = (b"endobj", b"obj", b"R", b"stream", b"endstream", b"trailer", b"xref")
_JUNK_VALUES = (b"0", b"-1", b"99999999", b"7 0 R", b"/X", b"(s)", b"[]", b"<<>>")
_CORRUPTED = (b"/Length", b"/Prev", b"/Count", b"/Kids")

# sha256 over the lines of ``_records()``: the structure checks' outputs on
# every mutant, as the interpreted checker and path-string graph pass that
# the compiled ones replaced gave them
_STRUCTURE_SHA256 = "61df02ccac5ba82e21d4b2bba151c6357026180c16b8099363d0ed37a825a355"


def _put(blob: bytes, s: int, e: int, new: bytes) -> bytes:
    """``blob[s:e]`` replaced by ``new``, space-padded to keep every byte
    offset (so the xref still finds the objects) when it is not longer."""
    return blob[:s] + new.ljust(e - s) + blob[e:]


def _corrupt(blob: bytes, rng: random.Random) -> bytes:
    """Replace the value after one /Length, /Prev or /Count with junk, or
    point one /Kids entry at another object number."""
    key = rng.choice([k for k in _CORRUPTED if k in blob] or [b""])
    if not key:
        return blob
    pos = rng.choice([m.end() for m in re.finditer(re.escape(key), blob)])
    toks = list(tokens(blob, pos, min(len(blob), pos + 64)))
    if key == b"/Kids":
        # the first integer after "[" is a kid's object number
        ints = [t for t in toks if t[0] == INT]
        if not ints:
            return blob
        _, _, s, e = ints[0]
        return _put(blob, s, e, b"%d" % rng.choice((0, 1, 2, 999)))
    if not toks:
        return blob
    _, _, s, e = toks[0]
    return _put(blob, s, e, rng.choice(_JUNK_VALUES))


def _mutants(name: str, blob: bytes):
    rng = random.Random(f"structure-pin/{name}")
    spans, in_table = [], False  # tokens outside classic xref tables
    for _, v, s, e in tokens(blob):
        if v in (b"xref", b"trailer"):
            in_table = v == b"xref"
        elif not in_table:
            spans.append((s, e))
    for _ in range(MUTANTS_PER_RECIPE):
        op = rng.choice(("drop", "dup", "swap", "keyword", "truncate", "corrupt"))
        i = rng.randrange(len(spans) - 1)
        (s, e), (s2, e2) = spans[i], spans[i + 1]
        if op == "drop":
            yield _put(blob, s, e, b"")
        elif op == "dup":  # the token again, in its successor's place
            yield _put(blob, s2, e2, blob[s:e])
        elif op == "swap":
            yield blob[:s] + blob[s2:e2] + blob[e:s2] + blob[s:e] + blob[e2:]
        elif op == "keyword":
            yield _put(blob, s, e, rng.choice(_KEYWORDS))
        elif op == "truncate":
            yield blob[:s]
        else:
            yield _corrupt(blob, rng)


def _records():
    """One JSON line per (mutant, strict, want); raises on the first
    mutant ``process_document`` raises on, naming it."""
    for name in sorted(synth.PDF_RECIPES):
        for k, blob in enumerate(_mutants(name, synth.PDF_RECIPES[name]())):
            for strict in (True, False):
                for want in ((), None):
                    try:
                        r = process_document(blob, strict=strict, want=want)
                    except Exception as exc:
                        raise AssertionError(
                            f"{name} mutant {k} (strict={strict}, want={want}) "
                            f"raised {exc!r}"
                        ) from exc
                    structure = [
                        (e.code, e.obj, e.path, e.msg)
                        for e in r.errors
                        if e.code.startswith(("type.", "graph.", "tree."))
                    ]
                    yield json.dumps(
                        [name, k, strict, want is None, r.type_assignments, structure],
                        sort_keys=True,
                    )


def _digest() -> tuple[int, str]:
    h, n = hashlib.sha256(), 0
    for line in _records():
        h.update(line.encode() + b"\n")
        n += 1
    return n, h.hexdigest()


def test_structure_checks_are_total_and_pinned_over_mutations():
    n, digest = _digest()
    assert n == len(synth.PDF_RECIPES) * MUTANTS_PER_RECIPE * 4
    assert digest == _STRUCTURE_SHA256
