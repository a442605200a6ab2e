"""Canonical re-serialization — `caradoc cleanup` parity (SURVEY.md C24).

Deterministic normal form: objects renumbered densely in sorted-key order
(references rewritten), dict keys sorted, canonical string/name escaping,
streams stored DECODED with exact /Length (filters dropped), xref streams
and object-stream containers elided (their members become first-class
objects), one classic xref table, canonical trailer.

The anchor property (tested): serialize → parse → serialize is a FIXPOINT —
cleanup(parse(cleanup(parse(x)))) == cleanup(parse(x)).
"""

from __future__ import annotations

from caraspark.pdfengine.model import Name, Real, Ref, Stream

_STR_ESCAPE = {0x28: b"\\(", 0x29: b"\\)", 0x5C: b"\\\\"}
_REGULAR = frozenset(
    b"!\"#$&'*+,-.0123456789:;=?@ABCDEFGHIJKLMNOPQRSTUVWXYZ^_`"
    b"abcdefghijklmnopqrstuvwxyz|~"
)


def ser_string(b: bytes) -> bytes:
    out = bytearray(b"(")
    for c in b:
        if c in _STR_ESCAPE:
            out += _STR_ESCAPE[c]
        elif 0x20 <= c <= 0x7E:
            out.append(c)
        else:
            out += b"\\%03o" % c
    out += b")"
    return bytes(out)


def ser_name(n: str) -> bytes:
    out = bytearray(b"/")
    for c in n.encode("latin-1"):
        if c in _REGULAR:
            out.append(c)
        else:
            out += b"#%02X" % c
    return bytes(out)


def ser_obj(o, renum: dict | None = None) -> bytes:
    if o is None:
        return b"null"
    if o is True:
        return b"true"
    if o is False:
        return b"false"
    if isinstance(o, int):
        return str(o).encode()
    if isinstance(o, Real):
        return o.lexeme.encode()
    if isinstance(o, bytes):
        return ser_string(o)
    if isinstance(o, Name):
        return ser_name(o.v)
    if isinstance(o, Ref):
        num = renum.get((o.num, o.gen), 0) if renum else o.num
        return b"%d 0 R" % num
    if isinstance(o, list):
        return b"[" + b" ".join(ser_obj(x, renum) for x in o) + b"]"
    if isinstance(o, dict):
        parts = []
        for k in sorted(o):
            parts.append(ser_name(k) + b" " + ser_obj(o[k], renum))
        return b"<<" + b" ".join(parts) + b">>"
    raise TypeError(type(o))


_ELIDE_TYPES = (Name("XRef"), Name("ObjStm"))
_STRIP_STREAM_KEYS = {"Filter", "DecodeParms", "DP", "Length"}
_STRIP_TRAILER_KEYS = {"Prev", "XRefStm", "Size"}


def cleanup(doc, reencode: str = "none") -> bytes:
    """Document → canonical bytes (classic xref, dense renumbering).

    ``reencode="none"`` (default) emits decoded stream payloads with a
    recomputed /Length — self-consistent, but larger than caradoc's
    canonical form, which re-compresses stream data. ``reencode="flate"``
    Flate-encodes every stream payload (fixed zlib level 6, so output is
    deterministic and the serialize→parse→serialize fixpoint holds in both
    modes — pinned by tests/test_cleanup.py)."""
    if reencode not in ("none", "flate"):
        raise ValueError(f"unknown reencode mode {reencode!r}")
    keys = []
    for k in sorted(doc.objects):
        o = doc.objects[k]
        d = o.d if isinstance(o, Stream) else o
        if isinstance(d, dict) and d.get("Type") in _ELIDE_TYPES:
            continue
        keys.append(k)
    renum = {k: i + 1 for i, k in enumerate(keys)}

    out = bytearray(b"%PDF-" + (doc.version or "1.4").encode() + b"\n")
    offsets: dict[int, int] = {}
    for k in keys:
        o = doc.objects[k]
        num = renum[k]
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num
        if isinstance(o, Stream):
            payload = o.decoded if o.decoded is not None else o.raw
            d = {
                kk: vv
                for kk, vv in o.d.items()
                if kk not in _STRIP_STREAM_KEYS
            }
            if reencode == "flate":
                import zlib

                payload = zlib.compress(payload, 6)
                d["Filter"] = Name("FlateDecode")
            d["Length"] = len(payload)
            out += ser_obj(d, renum)
            out += b"\nstream\n" + payload + b"\nendstream"
        else:
            out += ser_obj(o, renum)
        out += b"\nendobj\n"

    xref_off = len(out)
    n = len(keys) + 1
    out += b"xref\n0 %d\n" % n
    out += b"0000000000 65535 f \n"
    for num in range(1, n):
        out += b"%010d 00000 n \n" % offsets[num]
    trailer = {
        k: v for k, v in doc.trailer.items() if k not in _STRIP_TRAILER_KEYS
    }
    trailer["Size"] = n
    # the trailer of an xref-stream document carries stream keys — drop them
    for k in ("Type", "W", "Index", "Filter", "DecodeParms", "Length"):
        trailer.pop(k, None)
    out += b"trailer\n" + ser_obj(trailer, renum)
    out += b"\nstartxref\n%d\n%%%%EOF\n" % xref_off
    return bytes(out)


def repair_document(data: bytes) -> bytes:
    """Rebuild a loadable canonical PDF from bytes whose xref is dead —
    the recovery WRITER on top of ``scavenge_objects`` (truncated files,
    smashed startxref, unwalkable chains). When the normal load already
    resolves objects and a trailer, repair IS ``cleanup`` (idempotent on
    healthy files). Otherwise:

    * scavenge every ``N G obj`` header; the LAST parseable body per
      object number wins (file order = incremental-update order, the
      same winner an intact xref chain would pick);
    * streams are decoded where their filter chain holds; an
      undecodable stream keeps its raw bytes verbatim as an opaque
      unfiltered payload (length recomputed) — structure survives, no
      bytes are invented;
    * the trailer is the LAST parseable ``trailer`` dict in the file,
      else synthesized as ``<< /Root <catalog> >>`` from the scavenged
      catalog object. No objects and no catalog → ValueError: the file
      is unrepairable, not silently empty.

    The output is ``cleanup``'s canonical form, so repaired files obey
    the same serialize→parse→serialize fixpoint as cleaned ones."""
    from caraspark.pdfengine.document import (
        Document,
        load_document,
        scavenge_objects,
    )
    from caraspark.pdfengine.filters import decode_stream
    from caraspark.pdfengine.parser import parse_indirect_object, parse_object

    doc = load_document(data)
    if doc.objects and doc.trailers:
        return cleanup(doc)

    latest: dict[int, tuple[int, object]] = {}
    for r in scavenge_objects(data):
        if not r["parse_ok"]:
            continue
        parsed = parse_indirect_object(data, r["offset"], [])
        if parsed is None:
            continue
        num, gen, body, _end = parsed
        latest[num] = (gen, body)  # later offsets overwrite

    objects: dict = {}
    for num, (gen, body) in latest.items():
        if isinstance(body, Stream):
            errs: list = []
            dec = decode_stream(body.raw, body.d, errs)
            if dec is None:
                # keep the bytes, drop the now-unsatisfiable filter chain
                body.d = {
                    k: v
                    for k, v in body.d.items()
                    if k not in ("Filter", "DecodeParms", "DP")
                }
                body.decoded = body.raw
            else:
                body.decoded = dec
        objects[(num, gen)] = body

    trailer = None
    pos = 0
    while True:
        i = data.find(b"trailer", pos)
        if i == -1:
            break
        pos = i + 7
        t, _ = parse_object(data, i + 7, [])
        if isinstance(t, dict):
            trailer = t
    if trailer is not None:
        trailer = {
            k: v for k, v in trailer.items() if k not in ("Prev", "XRefStm")
        }
        root = trailer.get("Root")
        if isinstance(root, Ref) and (root.num, root.gen) not in objects:
            trailer = None  # points at an object recovery never saw
    if trailer is None:
        cat = None
        for (num, gen), body in objects.items():
            d = body.d if isinstance(body, Stream) else body
            if (
                isinstance(d, dict)
                and getattr(d.get("Type"), "v", None) == "Catalog"
            ):
                cat = (num, gen)
        if cat is None:
            raise ValueError(
                "unrepairable: no scavengeable objects or no catalog"
            )
        trailer = {"Root": Ref(*cat)}

    fixed = Document()
    fixed.version = doc.version
    fixed.objects = objects
    fixed.trailers = [trailer]
    return cleanup(fixed)
