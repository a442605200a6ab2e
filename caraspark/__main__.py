"""Single-file CLI mirroring caradoc's command surface (SURVEY.md §3.1).

Caradoc is a CLI (`ref:src/main.ml` dispatch [P]: stats | xref | trailer |
object | types | cleanup | findref | extract); a user of the reference can
run the same commands here, backed by the same per-document engine the
Spark pipeline maps over — no Spark session needed for one file.

    python -m caraspark stats    file.pdf
    python -m caraspark types    file.pdf
    python -m caraspark xref     file.pdf
    python -m caraspark trailer  file.pdf
    python -m caraspark object   file.pdf --num 3 [--gen 0] [--decode]
    python -m caraspark findref  file.pdf --num 3 [--gen 0]
    python -m caraspark scavenge file.pdf
    python -m caraspark extract  file.pdf [--out text.txt]
    python -m caraspark cleanup  file.pdf --out clean.pdf
    python -m caraspark repair   file.pdf --out repaired.pdf

Exit code 0 = valid, 1 = invalid (caradoc's convention), 2 = usage error.
"""

from __future__ import annotations

import argparse
import json
import sys

from caraspark.pdfengine import process_document
from caraspark.pdfengine.cleanup import cleanup
from caraspark.pdfengine.document import load_document
from caraspark.pdfengine.model import Stream, canonical_json


def _load(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def cmd_stats(args) -> int:
    r = process_document(_load(args.file))
    out = {
        "kind": r.kind,
        "version": r.version,
        "valid": r.valid,
        "strict": r.strict,
        "encrypted": r.encrypted,
        "hybrid": r.hybrid,
        "linearized": r.linearized,
        "n_objects": r.n_objects,
        "n_updates": r.n_updates,
        "n_streams": r.n_streams,
        "n_holes": r.n_holes,
        "bytes_in": r.bytes_in,
        "bytes_decoded": r.bytes_decoded,
        "text_bytes": len(r.text),
        "errors_by_code": _counts(r),
    }
    json.dump(out, sys.stdout, indent=1)
    print()
    return 0 if r.valid else 1


def _counts(r) -> dict:
    counts: dict[str, int] = {}
    for e in r.errors:
        counts[e.code] = counts.get(e.code, 0) + 1
    return dict(sorted(counts.items()))


def cmd_types(args) -> int:
    r = process_document(_load(args.file))
    for key, tname in r.type_assignments.items():
        print(f"{key}\t{tname}")
    for e in r.errors_as_rows():
        if e["code"].startswith("type."):
            print(f"# {e['code']} at {e['path']}: {e['msg']}", file=sys.stderr)
    return 0 if r.valid else 1


def cmd_xref(args) -> int:
    doc = load_document(_load(args.file))
    for num in sorted(doc.xref_table):
        e = doc.xref_table[num]
        if e.kind == "inuse":
            loc = f"offset={e.offset}"
        elif e.kind == "compressed":
            loc = f"objstm={e.objstm} idx={e.idx}"
        else:
            loc = "free"
        print(f"{e.num} {e.gen} {e.kind} {loc} update={e.update_idx}")
    return 0


def cmd_trailer(args) -> int:
    doc = load_document(_load(args.file))
    for i, t in enumerate(doc.trailers):
        print(f"# trailer {i} (0 = newest)")
        print(canonical_json(t))
    return 0


def cmd_object(args) -> int:
    doc = load_document(_load(args.file))
    obj = doc.objects.get((args.num, args.gen))
    if obj is None:
        print(f"object {args.num} {args.gen} not found", file=sys.stderr)
        return 1
    if isinstance(obj, Stream):
        print(canonical_json(obj.d))
        if args.decode and obj.decoded is not None:
            sys.stdout.flush()
            sys.stdout.buffer.write(obj.decoded)
        else:
            print(f"# stream: {len(obj.raw)} raw bytes"
                  + ("" if obj.decoded is None
                     else f", {len(obj.decoded)} decoded"))
    else:
        print(canonical_json(obj))
    return 0


def cmd_findref(args) -> int:
    doc = load_document(_load(args.file))
    target = (args.num, args.gen)
    hits = sorted(
        {src for src, dsts in doc.links.items() if target in dsts and src}
    )
    for num, gen in hits:
        print(f"{num} {gen}")
    return 0


def cmd_extract(args) -> int:
    r = process_document(_load(args.file))
    if args.out:
        with open(args.out, "wb") as f:
            f.write(r.text)
    else:
        sys.stdout.buffer.write(r.text)
    return 0 if r.valid else 1


def cmd_cleanup(args) -> int:
    doc = load_document(_load(args.file))
    out = cleanup(doc)
    with open(args.out, "wb") as f:
        f.write(out)
    print(f"wrote {len(out)} bytes to {args.out}", file=sys.stderr)
    return 0


def cmd_scavenge(args) -> int:
    """Xref-free recovery scan: every `N G obj` header found in the raw
    bytes, its parse verdict, and whether the live xref owns it."""
    from caraspark.pdfengine.document import scavenge_objects

    data = _load(args.file)
    doc = load_document(data)
    inuse = {
        (n, e.offset)
        for n, e in doc.xref_table.items()
        if e.kind == "inuse"
    }
    rows = scavenge_objects(data)
    for r in rows:
        owned = (r["num"], r["offset"]) in inuse
        print(
            f"{r['num']} {r['gen']} @{r['offset']}\t"
            f"{r['kind'] or '?'}\t"
            f"{'ok' if r['parse_ok'] else 'parse-fail'}\t"
            f"{'xref' if owned else 'shadow'}"
        )
    n_shadow = sum(
        1 for r in rows if (r["num"], r["offset"]) not in inuse
    )
    print(
        f"{len(rows)} headers, {n_shadow} shadow, "
        f"{len(inuse)} xref-owned",
        file=sys.stderr,
    )
    return 0 if rows else 1


def cmd_repair(args) -> int:
    from caraspark.pdfengine.cleanup import repair_document

    data = _load(args.file)
    try:
        out = repair_document(data)
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 1
    with open(args.out, "wb") as f:
        f.write(out)
    print(f"wrote {len(out)} bytes to {args.out}", file=sys.stderr)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="caraspark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    def add(name, fn, **extra):
        p = sub.add_parser(name)
        p.add_argument("file")
        for flag, kw in extra.items():
            p.add_argument("--" + flag, **kw)
        p.set_defaults(fn=fn)
        return p

    add("stats", cmd_stats)
    add("types", cmd_types)
    add("xref", cmd_xref)
    add("trailer", cmd_trailer)
    add(
        "object",
        cmd_object,
        num={"type": int, "required": True},
        gen={"type": int, "default": 0},
        decode={"action": "store_true"},
    )
    add(
        "findref",
        cmd_findref,
        num={"type": int, "required": True},
        gen={"type": int, "default": 0},
    )
    add("scavenge", cmd_scavenge)
    add("extract", cmd_extract, out={"default": None})
    add("cleanup", cmd_cleanup, out={"required": True})
    add("repair", cmd_repair, out={"required": True})

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
