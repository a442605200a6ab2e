"""Document assembly: object fetch, object-stream explode, byte-interval
map, reference graph + checks (SURVEY.md C8, C17, C19–C21).

Capability parity: caradoc ``src/parser/fetchimpl.ml`` / ``fetchcomp.ml``
(object resolution incl. compressed objects), ``src/parser/intervals.ml``
(byte-coverage holes/overlaps) and the fetch recursion guards of
``fetchcommon.ml`` [P]. All per-document, allocation-bounded, throw-free:
every anomaly lands in the error taxonomy instead of an exception.

What later passes look for in the objects is noted once, as each object is
stored (``_store``): the streams, and the structural objects the xref
machinery reaches (/Type /XRef or /ObjStm, or a /Linearized dict) — the
linearization probe, the reachability frontier and the type checker's
seeding read that, not the whole table.

The reference graph (``_build_graph``) keeps edges as path-free pairs,
``Document.links`` (source → referenced keys, the trailer as source None),
collected without sorting dict keys. A reference's path is rendered only
where it is read: for a ``graph.dangling_ref``/``graph.gen_mismatch``
error, by walking just the object holding it again in sorted-key order,
and in ``Document.edges``, which renders (src, dst, path) on demand for
the ``pdf_edges`` side table. Byte-interval owners are object keys until
an overlap message names one.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from operator import itemgetter

from caraspark.pdfengine.filters import decode_stream
from caraspark.pdfengine.lexer import INT, next_token
from caraspark.pdfengine.model import Name, PdfError, Ref, Stream
from caraspark.pdfengine.parser import _UNEXPECTED, parse_indirect_object, parse_object
from caraspark.pdfengine.textextract import _page_order
from caraspark.pdfengine.xref import (
    XrefEntry,
    check_header,
    locate_startxref,
    walk_xref_chain,
)

MAX_OBJECTS = 100_000


@dataclass(slots=True)
class Document:
    version: str | None = None
    objects: dict = field(default_factory=dict)  # (num,gen) → DirectObject|Stream
    xref_table: dict = field(default_factory=dict)  # num → XrefEntry
    trailers: list = field(default_factory=list)  # newest first
    errors: list = field(default_factory=list)
    # (lo, hi, owner): owner is a label ("header", "xref", "eof") or the
    # (num, gen) of an object, rendered "obj:num.gen" only by a message
    intervals: list = field(default_factory=list)
    # src (num,gen) | None (the trailer) → [dst (num,gen), …], one per Ref
    links: dict = field(default_factory=dict)
    # noted once, when an object is stored (``_store``): the objects the
    # xref machinery reaches, not the graph, by what marks them ("XRef",
    # "ObjStm" for their /Type, else "Linearized"), and the streams in
    # object order
    structural: dict = field(default_factory=dict)  # (num,gen) → mark
    streams: dict = field(default_factory=dict)  # (num,gen) → Stream
    n_updates: int = 0
    hybrid: bool = False
    linearized: bool = False
    encrypted: bool = False
    n_holes: int = 0
    hole_bytes: int = 0

    @property
    def trailer(self) -> dict:
        return self.trailers[0] if self.trailers else {}

    @property
    def edges(self) -> list:
        """(src (num,gen) | None, dst, path) for every reference: objects in
        table order, then the trailer; within one, sorted-key DFS order.
        The paths are rendered here, on demand — ``links`` holds the
        pairs."""
        out = []
        for key, obj in self.objects.items():
            for path, ref in _walk_refs(obj.d if obj.__class__ is Stream else obj, ""):
                out.append((key, (ref.num, ref.gen), path))
        for path, ref in _walk_refs(self.trailer, "trailer"):
            out.append((None, (ref.num, ref.gen), path))
        return out


def load_document(
    data: bytes,
    strict: bool = False,
    max_objects: int = MAX_OBJECTS,
    time_budget_s: float | None = None,
) -> Document:
    """``time_budget_s`` is the straggler guard (SURVEY.md §4.3): an
    adversarial document degrades to a ``resource.time_limit`` verdict
    instead of a hung executor task. Checked at object granularity."""
    import time as _time

    deadline = _time.monotonic() + time_budget_s if time_budget_s else None
    doc = Document()
    errors = doc.errors

    def over_budget() -> bool:
        if deadline is not None and _time.monotonic() > deadline:
            errors.append(PdfError("resource.time_limit"))
            return True
        return False

    version, hdr_off = check_header(data, errors, strict)
    doc.version = version
    # claim the header line (and any leading junk — it is reported as
    # file.junk_before_header already, not double-counted as a hole), plus
    # the conventional binary-marker comment line that may follow
    hdr_end = data.find(b"\n", hdr_off)
    hdr_end = hdr_off + 8 if hdr_end == -1 else hdr_end + 1
    if data[hdr_end : hdr_end + 1] == b"%":
        nl = data.find(b"\n", hdr_end)
        if nl != -1:
            hdr_end = nl + 1
    doc.intervals.append((0, hdr_end, "header"))

    start = locate_startxref(data, errors)
    if start is None:
        return doc
    table, trailers, hybrid = walk_xref_chain(
        data, start, errors, strict, intervals=doc.intervals
    )
    doc.xref_table = table
    doc.trailers = trailers
    doc.hybrid = hybrid
    doc.n_updates = len(trailers)
    if trailers and "Encrypt" in trailers[0]:
        doc.encrypted = True

    # --- resolve /Length indirections without recursing through the world:
    # a Length target is a bare integer object, parsed on demand, memoized.
    _len_memo: dict[int, int | None] = {}

    def resolve_length(ref: Ref) -> int | None:
        if ref.num in _len_memo:
            return _len_memo[ref.num]
        e = table.get(ref.num)
        v = None
        if e is not None and e.kind == "inuse" and 0 <= e.offset < len(data):
            r = parse_indirect_object(data, e.offset, [], strict=False)
            if r is not None and isinstance(r[2], int):
                v = r[2]
        _len_memo[ref.num] = v
        return v

    # --- fetch every in-use object (C8)
    inuse = [e for e in table.values() if e.kind == "inuse"]
    if len(inuse) > max_objects:
        errors.append(PdfError("resource.too_many_objects", msg=str(len(inuse))))
        inuse = inuse[:max_objects]
    for e in sorted(inuse, key=lambda x: x.offset):
        if over_budget():
            break
        if not (0 <= e.offset < len(data)):
            errors.append(
                PdfError("xref.bad_offset", pos=e.offset, obj=(e.num, e.gen))
            )
            continue
        r = parse_indirect_object(
            data,
            e.offset,
            errors,
            strict=strict,
            resolve_length=resolve_length,
            expected=(e.num, e.gen),
        )
        if r is None:
            errors.append(
                PdfError("xref.bad_offset", pos=e.offset, obj=(e.num, e.gen))
            )
            continue
        num, gen, obj, end = r
        _store(doc, (e.num, e.gen), obj)
        doc.intervals.append((e.offset, end, (e.num, e.gen)))

    # --- decrypt (C18) before object-stream explode and filter decode:
    # objstm payloads are encrypted as streams; their embedded objects are
    # not re-encrypted individually [PDF17 §7.6.2]
    if doc.encrypted:
        from caraspark.pdfengine.crypto import decrypt_document

        decrypt_document(doc, errors)

    # --- explode object streams (C17) [PDF17 §7.5.7]
    comp = [e for e in table.values() if e.kind == "compressed"]
    by_container: dict[int, list[XrefEntry]] = {}
    for e in comp:
        by_container.setdefault(e.objstm, []).append(e)
    for stm_num, members in sorted(by_container.items()):
        if over_budget():
            break
        _explode_objstm(doc, data, stm_num, members, errors, strict)

    # --- decode remaining stream payloads (C13–C16)
    def stream_resolver(ref: Ref):
        return doc.objects.get((ref.num, ref.gen))

    for key, obj in doc.streams.items():
        if obj.decoded is None:
            obj.decoded = decode_stream(
                obj.raw, obj.d, errors, objkey=key, resolver=stream_resolver
            )

    # --- linearization flag: first object carrying /Linearized
    lin = [k for k in doc.structural if "Linearized" in _resolve(doc, Ref(*k))]
    if lin:
        doc.linearized = True
        key = min(lin)
        _linearization_check(doc, key, _resolve(doc, Ref(*key)), data, errors)

    _interval_check(doc, data, errors)
    _build_graph(doc, errors)
    return doc


def _store(doc: Document, key: tuple, obj) -> None:
    """Put an object in the table and note once what later passes look
    for: whether it is a stream, and whether it is structural (/Type /XRef
    or /ObjStm, else a /Linearized dict)."""
    if key in doc.objects:  # an object stream restating a fetched object
        doc.structural.pop(key, None)
        doc.streams.pop(key, None)
    doc.objects[key] = obj
    body = obj
    if obj.__class__ is Stream:
        doc.streams[key] = obj
        body = obj.d
    if body.__class__ is dict:
        t = body.get("Type")
        if t.__class__ is Name and t.v in ("XRef", "ObjStm"):
            doc.structural[key] = t.v
        elif "Linearized" in body:
            doc.structural[key] = "Linearized"


def _linearization_check(doc, lin_key, lin, data, errors) -> None:
    """Cross-check the linearization parameter dict against the actual
    file [PDF17 Annex F]: /L is the exact file length; /O names a page
    object; /N matches the page count; /E and /T are in-bounds offsets;
    /H is a 2- or 4-int hint array; and the parameter dict is physically
    first. None of these is FATAL (viewers ignore broken hints), but each
    inconsistency breaks ``strict`` like any other validation error."""
    n = len(data)
    length = lin.get("L")
    if not (isinstance(length, int) and not isinstance(length, bool)
            and length == n):
        errors.append(PdfError(
            "linear.bad_length", obj=lin_key, msg=f"/L {length!r} != {n}"
        ))
    for k in ("E", "T"):
        v = lin.get(k)
        if not (isinstance(v, int) and not isinstance(v, bool)
                and 0 < v <= n):
            errors.append(PdfError(
                "linear.bad_offset", obj=lin_key, path=f"/{k}", msg=repr(v)
            ))
    page_nums = set()
    for key in doc.objects:
        o = doc.objects[key]
        d = o.d if isinstance(o, Stream) else o
        if isinstance(d, dict):
            t = d.get("Type")
            if getattr(t, "v", None) == "Page":
                page_nums.add(key[0])
    first = lin.get("O")
    if not (isinstance(first, int) and not isinstance(first, bool)
            and first in page_nums):
        errors.append(PdfError(
            "linear.bad_first_page", obj=lin_key, msg=f"/O {first!r}"
        ))
    n_pages = lin.get("N")
    if not (isinstance(n_pages, int) and not isinstance(n_pages, bool)
            and n_pages == len(page_nums)):
        errors.append(PdfError(
            "linear.bad_page_count", obj=lin_key,
            msg=f"/N {n_pages!r} != {len(page_nums)}",
        ))
    hints = lin.get("H")
    if not (
        isinstance(hints, list)
        and len(hints) in (2, 4)
        and all(
            isinstance(h, int) and not isinstance(h, bool) and 0 <= h
            for h in hints
        )
    ):
        errors.append(PdfError("linear.bad_hints", obj=lin_key))
    # physical position: the parameter dict must be the first object
    offs = {
        (e.num, e.gen): e.offset
        for e in doc.xref_table.values()
        if e.kind == "inuse" and e.offset >= 0
    }
    lin_off = offs.get(lin_key)
    if lin_off is not None and any(
        o < lin_off for k, o in offs.items() if k != lin_key
    ):
        errors.append(PdfError("linear.not_first", obj=lin_key, pos=lin_off))


def _explode_objstm(
    doc: Document,
    data: bytes,
    stm_num: int,
    members: list[XrefEntry],
    errors: list,
    strict: bool,
) -> None:
    container = doc.objects.get((stm_num, 0))
    if not isinstance(container, Stream):
        errors.append(PdfError("objstm.missing_container", obj=(stm_num, 0)))
        return
    d = container.d
    if d.get("Type") != Name("ObjStm"):
        errors.append(PdfError("objstm.bad_type", obj=(stm_num, 0)))
    payload = container.decoded
    if payload is None:
        payload = decode_stream(container.raw, d, errors, objkey=(stm_num, 0))
        container.decoded = payload
    if payload is None:
        return
    n, first = d.get("N"), d.get("First")
    if not isinstance(n, int) or not isinstance(first, int) or n < 0 or first < 0:
        errors.append(PdfError("objstm.bad_header", obj=(stm_num, 0)))
        return

    # header: N pairs of "objnum offset" relative to /First
    hdr_end = min(first, len(payload))
    pos = 0
    pairs: list[tuple[int, int]] = []
    for _ in range(n):
        k1, onum, _, pos = next_token(payload, pos, hdr_end, errors=errors)
        k2, ooff, _, pos = next_token(payload, pos, hdr_end, errors=errors)
        if k1 != INT or k2 != INT:
            errors.append(PdfError("objstm.bad_pair", obj=(stm_num, 0)))
            break
        pairs.append((onum, ooff))

    wanted = {e.num: e for e in members}
    for i, (onum, ooff) in enumerate(pairs):
        at = first + ooff
        if at >= len(payload):
            errors.append(PdfError("objstm.bad_offset", obj=(onum, 0)))
            continue
        errs: list = []
        obj, _ = parse_object(payload, at, errs, strict=strict)
        # members are lexed relaxed: an odd hex-digit count is no error here
        errors.extend(e for e in errs if e.code != "lex.hexstring_odd")
        if obj is _UNEXPECTED:  # a bare keyword where the member's value belongs
            errors.append(PdfError("objstm.empty_member", obj=(onum, 0)))
            continue
        if isinstance(obj, Stream):  # embedded objects may not be streams
            errors.append(PdfError("objstm.stream_inside", obj=(onum, 0)))
            continue
        e = wanted.get(onum)
        if e is not None and e.idx != i and strict:
            errors.append(PdfError("objstm.index_mismatch", obj=(onum, 0)))
        # xref may reference only a subset; expose exactly what xref names,
        # but tolerate (relaxed) the container defining extras
        if e is not None or not strict:
            _store(doc, (onum, 0), obj)


def _interval_check(doc: Document, data: bytes, errors: list) -> None:
    """C19: byte-coverage — overlapping owners are an error; non-whitespace
    unclaimed gaps are holes (pure EOL padding between constructs isn't)."""
    ivs = sorted((i for i in doc.intervals if i[0] < i[1]), key=_SPAN)
    prev_hi = 0
    holes = 0
    hole_bytes = 0
    overlaps = []  # (pos, owner)

    def is_hole(lo: int, hi: int) -> bool:
        return bool(data[lo:hi].strip(b"\x00\t\n\x0c\r "))

    for lo, hi, owner in ivs:
        if lo < prev_hi:
            overlaps.append((lo, owner))
        elif lo > prev_hi and is_hole(prev_hi, lo):
            holes += 1
            hole_bytes += lo - prev_hi
        prev_hi = max(prev_hi, hi)
    if prev_hi < len(data) and is_hole(prev_hi, len(data)):
        holes += 1
        hole_bytes += len(data) - prev_hi
    if overlaps and len(set(map(_SPAN, ivs))) < len(ivs):
        # owners of one span: the first by label is the one not overlapping
        prev_hi, overlaps = 0, []
        for lo, hi, owner in sorted((lo, hi, _owner(o)) for lo, hi, o in ivs):
            if lo < prev_hi:
                overlaps.append((lo, owner))
            prev_hi = max(prev_hi, hi)
    for lo, owner in overlaps:
        errors.append(PdfError("file.overlap", pos=lo, msg=_owner(owner)))
    doc.n_holes = holes
    doc.hole_bytes = hole_bytes


_SPAN = itemgetter(0, 1)


def _owner(owner) -> str:
    return owner if owner.__class__ is str else f"obj:{owner[0]}.{owner[1]}"


def _walk_refs(obj, path: str) -> list:
    """(path, Ref) pairs of a DirectObject tree in sorted-key DFS order."""
    out = []
    stack = [(obj, path)]
    while stack:
        o, p = stack.pop()
        if isinstance(o, Ref):
            out.append((p, o))
        elif isinstance(o, list):
            for i in range(len(o) - 1, -1, -1):
                stack.append((o[i], f"{p}[{i}]"))
        elif isinstance(o, dict):
            for k in sorted(o, reverse=True):
                stack.append((o[k], f"{p}/{k}"))
    return out


def _ref_keys(obj) -> list:
    """The (num, gen) of every Ref in a DirectObject tree, in no set order."""
    if obj.__class__ is Ref:
        return [(obj.num, obj.gen)]
    if obj.__class__ is not dict and obj.__class__ is not list:
        return []
    out, stack = [], [obj]
    while stack:
        o = stack.pop()
        for v in o.values() if o.__class__ is dict else o:
            c = v.__class__
            if c is Ref:
                out.append((v.num, v.gen))
            elif c is dict or c is list:
                stack.append(v)
    return out


def _build_graph(doc: Document, errors: list) -> None:
    """C20/C21: edges, dangling refs, reachability, page-tree cycles."""
    objects, links = doc.objects, doc.links
    holders = []  # (body, root path) of each holder of a dangling ref
    for key, obj in objects.items():
        body = obj.d if obj.__class__ is Stream else obj
        dsts = links[key] = _ref_keys(body)
        if not all(map(objects.__contains__, dsts)):
            holders.append((body, ""))
    dsts = links[None] = _ref_keys(doc.trailer)
    if not all(map(objects.__contains__, dsts)):
        holders.append((doc.trailer, "trailer"))

    # dangling: target missing or free (C21) — the anti-join shape. Only a
    # holder is walked again, in sorted-key order, to render error paths.
    for body, root in holders:
        for path, ref in _walk_refs(body, root):
            dst = (ref.num, ref.gen)
            if dst not in objects:
                e = doc.xref_table.get(dst[0])
                code = (
                    "graph.gen_mismatch"
                    if (e is not None and e.kind == "inuse" and e.gen != dst[1])
                    else "graph.dangling_ref"
                )
                errors.append(PdfError(code, obj=dst, path=path))

    # reachability from the trailer root. Structural objects — xref
    # streams, object-stream containers, the linearization dict — are
    # reachable by construction, not through the object graph.
    seen: set = set()
    stack = [d for d in links[None] if d in objects] + list(doc.structural)
    while stack:
        k = stack.pop()
        if k not in seen:
            seen.add(k)
            stack.extend(links.get(k, ()))
    for key in sorted(objects.keys() - seen):
        errors.append(PdfError("graph.unreachable", obj=key))

    # page-tree acyclicity via /Kids (C21): DFS with an on-path set
    root = doc.trailer.get("Root")
    if isinstance(root, Ref):
        cat = doc.objects.get((root.num, root.gen))
        cat = cat.d if isinstance(cat, Stream) else cat
        pages = cat.get("Pages") if isinstance(cat, dict) else None
        if isinstance(pages, Ref):
            _check_page_tree(doc, (pages.num, pages.gen), errors)
        if isinstance(cat, dict):
            outl = cat.get("Outlines")
            if isinstance(outl, Ref):
                _check_outlines(doc, (outl.num, outl.gen), errors)
            names = _resolve(doc, cat.get("Names"))
            if isinstance(names, dict):
                for entry in sorted(names):
                    tree = names[entry]
                    if isinstance(tree, (Ref, dict)):
                        _check_name_tree(doc, tree, f"/Names/{entry}", errors)


def _resolve(doc: Document, v):
    if isinstance(v, Ref):
        v = doc.objects.get((v.num, v.gen))
    return v.d if isinstance(v, Stream) else v


def _name_tree_items(doc: Document, node, depth: int = 0):
    """(key, value) pairs of a name tree [PDF17 §7.9.6] in tree order:
    a node's /Names pairs, then its /Kids, depth-capped at 32. Pairs whose
    key is not a string are skipped; values are yielded unresolved."""
    if not isinstance(node, dict) or depth > 32:
        return
    arr = _resolve(doc, node.get("Names"))
    if isinstance(arr, list):
        for i in range(0, len(arr) - 1, 2):
            if isinstance(arr[i], bytes):
                yield arr[i], arr[i + 1]
    kids = _resolve(doc, node.get("Kids"))
    if isinstance(kids, list):
        for kid in kids:
            yield from _name_tree_items(doc, _resolve(doc, kid), depth + 1)


def _check_outlines(doc: Document, root_key: tuple, errors: list) -> None:
    """Outline linked-list integrity [PDF17 §12.3.3]: sibling chains must
    be Prev/Next-consistent, items must back-link /Parent, and chains must
    terminate (cycle-guarded walk)."""
    root = _resolve(doc, Ref(*root_key))
    if not isinstance(root, dict):
        return
    seen: set = set()
    # explicit stack of (parent_key, First ref) — no Python recursion, so
    # adversarial nesting depth can't blow the interpreter stack
    stack: list = [(root_key, root.get("First"))]
    while stack:
        parent_key, first = stack.pop()
        if not isinstance(first, Ref):
            continue
        prev_key = None
        cur = (first.num, first.gen)
        while True:
            if cur in seen:
                errors.append(
                    PdfError("graph.cycle", obj=cur, path="/Outlines")
                )
                break
            seen.add(cur)
            item = _resolve(doc, Ref(*cur))
            if not isinstance(item, dict):
                break
            par = item.get("Parent")
            if not (isinstance(par, Ref) and (par.num, par.gen) == parent_key):
                errors.append(
                    PdfError("tree.parent_mismatch", obj=cur, path="/Outlines")
                )
            pv = item.get("Prev")
            pv_key = (pv.num, pv.gen) if isinstance(pv, Ref) else None
            if pv_key != prev_key:
                errors.append(
                    PdfError("tree.outline_broken", obj=cur, path="/Prev")
                )
            if isinstance(item.get("First"), Ref):
                stack.append((cur, item.get("First")))
            nxt = item.get("Next")
            if not isinstance(nxt, Ref):
                break
            prev_key = cur
            cur = (nxt.num, nxt.gen)


def _check_name_tree(doc: Document, tree, path: str, errors: list) -> None:
    """Name-tree wellformedness [PDF17 §7.9.6]: Names arrays have even
    length with byte-sorted string keys; /Limits spans the actual keys."""
    seen: set = set()
    stack: list = [tree]
    while stack:
        node_ref = stack.pop()
        key = None
        if isinstance(node_ref, Ref):
            key = (node_ref.num, node_ref.gen)
            if key in seen:
                errors.append(PdfError("graph.cycle", obj=key, path=path))
                continue
            seen.add(key)
        node = _resolve(doc, node_ref)
        if not isinstance(node, dict):
            continue
        names = node.get("Names")
        keys: list[bytes] = []
        if isinstance(names, list):
            if len(names) % 2:
                errors.append(
                    PdfError("tree.names_odd", obj=key, path=path)
                )
            ks = [x for x in names[0::2] if isinstance(x, bytes)]
            if ks != sorted(ks):
                errors.append(
                    PdfError("tree.names_unsorted", obj=key, path=path)
                )
            keys = ks
        limits = node.get("Limits")
        if (
            isinstance(limits, list)
            and len(limits) == 2
            and all(isinstance(x, bytes) for x in limits)
            and keys
        ):
            if not (limits[0] <= min(keys) and max(keys) <= limits[1]):
                errors.append(
                    PdfError("tree.limits_mismatch", obj=key, path=path)
                )
        kids = node.get("Kids")
        if isinstance(kids, list):
            for k in kids:
                if isinstance(k, Ref):
                    stack.append(k)


def _check_page_tree(doc: Document, start: tuple, errors: list) -> None:
    """Acyclicity + caradoc's consistency rules: every Kid's /Parent must
    back-link its parent node, and every Pages /Count must equal the number
    of leaf pages actually in its subtree [PDF17 §7.7.3.2]."""
    objects = doc.objects
    on_path: set = {start}
    done: set = set()
    leafcount: dict = {}

    def body_of(key):
        o = objects.get(key)
        o = o.d if o.__class__ is Stream else o
        return o if o.__class__ is dict else None

    def kids_of(key):
        kids = (body_of(key) or {}).get("Kids")
        if kids.__class__ is not list:
            return []
        return [(k.num, k.gen) for k in kids if k.__class__ is Ref]

    def on_pop(node, kids):
        body = body_of(node)
        if body is None:
            return
        t = body.get("Type")
        if t.__class__ is Name and t.v == "Page":
            leafcount[node] = 1
            return
        n = sum(leafcount.get(c, 0) for c in kids)
        leafcount[node] = n
        declared = body.get("Count")
        if isinstance(declared, int) and declared != n:
            errors.append(
                PdfError(
                    "tree.count_mismatch",
                    obj=node,
                    path="/Count",
                    msg=f"declared {declared}, actual {n}",
                )
            )
        for c in kids:
            cb = body_of(c)
            if cb is None:
                continue
            par = cb.get("Parent")
            if not (
                par.__class__ is Ref and (par.num, par.gen) == node
            ):
                errors.append(
                    PdfError("tree.parent_mismatch", obj=c, path="/Parent")
                )

    kids = kids_of(start)
    stack = [(start, kids, iter(kids))]
    while stack:
        node, kids, todo = stack[-1]
        for child in todo:
            if child in on_path:
                errors.append(PdfError("graph.cycle", obj=child, path="/Kids"))
            elif child not in done and child in objects:
                on_path.add(child)
                ck = kids_of(child)
                stack.append((child, ck, iter(ck)))
                break
        else:
            stack.pop()
            on_path.discard(node)
            done.add(node)
            on_pop(node, kids)


def extract_attachments(doc: Document) -> list[dict]:
    """Embedded files [PDF17 §7.11]: walk catalog /Names /EmbeddedFiles
    (a Kids/Names name tree), deref each filespec, and return its decoded
    /EF stream payload.

    Rows: {"name": str, "size": int, "payload": bytes | None} in tree
    order ("name" is the tree KEY decoded like any text string; the
    filespec's /F is a display hint, the key is the lookup identity).
    Streams were already filter-decoded at load; a failed decode yields
    payload None with size -1, mirroring the verdict taxonomy's posture
    of degrade-don't-drop. Depth-capped, cycle-safe."""
    from caraspark.pdfengine.textextract import decode_pdf_string

    out: list[dict] = []
    cat = _resolve(doc, doc.trailer.get("Root"))
    if not isinstance(cat, dict):
        return out
    names = _resolve(doc, cat.get("Names"))
    if not isinstance(names, dict):
        return out
    tree = _resolve(doc, names.get("EmbeddedFiles"))
    for key, v in _name_tree_items(doc, tree):
        fs = _resolve(doc, v)
        if not isinstance(fs, dict):
            continue
        ef = _resolve(doc, fs.get("EF"))
        if not isinstance(ef, dict):
            continue
        stm = ef.get("F", ef.get("UF"))
        if isinstance(stm, Ref):
            stm = doc.objects.get((stm.num, stm.gen))
        if not isinstance(stm, Stream):
            continue
        payload = stm.decoded
        out.append(
            {
                "name": decode_pdf_string(key),
                "size": -1 if payload is None else len(payload),
                "payload": payload,
            }
        )
    return out


def extract_fonts(doc: Document) -> list[dict]:
    """Font census [PDF17 §9]: every object type-checked as a font-family
    class, in (num, gen) order — the name, subtype and embedding status a
    rendering-fidelity or text-extraction-coverage audit keys on (a
    non-embedded font means extraction depended on external metrics; a
    Type0 font means CMap-mediated text). Rows: {"obj", "subtype",
    "base_font", "embedded"} — ``embedded`` is True when the font (or its
    descendant, for Type0) carries a descriptor with any /FontFile*."""
    from caraspark.pdfengine.typecheck import check_types

    def has_fontfile(font: dict) -> bool:
        fd = _resolve(doc, font.get("FontDescriptor"))
        if isinstance(fd, dict) and any(
            k in fd for k in ("FontFile", "FontFile2", "FontFile3")
        ):
            return True
        desc = _resolve(doc, font.get("DescendantFonts"))
        if isinstance(desc, list):
            for df in desc:
                df = _resolve(doc, df)
                if isinstance(df, dict) and has_fontfile(df):
                    return True
        return False

    tres = check_types(doc)
    rows: list[dict] = []
    for key in sorted(doc.objects):
        cls = tres.assignments.get(key)
        if cls not in ("font", "font_type0", "font_cid", "font_type3"):
            continue
        o = doc.objects[key]
        d = o.d if isinstance(o, Stream) else o
        if not isinstance(d, dict):
            continue
        sub = d.get("Subtype")
        base = d.get("BaseFont")
        rows.append(
            {
                "obj": f"{key[0]}.{key[1]}",
                "subtype": sub.v if isinstance(sub, Name) else None,
                "base_font": base.v if isinstance(base, Name) else None,
                "embedded": has_fontfile(d),
            }
        )
    return rows


def extract_signatures(doc: Document, file_len: int) -> list[dict]:
    """Signature forensics [PDF17 §12.8.1]: every object type-checked as
    a signature dict (SURVEY §2 C22's ``sig`` class), in (num, gen)
    order, with the coverage facts an integrity audit keys on: Filter /
    SubFilter, ByteRange shape (range count, starts at byte 0) and
    ``unsigned_tail`` — bytes past the last covered range, i.e. what was
    APPENDED AFTER SIGNING. A non-zero tail is an incremental update
    over a signed revision: legitimate in a counter-signature workflow,
    the classic signature-defeating content swap otherwise — pair with
    ``extract_revisions``' n_won to see WHAT the update touched."""
    from caraspark.pdfengine.typecheck import check_types

    tres = check_types(doc)
    rows: list[dict] = []
    for key in sorted(doc.objects):
        if tres.assignments.get(key) != "sig":
            continue
        d = _resolve(doc, doc.objects[key])
        if not isinstance(d, dict):
            continue
        br = _resolve(doc, d.get("ByteRange"))
        ranges: list[tuple[int, int]] = []
        if isinstance(br, list):
            vals = [
                v for v in (_resolve(doc, x) for x in br) if isinstance(v, int)
            ]
            ranges = list(zip(vals[0::2], vals[1::2]))
        filt = d.get("Filter")
        sub = d.get("SubFilter")
        end = max((o + ln for o, ln in ranges), default=0)
        rows.append(
            {
                "obj": f"{key[0]}.{key[1]}",
                "filter": filt.v if isinstance(filt, Name) else None,
                "subfilter": sub.v if isinstance(sub, Name) else None,
                "n_ranges": len(ranges),
                "starts_at_zero": bool(ranges) and ranges[0][0] == 0,
                "unsigned_tail": max(file_len - end, 0),
            }
        )
    return rows


def extract_xmp(doc: Document) -> list[dict]:
    """Dual-metadata harvest [PDF17 §14.3]: every type-checked XMP
    metadata stream's dc:title / dc:creator / xmp:CreateDate, next to
    the classic trailer-/Info /Title — plus ``title_match``, the
    cross-check that flags tooling drift or tampering (one editor
    updated the Info dictionary, another the packet; producers SHOULD
    keep them synchronized, so disagreement is a signal). NULL-safe:
    rows appear for packets without the harvested fields (all-None),
    and ``title_match`` is None unless BOTH titles exist."""
    import re as _re

    from caraspark.pdfengine.model import Ref, Stream
    from caraspark.pdfengine.typecheck import check_types

    info_title = None
    info = doc.trailer.get("Info")
    if isinstance(info, Ref):
        info = doc.objects.get((info.num, info.gen))
    if isinstance(info, dict):
        t = info.get("Title")
        if isinstance(t, bytes):  # PDF strings lex as raw bytes
            info_title = t.decode("utf-8", "replace")

    def grab(pat: str, s: str) -> str | None:
        m = _re.search(pat, s, _re.S)
        return m.group(1) if m else None

    tres = check_types(doc)
    rows: list[dict] = []
    for key in sorted(doc.objects):
        if tres.assignments.get(key) != "metadata_stream":
            continue
        o = doc.objects[key]
        if not isinstance(o, Stream):
            continue
        payload = o.decoded if o.decoded is not None else o.raw
        s = payload.decode("utf-8", "replace")
        xmp_title = grab(
            r"<dc:title>.*?<rdf:li[^>]*>([^<]*)</rdf:li>", s
        )
        rows.append(
            {
                "obj": f"{key[0]}.{key[1]}",
                "xmp_title": xmp_title,
                "xmp_creator": grab(
                    r"<dc:creator>.*?<rdf:li[^>]*>([^<]*)</rdf:li>", s
                ),
                "create_date": grab(r"<xmp:CreateDate>([^<]*)<", s),
                "info_title": info_title,
                "title_match": (
                    xmp_title == info_title
                    if xmp_title is not None and info_title is not None
                    else None
                ),
            }
        )
    return rows


def extract_revisions(doc: Document) -> list[dict]:
    """Per-revision forensic surface over the incremental-update chain
    (C12 walk, [PDF17 §7.5.6]): one row per trailer, rev 0 = NEWEST
    (walk order). ``kind`` discriminates classic table trailers from
    xref-STREAM trailers (/Type /XRef); ``size`` is the declared /Size;
    ``has_prev`` marks a chained older revision and ``has_xrefstm`` the
    hybrid bridge; ``n_won`` counts the in-use xref entries this
    revision still OWNS in the live table (newest-first first-writer-
    wins) — the incremental-update diff an analyst reads to see what a
    later save actually touched (signature-defeating object swaps land
    exactly here)."""
    from collections import Counter

    won = Counter(
        e.update_idx for e in doc.xref_table.values() if e.kind != "free"
    )
    rows = []
    for i, t in enumerate(doc.trailers):
        ty = t.get("Type")
        size = t.get("Size")
        rows.append(
            {
                "rev": i,
                "kind": (
                    "stream"
                    if getattr(ty, "v", None) == "XRef"
                    else "classic"
                ),
                "size": size if isinstance(size, int) else None,
                "has_prev": "Prev" in t,
                "has_xrefstm": "XRefStm" in t,
                "n_won": int(won.get(i, 0)),
            }
        )
    return rows


def extract_outline(doc: Document) -> list[dict]:
    """Document outline (bookmarks) [PDF17 §12.3.3]: depth-first walk of
    the catalog /Outlines tree — First-child / Next-sibling chains,
    cycle-guarded and depth-capped (the structural consistency of the
    chains is separately validated by ``_check_outlines``; this walk is
    tolerant and extracts what it can reach).

    Rows: {"level": int (0 = top), "pos": int (preorder index),
    "title": str | None} — titles decoded per Annex D and
    whitespace-normalized like every other text-string surface."""
    from caraspark.pdfengine.textextract import decode_pdf_string

    out: list[dict] = []
    cat = _resolve(doc, doc.trailer.get("Root"))
    if not isinstance(cat, dict):
        return out
    outlines = _resolve(doc, cat.get("Outlines"))
    if not isinstance(outlines, dict):
        return out
    seen: set = set()

    def key_of(v):
        return (v.num, v.gen) if isinstance(v, Ref) else None

    def walk(first_ref, level: int) -> None:
        item_ref = first_ref
        while isinstance(item_ref, Ref) and level <= 32:
            k = (item_ref.num, item_ref.gen)
            if k in seen:
                return  # sibling or ancestor cycle — stop this chain
            seen.add(k)
            item = _resolve(doc, item_ref)
            if not isinstance(item, dict):
                return
            t = item.get("Title")
            if isinstance(t, Ref):
                t = doc.objects.get((t.num, t.gen))
            title = (
                " ".join(decode_pdf_string(bytes(t)).split()) or None
                if isinstance(t, (bytes, bytearray))
                else None
            )
            out.append({"level": level, "pos": len(out), "title": title})
            if key_of(item.get("First")):
                walk(item.get("First"), level + 1)
            item_ref = item.get("Next")

    walk(outlines.get("First"), 0)
    return out


def extract_form_fields(doc: Document) -> list[dict]:
    """AcroForm field values [PDF17 §12.7]: DFS over /AcroForm /Fields
    with /Kids recursion, building each field's fully-qualified name
    (dotted /T chain) and its EFFECTIVE value — /V and /FT are
    inheritable, so a terminal field without its own /V takes the nearest
    ancestor's (the radio-group pattern). Cycle-guarded, depth-capped.

    Rows: {"pos", "name", "ft", "value"} — value rendered
    deterministically: text strings per Annex D (whitespace-normalized),
    names as their string, booleans as true/false, numbers verbatim;
    absent → None."""
    from caraspark.pdfengine.model import Name, Real
    from caraspark.pdfengine.textextract import decode_pdf_string

    def render(v):
        if isinstance(v, Ref):
            v = doc.objects.get((v.num, v.gen))
        if isinstance(v, (bytes, bytearray)):
            return " ".join(decode_pdf_string(bytes(v)).split()) or None
        if isinstance(v, Name):
            return v.v
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return str(v)
        if isinstance(v, Real):
            return v.lexeme
        return None

    out: list[dict] = []
    cat = _resolve(doc, doc.trailer.get("Root"))
    if not isinstance(cat, dict):
        return out
    form = _resolve(doc, cat.get("AcroForm"))
    if not isinstance(form, dict):
        return out
    seen: set = set()

    def walk(refs, prefix: str, inh_v, inh_ft, depth: int) -> None:
        if not isinstance(refs, list) or depth > 32:
            return
        for ref in refs:
            k = (ref.num, ref.gen) if isinstance(ref, Ref) else None
            if k is None or k in seen:
                continue
            seen.add(k)
            fld = _resolve(doc, ref)
            if not isinstance(fld, dict):
                continue
            t = fld.get("T")
            if isinstance(t, Ref):
                t = doc.objects.get((t.num, t.gen))
            part = (
                " ".join(decode_pdf_string(bytes(t)).split())
                if isinstance(t, (bytes, bytearray))
                else None
            )
            name = f"{prefix}.{part}" if prefix and part else (part or prefix)
            v = fld.get("V", inh_v)
            ft = fld.get("FT", inh_ft)
            kids = _resolve(doc, fld.get("Kids"))
            if isinstance(kids, list) and kids:
                walk(kids, name, v, ft, depth + 1)
            else:
                out.append(
                    {
                        "pos": len(out),
                        "name": name,
                        "ft": ft.v if isinstance(ft, Name) else None,
                        "value": render(v),
                    }
                )

    walk(_resolve(doc, form.get("Fields")), "", None, None, 0)
    return out


def _iter_actions(doc: Document):
    """Yield (source, action_dict) for EVERY action dict reachable from
    the catalog, in a deterministic walk order: /OpenAction (with /Next
    chains, depth-first), the catalog /AA (sorted trigger keys), the
    /Names /JavaScript name tree, page-annotation /A chains + /AA dicts
    (page-tree order), then outline-item /A chains (preorder). Shared by
    the JavaScript inventory and the action census; cycle-guarded via
    visited action ids, depth-capped like every other tree walk."""
    from caraspark.pdfengine.textextract import decode_pdf_string

    seen: set[int] = set()
    out: list = []

    def walk_action(source: str, v, depth: int) -> None:
        a = _resolve(doc, v)
        if not isinstance(a, dict) or depth > 32 or id(a) in seen:
            return
        seen.add(id(a))
        out.append((source, a))
        nxt = _resolve(doc, a.get("Next"))
        if isinstance(nxt, dict):
            walk_action(source, nxt, depth + 1)
        elif isinstance(nxt, list):
            for n in nxt:
                walk_action(source, n, depth + 1)

    def walk_aa(source: str, v) -> None:
        aa = _resolve(doc, v)
        if not isinstance(aa, dict):
            return
        for k in sorted(aa):
            walk_action(f"{source}:{k}", aa[k], 0)

    cat = _resolve(doc, doc.trailer.get("Root"))
    if not isinstance(cat, dict):
        return out
    walk_action("OpenAction", cat.get("OpenAction"), 0)
    walk_aa("AA", cat.get("AA"))

    names = _resolve(doc, cat.get("Names"))
    if isinstance(names, dict):
        tree = _resolve(doc, names.get("JavaScript"))
        for key, v in _name_tree_items(doc, tree):
            walk_action(f"Names:{decode_pdf_string(key)}", v, 0)

    # page annotations, in page-tree order
    for pi, key in enumerate(_page_order(doc)):
        annots = _resolve(doc, _resolve(doc, Ref(*key)).get("Annots"))
        if not isinstance(annots, list):
            continue
        for ai, av in enumerate(annots):
            annot = _resolve(doc, av)
            if not isinstance(annot, dict):
                continue
            walk_action(f"Annot:{pi}.{ai}:A", annot.get("A"), 0)
            walk_aa(f"Annot:{pi}.{ai}:AA", annot.get("AA"))

    # outline items (preorder, cycle-guarded): bookmark /A chains are a
    # classic hostile-action hook the JS-only walk used to miss
    root = _resolve(doc, cat.get("Outlines"))
    if isinstance(root, dict):
        seen_items: set[int] = set()
        stack = [(_resolve(doc, root.get("First")), 0)]
        oi = 0
        while stack:
            item, depth = stack.pop()
            if (
                not isinstance(item, dict)
                or depth > 64
                or id(item) in seen_items
            ):
                continue
            seen_items.add(id(item))
            walk_action(f"Outline:{oi}:A", item.get("A"), 0)
            oi += 1
            nxt = _resolve(doc, item.get("Next"))
            if isinstance(nxt, dict):
                stack.append((nxt, depth))
            first = _resolve(doc, item.get("First"))
            if isinstance(first, dict):
                stack.append((first, depth + 1))
    return out


def extract_javascript(doc: Document) -> list[dict]:
    """JavaScript inventory [PDF17 SS12.6.4.16, SS7.7.4]: every /S
    /JavaScript action reachable from the catalog (the shared
    ``_iter_actions`` walk: OpenAction chains, catalog /AA, the /Names
    /JavaScript name tree, annotation /A + /AA, outline-item /A).
    Hostile-PDF triage (the LangSec'16 motivation: script-bearing
    documents are the ones a validator must surface, cf. Caradoc's
    strict-mode posture toward active content) wants this as a side
    table: which documents carry script, from which hook, and what.

    Rows: {"pos", "source", "js_len", "js_md5", "js_head"}; /JS payloads
    may be PDF strings or streams — streams use the decoded bytes
    (latin-1 text like any PDF text surface), a failed stream decode
    yields js_len -1 (degrade-don't-drop)."""
    import hashlib

    from caraspark.pdfengine.textextract import decode_pdf_string

    out: list[dict] = []

    def js_text(v):
        # raw object lookup first: _resolve unwraps a Stream to its dict,
        # but /JS needs the payload (same posture as extract_attachments)
        if isinstance(v, Ref):
            v = doc.objects.get((v.num, v.gen))
        if isinstance(v, Stream):
            if v.decoded is None:
                return None, -1
            txt = v.decoded.decode("latin-1")
            return txt, len(txt)
        if isinstance(v, bytes):
            txt = decode_pdf_string(v)
            return txt, len(txt)
        return None, None

    for source, a in _iter_actions(doc):
        sname = a.get("S")
        if not (isinstance(sname, Name) and sname.v == "JavaScript"):
            continue
        txt, n = js_text(a.get("JS"))
        if n is None:
            continue
        out.append(
            {
                "pos": len(out),
                "source": source,
                "js_len": n,
                "js_md5": (
                    None
                    if txt is None
                    else hashlib.md5(txt.encode("utf-8")).hexdigest()
                ),
                "js_head": None if txt is None else txt[:32],
            }
        )
    return out


def extract_actions(doc: Document) -> list[dict]:
    """Action census [PDF17 SS12.6]: EVERY action reachable from the
    catalog with its /S subtype and a bounded target detail — the full
    hostile-action triage surface (Launch and GoToR reach outside the
    document, URI and SubmitForm exfiltrate, Named drives the viewer),
    not just the JavaScript slice.

    Rows: {"pos", "source", "s", "target"}; target is the first of
    /URI, /F (string or filespec /F), /Win /F, /N, or a string /D —
    decoded and capped at 64 chars; None when the subtype carries no
    external designator."""
    from caraspark.pdfengine.textextract import decode_pdf_string

    def detail(a) -> str | None:
        for key in ("URI", "F", "N", "D"):
            v = _resolve(doc, a.get(key))
            if isinstance(v, bytes):
                return decode_pdf_string(v)[:64]
            if isinstance(v, Name):
                return v.v[:64]
            if isinstance(v, dict) and key == "F":
                f = _resolve(doc, v.get("F"))
                if isinstance(f, bytes):
                    return decode_pdf_string(f)[:64]
        win = _resolve(doc, a.get("Win"))
        if isinstance(win, dict):
            f = _resolve(doc, win.get("F"))
            if isinstance(f, bytes):
                return decode_pdf_string(f)[:64]
        return None

    out: list[dict] = []
    for source, a in _iter_actions(doc):
        sname = a.get("S")
        out.append(
            {
                "pos": len(out),
                "source": source,
                "s": sname.v if isinstance(sname, Name) else None,
                "target": detail(a),
            }
        )
    return out


# --- xref-free object scavenging (recovery parse) --------------------------

import re as _re

_OBJ_HEADER_RE = _re.compile(rb"(?<![0-9])(\d{1,10})[ \t\r\n]+(\d{1,5})[ \t\r\n]+obj(?![0-9A-Za-z])")


def scavenge_objects(data: bytes, max_objects: int = MAX_OBJECTS) -> list[dict]:
    """Xref-free object recovery: scan the RAW BYTES for ``N G obj``
    headers and attempt a parse at each, ignoring the xref entirely —
    the fallback a forensic/repair pass runs when ``locate_startxref``
    or the chain walk fails (truncated files, bad offsets), and the
    only way to see SUPERSEDED revisions an incremental update left
    behind (capability parity: caradoc's object-scan recovery family,
    ``src/parser/`` [P]; same spirit as `pdftk`'s rebuild mode).

    Returns one row per header found: num, gen, offset, parse_ok, and
    the parsed body's kind. A header inside a stream payload is
    reported like any other (parse_ok says whether it held up) — a
    scavenger by definition cannot trust stream boundaries, because
    recovering them is exactly what it's for. Throw-free and bounded
    like the rest of the engine."""
    out: list[dict] = []
    for m in _OBJ_HEADER_RE.finditer(data):
        if len(out) >= max_objects:
            break
        errors: list = []
        kind = None
        ok = False
        try:
            r = parse_indirect_object(data, m.start(), errors)
        except Exception:  # scavenging must survive anything
            r = None
        if r is not None:
            _num, _gen, body, _end = r
            ok = body is not None and not any(
                e.code == "obj.bad_header" for e in errors
            )
            if isinstance(body, Stream):
                kind = "stream"
            elif body is not None:
                kind = type(body).__name__.lower()
            elif ok:
                kind = "null"
        out.append(
            dict(
                num=int(m.group(1)),
                gen=int(m.group(2)),
                offset=m.start(),
                parse_ok=ok,
                kind=kind,
            )
        )
    return out


def scavenge_summary(data: bytes) -> tuple[int, int, int, int, int]:
    """Fixed-width scavenge census for one document — shared by the
    corpus qkey (sidetables.pdf_scavenge) and the oracle freezer:
    (n_markers, n_parsed, n_confirmed, n_shadow, n_xref_inuse).
    ``confirmed`` = a live inuse xref entry points at exactly this
    header (num + offset); ``shadow`` = headers the xref does NOT own —
    superseded revisions, orphans, or everything when the xref is dead
    (truncated/bad-offset files), i.e. what only recovery can see."""
    sv = scavenge_objects(data)
    doc = load_document(data)
    inuse = {
        (n, e.offset)
        for n, e in doc.xref_table.items()
        if e.kind == "inuse"
    }
    n_conf = sum(1 for r in sv if (r["num"], r["offset"]) in inuse)
    return (
        len(sv),
        sum(1 for r in sv if r["parse_ok"]),
        n_conf,
        len(sv) - n_conf,
        len(inuse),
    )


def extract_annotations(doc: Document) -> list[dict]:
    """Annotation census [PDF17 SS12.5]: every entry of every page's
    /Annots array, in page-tree order — the per-annotation inventory
    backing interactive-feature triage (which pages carry widgets,
    links, or multimedia) that the action census (``extract_actions``)
    only sees when an /A or /AA is present.  Capability parity:
    caradoc's annotation typing (``src/type/`` annotation classes [P]),
    surfaced as a corpus table.

    Rows: {"pos", "page_idx", "subtype", "has_action", "has_aa",
    "has_appearance"}; subtype None when /Subtype is missing or not a
    name (the typechecker flags it; the census still counts the row).
    Pages are numbered by the text extractor's cycle-guarded page walk
    (``textextract._page_order``), as in the action census, so
    ``page_idx`` joins the text spans' pages."""
    out: list[dict] = []
    for pi, key in enumerate(_page_order(doc)):
        annots = _resolve(doc, _resolve(doc, Ref(*key)).get("Annots"))
        if not isinstance(annots, list):
            continue
        for av in annots:
            annot = _resolve(doc, av)
            if not isinstance(annot, dict):
                continue
            st = annot.get("Subtype")
            out.append(
                {
                    "pos": len(out),
                    "page_idx": pi,
                    "subtype": st.v if isinstance(st, Name) else None,
                    "has_action": isinstance(
                        _resolve(doc, annot.get("A")), dict
                    ),
                    "has_aa": isinstance(_resolve(doc, annot.get("AA")), dict),
                    "has_appearance": isinstance(
                        _resolve(doc, annot.get("AP")), dict
                    ),
                }
            )
    return out


def stream_stats(doc: Document) -> list[dict]:
    """Per-stream byte statistics [triage for embedded payloads]: for
    every stream object, the decoded length plus two exact integer
    dispersion signals — distinct byte count (256 max) and the modal
    byte's frequency in permille — which separate text-like content
    (few distinct bytes, high mode) from compressed/encrypted payloads
    (≈256 distinct, flat mode) without any float entropy.  Undecodable
    streams report raw bytes with decoded=False, so the census also
    surfaces filter-chain failures.

    Rows: {"num", "gen", "decoded", "n_bytes", "n_distinct",
    "top_permille"} in object-number order."""
    out: list[dict] = []
    for (num, gen) in sorted(doc.objects):
        o = doc.objects[(num, gen)]
        if not isinstance(o, Stream):
            continue
        data = o.decoded if o.decoded is not None else o.raw
        n = len(data)
        if n == 0:
            out.append(
                {
                    "num": num, "gen": gen,
                    "decoded": o.decoded is not None,
                    "n_bytes": 0, "n_distinct": 0, "top_permille": 0,
                }
            )
            continue
        counts = [0] * 256
        for b in data:
            counts[b] += 1
        out.append(
            {
                "num": num,
                "gen": gen,
                "decoded": o.decoded is not None,
                "n_bytes": n,
                "n_distinct": sum(1 for c in counts if c),
                "top_permille": max(counts) * 1000 // n,
            }
        )
    return out
