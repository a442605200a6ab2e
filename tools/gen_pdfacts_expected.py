"""Freeze per-recipe expected facts for the pdfacts SQL oracles.

The synth corpus is deterministic per recipe position: document ``idx``
maps to recipe ``idx % R`` and every PDF recipe's blob is byte-identical
across idx (HTML blobs vary with idx, but every HTML fact column is a
constant). So the full facts table is a closed form over ``idx`` plus a
79-row per-recipe lookup — exactly what a DuckDB oracle can express.

This tool runs the engine over one instance of each recipe and writes the
lookups as ``caraspark/pdfacts_expected.py``. Two kinds of freeze go in:

* a table's own rows: ``RECIPE_FACTS`` is ``pdfacts.doc_facts`` per
  recipe, and ``SIDE_ROWS`` holds, for each side table in
  ``oracle_freeze.FROZEN_TABLES``, that table's own ``rows`` over every
  PDF recipe, projected onto its columns after ``url``, ``rid`` first;
* independent references: ``RECIPE_EXTRAS`` (through the ``_*_facts``
  signature mirrors below, which never import ``extract_queries``), the
  type, object-kind, variant and findref aggregations, and the per-idx
  HTML surface rows, each computed here from the engine's results.

The values are then FROZEN in git: the oracle comparison catches any
future drift in lexer/parser/xref/filter/crypto/extraction behavior, and
any distribution nondeterminism in the Spark pipeline. (Byte-level ground
truth is pinned independently by tests/golden/; this freeze is a
regression oracle, not an independent reimplementation.)

Rerun (only after an INTENDED behavior change, with golden diffs reviewed):
    python tools/gen_pdfacts_expected.py
A rerun on unchanged code rewrites the file byte for byte.
"""

from __future__ import annotations

import hashlib
import os
import pprint
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from caraspark.corpus import CORPUS_ROWS  # noqa: E402
from caraspark.pdfacts import doc_facts  # noqa: E402
from caraspark.synth import _corpus_recipes as recipe_list, corpus_row  # noqa: E402

# the oracles reconstruct corpus rows below this idx at every scale
MAX_ROWS = max(CORPUS_ROWS.values())


def build_expected() -> list[dict]:
    out = []
    recipes = recipe_list()
    for rid, (name, fn_) in enumerate(recipes):
        if fn_ is None:
            # HTML: the blob varies with idx but every fact column is
            # constant — check that on every corpus row of the recipe
            # the oracles reconstruct before freezing it
            facts, *rest = (
                doc_facts("u", corpus_row(idx)["html"])
                for idx in range(rid, MAX_ROWS, len(recipes))
            )
            assert all(f == facts for f in rest), name
        else:
            facts = doc_facts("u", fn_())
        facts.pop("url")
        out.append({"rid": rid, "name": name, **facts})
    return out


def build_side_rows() -> dict[str, list[tuple]]:
    """Each frozen side table's own rows over every PDF recipe, as
    ``(rid, *columns after url)``."""
    from caraspark import sidetables
    from caraspark.oracle_freeze import FROZEN_TABLES

    pdfs = [(rid, fn_()) for rid, (_, fn_) in enumerate(recipe_list()) if fn_]
    out = {}
    for name in FROZEN_TABLES:
        table = getattr(sidetables, name)
        cols = table.schema.names[1:]
        out[name] = [
            (rid, *(row[c] for c in cols))
            for rid, blob in pdfs
            for row in table.rows("u", blob)
        ]
    return out


def build_extras():
    """Per-recipe extraction/edge/object/cleanup extras (PDF recipes), the
    object-kind/type/variant/findref row freezes, and per-idx HTML
    extraction results (HTML blobs vary per idx), keyed by constant name."""
    from caraspark.pdfengine.api import process_document
    from caraspark.pdfengine.cleanup import cleanup
    from caraspark.pdfengine.document import load_document
    from caraspark.pdfengine.model import Stream, canonical_json
    from caraspark.pdfengine.typecheck import check_types

    recipes = recipe_list()
    extras, types_rows, objkind_rows, variant_rows, findref_rows = (
        [], [], [], [], []
    )
    anchor_rows = []
    table_rows = []
    list_rows = []
    img_rows = []
    jsonld_rows = []
    alt_rows = []
    md_rows = []
    rd_rows = []
    for rid, (name, fn_) in enumerate(recipes):
        if fn_ is None:
            continue
        blob = fn_()
        res = process_document(blob)
        doc = load_document(blob)
        tres = check_types(doc)
        known = set(doc.objects)
        n_trailer = sum(1 for s, _, _ in doc.edges if s is None)
        dangle = sorted(p for _, d, p in doc.edges if d not in known)
        c1 = cleanup(doc)
        fixpoint = cleanup(load_document(c1)) == c1
        extras.append(
            {
                "rid": rid,
                "valid": res.valid,
                "strict": res.strict,
                "n_objects": res.n_objects,
                "n_streams": res.n_streams,
                "n_updates": res.n_updates,
                "bytes_in": len(blob),
                "bytes_decoded": res.bytes_decoded,
                "text_len": None if res.text is None else len(res.text),
                "text_md5": (
                    None
                    if res.text is None
                    else hashlib.md5(res.text).hexdigest()
                ),
                "err_codes": ",".join(sorted(e.code for e in res.errors)),
                **_text_metrics(res.text),
                **_span_facts(res.spans),
                **_outlink_facts(res.outlinks),
                **_anchor_facts(res),
                **_table_facts(res),
                **_list_facts(res),
                **_img_facts(res),
                **_form_facts(res),
                **_jsonld_facts(res),
                **_alt_facts(res),
                **_md_facts(res),
                **_rd_facts(res),
                **_title_facts(res),
                "n_edges": len(doc.edges),
                "n_dangling": len(dangle),
                "n_trailer_roots": n_trailer,
                "dangling_paths": ",".join(dangle),
                "clean_md5": hashlib.md5(c1).hexdigest(),
                "clean_bytes": len(c1),
                "fixpoint": fixpoint,
            }
        )
        tcount: dict[str, int] = {}
        for cls in tres.assignments.values():
            tcount[cls] = tcount.get(cls, 0) + 1
        for cls in sorted(tcount):
            types_rows.append((rid, cls, tcount[cls]))

        refcounts: dict = {}
        for _s, d, _p in doc.edges:
            refcounts[d] = refcounts.get(d, 0) + 1
        kinds: dict[str, list[int]] = {}
        vcount: dict[str, list[int]] = {}
        for key in sorted(doc.objects):
            o = doc.objects[key]
            body = o.d if isinstance(o, Stream) else o
            kind = (
                "stream" if isinstance(o, Stream) else type(body).__name__.lower()
            )
            k = kinds.setdefault(kind, [0, 0, 0])
            k[0] += 1
            k[1] += refcounts.get(key, 0)
            k[2] = max(k[2], len(canonical_json(body)))
            if isinstance(body, dict):
                t = body.get("Type")
                tname = getattr(t, "v", None)
                if tname is not None:
                    vc = vcount.setdefault(tname, [0, 0])
                    vc[0] += 1
                    cnt = body.get("Count")
                    if isinstance(cnt, int) and not isinstance(cnt, bool):
                        vc[1] += cnt
        for kind in sorted(kinds):
            n, refs, maxb = kinds[kind]
            objkind_rows.append((rid, kind, n, refs, maxb))
        for tname in sorted(vcount):
            n, sc = vcount[tname]
            variant_rows.append((rid, tname, n, sc))
        for s, d, p in doc.edges:
            # the findref query includes trailer-root edges (src NULL)
            if d == (2, 0):
                findref_rows.append(
                    (rid, s[0] if s else None, s[1] if s else None, p)
                )

    html_idx = []
    for idx in range(MAX_ROWS):
        if recipes[idx % len(recipes)][1] is not None:
            continue
        blob = corpus_row(idx)["html"]
        res = process_document(blob)
        for pos, (href, anchor) in enumerate(
            zip(res.outlinks, res.anchors)
        ):
            anchor_rows.append((idx, pos, href, anchor))
        for tbl, row, col, header, cell in res.tables:
            table_rows.append((idx, tbl, row, col, header, cell))
        for lst, item, depth, ordered, itext in res.lists:
            list_rows.append((idx, lst, item, depth, ordered, itext))
        for pos, (isrc, ialt) in enumerate(res.images):
            img_rows.append((idx, pos, isrc, ialt))
        for pos, payload in enumerate(res.jsonld):
            jsonld_rows.append((idx, pos, payload))
        for pos, (hl, t, h) in enumerate(res.alternates):
            alt_rows.append((idx, pos, hl, t, h))
        for pos, (mi, mt, mp, mv) in enumerate(res.microdata):
            md_rows.append((idx, pos, mi, mt, mp, mv))
        for pos, (ri, rv, rt, rp, rx) in enumerate(res.rdfa):
            rd_rows.append((idx, pos, ri, rv, rt, rp, rx))
        html_idx.append(
            {
                "idx": idx,
                "valid": res.valid,
                "strict": res.strict,
                "n_objects": res.n_objects,
                "n_streams": res.n_streams,
                "n_updates": res.n_updates,
                "bytes_in": len(blob),
                "bytes_decoded": res.bytes_decoded,
                "text_len": None if res.text is None else len(res.text),
                "text_md5": (
                    None
                    if res.text is None
                    else hashlib.md5(res.text).hexdigest()
                ),
                "err_codes": ",".join(sorted(e.code for e in res.errors)),
                **_text_metrics(res.text),
                **_span_facts(res.spans),
                **_outlink_facts(res.outlinks),
                **_anchor_facts(res),
                **_table_facts(res),
                **_list_facts(res),
                **_img_facts(res),
                **_form_facts(res),
                **_jsonld_facts(res),
                **_alt_facts(res),
                **_md_facts(res),
                **_rd_facts(res),
                **_title_facts(res),
            }
        )
    return {
        "RECIPE_EXTRAS": extras,
        "TYPES_ROWS": types_rows,
        "OBJKIND_ROWS": objkind_rows,
        "VARIANT_ROWS": variant_rows,
        "FINDREF_ROWS": findref_rows,
        "HTML_IDX": html_idx,
        "ANCHOR_ROWS": anchor_rows,
        "TABLE_ROWS": table_rows,
        "LIST_ROWS": list_rows,
        "IMG_ROWS": img_rows,
        "JSONLD_ROWS": jsonld_rows,
        "ALT_ROWS": alt_rows,
        "MD_ROWS": md_rows,
        "RDFA_ROWS": rd_rows,
    }


def _img_facts(res) -> dict:
    """Mirror the JVM expression that extract_queries derives from
    doc_images_sig's ``_SIGS`` row: md5 over the \x1f-joined "src:alt"
    canonical strings in document order; None when the surface was not
    computed."""
    if res.images is None:
        return {"n_images": None, "images_sig": None}
    return {
        "n_images": len(res.images),
        "images_sig": hashlib.md5(
            "\x1f".join(f"{s}:{a}" for s, a in res.images).encode("utf-8")
        ).hexdigest(),
    }


def _form_facts(res) -> dict:
    """Mirror the JVM expression that extract_queries derives from
    doc_forms_sig's ``_SIGS`` row: md5 over the \x1f-joined
    "method:action" canonical strings in document order."""
    if res.forms is None:
        return {"n_forms": None, "forms_sig": None}
    return {
        "n_forms": len(res.forms),
        "forms_sig": hashlib.md5(
            "\x1f".join(f"{m}:{a}" for m, a in res.forms).encode("utf-8")
        ).hexdigest(),
    }


def _alt_facts(res) -> dict:
    """Mirror the JVM expression that extract_queries derives from
    doc_alternates_sig's ``_SIGS`` row: md5 over the \x1f-joined
    "hreflang:type:href" canonical triples in document order; None when
    the surface was not computed."""
    if res.alternates is None:
        return {"n_alternates": None, "alternates_sig": None}
    return {
        "n_alternates": len(res.alternates),
        "alternates_sig": hashlib.md5(
            "\x1f".join(
                f"{hl}:{t}:{h}" for hl, t, h in res.alternates
            ).encode("utf-8")
        ).hexdigest(),
    }


def _md_facts(res) -> dict:
    """Mirror the JVM expression that extract_queries derives from
    doc_microdata_sig's ``_SIGS`` row: md5 over the \x1f-joined
    "item:itemtype:prop:value" canonical strings in emission order; None
    when the surface was not computed."""
    if res.microdata is None:
        return {"n_microdata": None, "microdata_sig": None}
    return {
        "n_microdata": len(res.microdata),
        "microdata_sig": hashlib.md5(
            "\x1f".join(
                f"{i}:{t}:{pr}:{v}" for i, t, pr, v in res.microdata
            ).encode("utf-8")
        ).hexdigest(),
    }


def _rd_facts(res) -> dict:
    """Mirror the JVM expression that extract_queries derives from
    doc_rdfa_sig's ``_SIGS`` row: md5 over the \x1f-joined
    "item:vocab:typeof:prop:value" canonical strings in emission order;
    None when the surface was not computed."""
    if res.rdfa is None:
        return {"n_rdfa": None, "rdfa_sig": None}
    return {
        "n_rdfa": len(res.rdfa),
        "rdfa_sig": hashlib.md5(
            "\x1f".join(
                f"{i}:{vo}:{t}:{pr}:{v}" for i, vo, t, pr, v in res.rdfa
            ).encode("utf-8")
        ).hexdigest(),
    }


def _jsonld_facts(res) -> dict:
    """Mirror the JVM expression that extract_queries derives from
    doc_jsonld_sig's ``_SIGS`` row: md5 over the \x1f-joined raw
    payloads in document order; None when not computed."""
    if res.jsonld is None:
        return {"n_jsonld": None, "jsonld_sig": None}
    return {
        "n_jsonld": len(res.jsonld),
        "jsonld_sig": hashlib.md5(
            "\x1f".join(res.jsonld).encode("utf-8")
        ).hexdigest(),
    }


def _title_facts(res) -> dict:
    return {
        "title": res.title,
        "canonical": res.canonical,
        "description": res.description,
        "og_title": res.og_title,
        "og_description": res.og_description,
        "og_image": res.og_image,
        "robots_meta": res.robots_meta,
        "refresh_meta": res.refresh_meta,
        "base_href": res.base_href,
        "next_href": res.next_href,
        "prev_href": res.prev_href,
        "n_headings": None if res.headings is None else len(res.headings),
        "headings_sig": (
            None
            if res.headings is None
            else ";".join(f"{b}:{lv}" for b, lv in res.headings)
        ),
    }


def _anchor_facts(res) -> dict:
    """Mirror the JVM expression that extract_queries derives from
    doc_anchors_sig's ``_SIGS`` row: md5 over the \x1f-joined anchor
    list (hex digest so no control byte ever reaches a SQL literal);
    None when the surface was not computed."""
    if res.anchors is None:
        return {"anchors_sig": None}
    return {
        "anchors_sig": hashlib.md5(
            "\x1f".join(res.anchors).encode("utf-8")
        ).hexdigest()
    }


def _list_facts(res) -> dict:
    """Mirror the JVM expression that extract_queries derives from
    doc_lists_sig's ``_SIGS`` row: md5 over the \x1f-joined
    "list:item:depth:ordered(0/1):item_text" canonical strings in
    emission order; None when the surface was not computed."""
    if res.lists is None:
        return {"n_items": None, "lists_sig": None}
    return {
        "n_items": len(res.lists),
        "lists_sig": hashlib.md5(
            "\x1f".join(
                f"{l}:{i}:{d}:{1 if o else 0}:{t}"
                for l, i, d, o, t in res.lists
            ).encode("utf-8")
        ).hexdigest(),
    }


def _table_facts(res) -> dict:
    """Mirror the JVM expression that extract_queries derives from
    doc_tables_sig's ``_SIGS`` row: md5 over the \x1f-joined
    "table:row:col:header(0/1):cell" canonical strings in emission
    order; None when the surface was not computed."""
    if res.tables is None:
        return {"n_cells": None, "tables_sig": None}
    return {
        "n_cells": len(res.tables),
        "tables_sig": hashlib.md5(
            "\x1f".join(
                f"{t}:{r}:{c}:{1 if h else 0}:{cell}"
                for t, r, c, h, cell in res.tables
            ).encode("utf-8")
        ).hexdigest(),
    }


def _outlink_facts(outlinks) -> dict:
    """Mirror the JVM expressions that extract_queries derives from
    doc_outlinks_sig's ``_SIGS`` row: size(outlinks) and the ";"-joined
    href signature ("" for none)."""
    if outlinks is None:
        return {"n_outlinks": None, "outlinks_sig": None}
    return {"n_outlinks": len(outlinks), "outlinks_sig": ";".join(outlinks)}


def _span_facts(spans) -> dict:
    """Mirror the JVM expressions that extract_queries derives from
    doc_spans_sig's ``_SIGS`` row: size(spans) and the ";"-joined
    "start-end-label" signature string ("" for no spans)."""
    if spans is None:
        return {"n_spans": None, "spans_sig": None}
    return {
        "n_spans": len(spans),
        "spans_sig": ";".join(f"{s}-{e}-{lbl}" for s, e, lbl in spans),
    }


def _text_metrics(text: bytes | None) -> dict:
    """Mirror corpus_pipeline's JVM expressions exactly: utf-8 decode (cast
    binary->string), whitespace-split token count on the trimmed string,
    [A-Za-z]-only char count, sha256 of the string's utf-8 bytes."""
    import re

    if text is None:
        return {
            "text_sha256": None, "text_tokens": None, "text_alpha": None,
            "text_chars": None,
        }
    txt = text.decode("utf-8", "replace")
    return {
        "text_sha256": hashlib.sha256(txt.encode("utf-8")).hexdigest(),
        "text_tokens": len(re.split(r"\s+", txt.strip())),
        "text_alpha": len(re.sub(r"[^A-Za-z]", "", txt)),
        "text_chars": len(txt),  # length() on STRING counts chars, not bytes
    }


def main() -> None:
    consts = {
        "RECIPE_FACTS": build_expected(),
        **build_extras(),
        "SIDE_ROWS": build_side_rows(),
    }
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..",
        "caraspark", "pdfacts_expected.py",
    )
    with open(path, "w") as f:
        f.write(
            '"""FROZEN per-recipe expected facts (generated by\n'
            "tools/gen_pdfacts_expected.py — regenerate only after an intended\n"
            'behavior change; see that tool\'s docstring)."""\n\n'
            + "\n\n".join(
                f"{k} = {pprint.pformat(v, width=78, sort_dicts=False)}"
                for k, v in consts.items()
            )
            + "\n"
        )
    print(", ".join(f"{len(v)} {k}" for k, v in consts.items()), "->", path)


if __name__ == "__main__":
    main()
