"""SQL builders over the frozen per-recipe corpus reconstruction.

The synth corpus is closed-form (idx → recipe, PDF blobs byte-identical per
recipe, HTML facts frozen per idx), so DuckDB oracles for the PDF-internal
qkeys are plain SQL over VALUES lists pinned in ``pdfacts_expected``
(generated by tools/gen_pdfacts_expected.py). Shared here so
``pdfacts``, ``extract_queries``, ``sidetables`` and ``streaming_queries``
build their oracles from one corpus CTE.

The frozen lists are of two kinds:

* a table's own rows. Each side table in ``FROZEN_TABLES`` is frozen by
  running its own row function over every PDF recipe (``SIDE_ROWS``), and
  ``frozen_cte`` takes the columns from the same ``DocTable``, so each
  column is stated once; the qkey's hand-written oracle ``SELECT`` over
  them is the check. The facts table (``pdfacts.FACTS``) is frozen the
  same way, from ``doc_facts``.
* independent references. The per-recipe extras (through the
  generator's ``_*_facts`` signature mirrors) and the type, object-kind,
  variant and findref aggregations are computed from the engine's
  results on their own, not through the tables they check, so their
  columns stay written out here. So do the per-idx HTML surface rows',
  named clear of SQL keywords (``tbl``, ``trow``, …).
"""

from __future__ import annotations

from caraspark.corpus import CORPUS_ROWS, DEFAULT_ROWS
from caraspark.pdfacts_expected import (
    FINDREF_ROWS,
    HTML_IDX,
    OBJKIND_ROWS,
    RECIPE_EXTRAS,
    RECIPE_FACTS,
    SIDE_ROWS,
    TYPES_ROWS,
    VARIANT_ROWS,
)

N_RECIPES = len(RECIPE_FACTS)

# The side tables frozen from their own rows, by their names in
# ``sidetables``. EDGES, OBJECTS and CLEANUP are checked through the
# extras and the aggregations instead.
FROZEN_TABLES = (
    "ATTACHMENTS", "OUTLINE", "FORMFIELDS", "JAVASCRIPT", "ACTIONS",
    "REVISIONS", "PAGES", "FONTS", "SIGS", "XMP", "SCAVENGE", "REPAIR",
    "ANNOTS", "CONTENT_OPS", "STREAM_STATS",
)


def sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def values_cte(name: str, cols: list[str], rows, table: str = "") -> str:
    """``name (c1, c2, …) AS (VALUES (…), …)`` from dicts (their ``cols``)
    or tuples. A stale freeze — no rows, or tuples narrower or wider than
    ``cols`` — gives a CTE over a table named for the mismatch: DuckDB
    fails it, naming ``table`` (default ``name``), when it binds the
    query, and the import does not fail."""
    rows = [
        tuple(r[c] for c in cols) if isinstance(r, dict) else tuple(r)
        for r in rows
    ]
    widths = sorted({len(r) for r in rows})
    if widths != [len(cols)]:
        why = (f"stale freeze: {table or name} has {len(cols)} columns, "
               f"rows of width {widths}")
        return f'{name} ({", ".join(cols)}) AS (SELECT * FROM "{why}")'
    body = ",\n    ".join("(" + ", ".join(map(sql_lit, r)) + ")" for r in rows)
    return f"{name} ({', '.join(cols)}) AS (VALUES\n    {body})"


def corpus_cte() -> str:
    """idx series sized from the sf-scaled customer table + recipe names →
    one row per synth document with its url. The customer table's
    150,000 × sf rows tell the scales of ``corpus.CORPUS_ROWS`` apart (the
    documents table has the same count at sf0.001 and sf0.01)."""
    when = " ".join(
        f"WHEN {round(150_000 * sf)} THEN {n}" for sf, n in CORPUS_ROWS.items()
    )
    names = values_cte(
        "rec_names",
        ["rid", "name", "kind"],
        [(r["rid"], r["name"], r["kind"]) for r in RECIPE_FACTS],
    )
    return f"""nrows AS (
  SELECT CASE (SELECT count(*) FROM customer) {when} ELSE {DEFAULT_ROWS} END AS n
),
{names},
docs AS (
  SELECT t.range AS idx, CAST(t.range % {N_RECIPES} AS INT) AS rid,
         r.name, r.kind,
         'https://synth.example/' || r.name || '/' || t.range AS url
  FROM range(0, 4096) t, nrows, rec_names r
  WHERE t.range < nrows.n AND r.rid = t.range % {N_RECIPES}
)"""


# The extraction-result columns a PDF row (recipe extras) and an HTML row
# (per-idx freeze) share, in ``perdoc`` order.
_DOC_COLS = [
    "valid", "strict", "n_objects", "n_streams", "n_updates",
    "bytes_in", "bytes_decoded", "text_len", "text_md5", "err_codes",
    "text_sha256", "text_tokens", "text_alpha", "text_chars",
    "n_spans", "spans_sig", "n_outlinks", "outlinks_sig", "anchors_sig",
    "n_cells", "tables_sig", "n_items", "lists_sig",
    "n_images", "images_sig", "n_forms", "forms_sig",
    "n_jsonld", "jsonld_sig",
    "n_alternates", "alternates_sig", "n_microdata", "microdata_sig",
    "n_rdfa", "rdfa_sig",
    "robots_meta", "refresh_meta",
    "base_href", "next_href", "prev_href",
    "title",
    "canonical", "description", "og_title", "og_description", "og_image",
    "n_headings", "headings_sig",
]
_EXTRA_COLS = ["rid", *_DOC_COLS, "n_edges", "n_dangling", "n_trailer_roots",
               "dangling_paths", "clean_md5", "clean_bytes", "fixpoint"]
_HTML_COLS = ["idx", *_DOC_COLS]


def extras_cte() -> str:
    return values_cte("px", _EXTRA_COLS, RECIPE_EXTRAS)


def html_cte() -> str:
    return values_cte("hx", _HTML_COLS, HTML_IDX)


def types_cte() -> str:
    return values_cte("ty", ["rid", "type_name", "cnt"], TYPES_ROWS)


def objkind_cte() -> str:
    return values_cte(
        "ok", ["rid", "okind", "n_obj", "refs", "maxb"], OBJKIND_ROWS
    )


def variant_cte() -> str:
    return values_cte(
        "va", ["rid", "obj_type", "n_obj", "cnt_sum"], VARIANT_ROWS
    )


def frozen_cte(alias: str, table: str) -> str:
    """``alias (rid, …)`` over the frozen rows of the side table named
    ``table`` in ``FROZEN_TABLES``: the recipe id, then the table's own
    columns after ``url``. A table missing from the freeze has no rows,
    so a stale freeze fails the oracles that read it, not the import."""
    from caraspark import sidetables  # which imports this module

    cols = getattr(sidetables, table).schema.names[1:]
    return values_cte(alias, ["rid", *cols], SIDE_ROWS.get(table, ()), table)


def tables_cte() -> str:
    from caraspark.pdfacts_expected import TABLE_ROWS

    return values_cte(
        "tb", ["idx", "tbl", "trow", "tcol", "theader", "tcell"], TABLE_ROWS
    )


def lists_cte() -> str:
    from caraspark.pdfacts_expected import LIST_ROWS

    return values_cte(
        "ls", ["idx", "lst", "item", "depth", "ordered", "itext"], LIST_ROWS
    )


def images_cte() -> str:
    from caraspark.pdfacts_expected import IMG_ROWS

    return values_cte("im", ["idx", "pos", "src", "alt"], IMG_ROWS)


def jsonld_cte() -> str:
    from caraspark.pdfacts_expected import JSONLD_ROWS

    return values_cte("jl", ["idx", "pos", "payload"], JSONLD_ROWS)


def anchors_cte() -> str:
    from caraspark.pdfacts_expected import ANCHOR_ROWS

    return values_cte(
        "an", ["idx", "pos", "href", "anchor"], ANCHOR_ROWS
    )


def findref_cte() -> str:
    return values_cte(
        "fr", ["rid", "src_num", "src_gen", "path"], FINDREF_ROWS
    )


def perdoc_cte() -> str:
    """One closed-form row per synth document (pdf via recipe extras, html
    via the per-idx freeze) with the extraction-result columns."""

    def cols(t: str) -> str:
        return ", ".join(f"{t}.{c}" for c in _DOC_COLS)

    return f"""{extras_cte()},
{html_cte()},
perdoc AS (
  SELECT d.idx, d.rid, d.url, d.kind, {cols("p")}
  FROM docs d JOIN px p ON p.rid = d.rid
  UNION ALL
  SELECT d.idx, d.rid, d.url, d.kind, {cols("h")}
  FROM docs d JOIN hx h ON h.idx = d.idx
)"""


def alt_cte() -> str:
    from caraspark.pdfacts_expected import ALT_ROWS

    return values_cte(
        "al", ["idx", "pos", "hreflang", "ltype", "href"], ALT_ROWS
    )


def md_cte() -> str:
    from caraspark.pdfacts_expected import MD_ROWS

    return values_cte(
        "md", ["idx", "pos", "item", "itemtype", "prop", "value"], MD_ROWS
    )


def rd_cte() -> str:
    from caraspark.pdfacts_expected import RDFA_ROWS

    return values_cte(
        "rd",
        ["idx", "pos", "item", "vocab", "typeof", "prop", "value"],
        RDFA_ROWS,
    )






