"""SQL builders over the frozen per-recipe corpus reconstruction.

The synth corpus is closed-form (idx → recipe, PDF blobs byte-identical per
recipe, HTML facts frozen per idx), so DuckDB oracles for the PDF-internal
qkeys are plain SQL over VALUES lists pinned in ``pdfacts_expected``
(generated by tools/gen_pdfacts_expected.py). Shared here so
``pdfacts``, ``extract_queries`` and ``sidetables`` build their oracles
from one corpus CTE.
"""

from __future__ import annotations

from caraspark.pdfacts_expected import (
    FINDREF_ROWS,
    HTML_IDX,
    OBJKIND_ROWS,
    RECIPE_EXTRAS,
    RECIPE_FACTS,
    TYPES_ROWS,
    VARIANT_ROWS,
)

N_RECIPES = len(RECIPE_FACTS)


def sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def values_cte(name: str, cols: list[str], rows) -> str:
    """``name (c1, c2, …) AS (VALUES (…), …)`` from tuples or dicts."""
    body = ",\n    ".join(
        "("
        + ", ".join(
            sql_lit(r[c] if isinstance(r, dict) else r[i])
            for i, c in enumerate(cols)
        )
        + ")"
        for r in rows
    )
    return f"{name} ({', '.join(cols)}) AS (VALUES\n    {body})"


# corpus size per scale factor, derived from the sf-scaled customer table
# (the documents table has the same count at sf0.001 and sf0.01) — single
# source shared by every frozen-corpus oracle incl. pdfacts._facts_cte
NROWS_CTE = """nrows AS (
  SELECT CASE (SELECT count(*) FROM customer)
         WHEN 150 THEN 128 WHEN 1500 THEN 384 WHEN 15000 THEN 1536
         ELSE 256 END AS n
)"""


def corpus_cte() -> str:
    """idx series sized from the sf-scaled customer table + recipe names →
    one row per synth document with its url."""
    names = values_cte(
        "rec_names",
        ["rid", "name", "kind"],
        [(r["rid"], r["name"], r["kind"]) for r in RECIPE_FACTS],
    )
    return f"""{NROWS_CTE},
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


def attach_cte() -> str:
    from caraspark.pdfacts_expected import ATTACH_ROWS

    return values_cte(
        "att", ["rid", "att_name", "att_md5", "att_size"], ATTACH_ROWS
    )


def revision_cte() -> str:
    from caraspark.pdfacts_expected import REVISION_ROWS

    return values_cte(
        "rv",
        ["rid", "rev", "rkind", "rsize", "has_prev", "has_xrefstm",
         "n_won"],
        REVISION_ROWS,
    )


def pages_cte() -> str:
    from caraspark.pdfacts_expected import PAGE_ROWS

    return values_cte(
        "pg",
        ["rid", "page", "pobj", "content_bytes", "text_len", "text_md5"],
        PAGE_ROWS,
    )


def fonts_cte() -> str:
    from caraspark.pdfacts_expected import FONT_ROWS

    return values_cte(
        "ft", ["rid", "fobj", "subtype", "base_font", "embedded"],
        FONT_ROWS,
    )


def outline_cte() -> str:
    from caraspark.pdfacts_expected import OUTLINE_ROWS

    return values_cte(
        "ol", ["rid", "pos", "level", "title"], OUTLINE_ROWS
    )


def formfield_cte() -> str:
    from caraspark.pdfacts_expected import FORMFIELD_ROWS

    return values_cte(
        "ff", ["rid", "pos", "fname", "ft", "fvalue"], FORMFIELD_ROWS
    )


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


def js_cte() -> str:
    from caraspark.pdfacts_expected import JS_ROWS

    return values_cte(
        "js", ["rid", "pos", "source", "js_len", "js_md5", "js_head"], JS_ROWS
    )


def actions_cte() -> str:
    from caraspark.pdfacts_expected import ACTION_ROWS

    return values_cte(
        "act", ["rid", "pos", "source", "s", "target"], ACTION_ROWS
    )


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


def sigs_cte() -> str:
    from caraspark.pdfacts_expected import SIG_ROWS

    return values_cte(
        "sg",
        ["rid", "sobj", "filter", "subfilter", "n_ranges",
         "starts_at_zero", "unsigned_tail"],
        SIG_ROWS,
    )


def scav_cte() -> str:
    from caraspark.pdfacts_expected import SCAV_ROWS

    return values_cte(
        "sv",
        ["rid", "n_markers", "n_parsed", "n_confirmed", "n_shadow",
         "n_xref_inuse"],
        SCAV_ROWS,
    )


def repair_cte() -> str:
    from caraspark.pdfacts_expected import REPAIR_ROWS

    return values_cte(
        "rp",
        ["rid", "repaired_bytes", "repaired_md5", "n_objects",
         "repaired_valid"],
        REPAIR_ROWS,
    )


def xmp_cte() -> str:
    from caraspark.pdfacts_expected import XMP_ROWS

    return values_cte(
        "xm",
        ["rid", "xobj", "xmp_title", "xmp_creator", "create_date",
         "info_title", "title_match"],
        XMP_ROWS,
    )


def annot_cte() -> str:
    from caraspark.pdfacts_expected import ANNOT_ROWS

    return values_cte(
        "an",
        ["rid", "pos", "page_idx", "subtype",
         "has_action", "has_aa", "has_appearance"],
        ANNOT_ROWS,
    )


def contentop_cte() -> str:
    from caraspark.pdfacts_expected import CONTENTOP_ROWS

    return values_cte("co", ["rid", "op", "n"], CONTENTOP_ROWS)


def streamstat_cte() -> str:
    from caraspark.pdfacts_expected import STREAMSTAT_ROWS

    return values_cte(
        "ss",
        ["rid", "num", "gen", "decoded", "n_bytes", "n_distinct",
         "top_permille"],
        STREAMSTAT_ROWS,
    )
