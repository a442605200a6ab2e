"""Every explicit schema in one place (SURVEY.md §1.1: never inferred —
schema drift breaks byte-identical goldens)."""

from __future__ import annotations

from pyspark.sql import types as T

# input corpus (BASELINE.json:input_hint)
DOCUMENTS_RAW = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampNTZType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

ERROR_STRUCT = T.StructType(
    [
        T.StructField("code", T.StringType(), False),
        T.StructField("pos", T.LongType(), True),
        T.StructField("obj_num", T.IntegerType(), True),
        T.StructField("obj_gen", T.IntegerType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("msg", T.StringType(), True),
    ]
)

# primary output (SURVEY.md §1.3) — the invariant surface
EXTRACTED = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampNTZType(), True),
        T.StructField("text", T.BinaryType(), True),  # byte-exact payload
        # v3 SPANS: octet offsets into text, end exclusive; one element per
        # PDF page ("page:<i>") / kept HTML block ("block:<i>"); [] for
        # empty text, NULL when not requested
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("start", T.LongType(), False),
                        T.StructField("end", T.LongType(), False),
                        T.StructField("label", T.StringType(), False),
                    ]
                )
            ),
            True,
        ),
        # v4 OUTLINKS: crawl-frontier hrefs; [] for PDFs, NULL in stats mode
        T.StructField("outlinks", T.ArrayType(T.StringType()), True),
        # v5 TITLE: <title> / PDF Info Title, normalized; NULL if absent
        T.StructField("title", T.StringType(), True),
        # v6 HEADMETA: canonical link href; meta description / PDF Subject
        T.StructField("canonical", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        # v7 HEADINGS: kept h1-h6 blocks (block = spans index) / outline
        T.StructField(
            "headings",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("block", T.IntegerType(), False),
                        T.StructField("level", T.IntegerType(), False),
                    ]
                )
            ),
            True,
        ),
        # v8 OGMETA: first og:title / og:description / og:image metas
        T.StructField("og_title", T.StringType(), True),
        T.StructField("og_description", T.StringType(), True),
        T.StructField("og_image", T.StringType(), True),
        # v9 ANCHORS: anchor text per outlink (parallel arrays); [] for
        # PDFs, NULL in stats mode / when not requested
        T.StructField("anchors", T.ArrayType(T.StringType()), True),
        # v10 TABLES: (table, row, col, header, cell) per opened table
        # cell; [] for PDFs, NULL in stats mode / when not requested
        T.StructField(
            "tables",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("table", T.IntegerType(), False),
                        T.StructField("row", T.IntegerType(), False),
                        T.StructField("col", T.IntegerType(), False),
                        T.StructField("header", T.BooleanType(), False),
                        T.StructField("cell", T.StringType(), False),
                    ]
                )
            ),
            True,
        ),
        # v11 LISTS: (list, item, depth, ordered, item_text) per opened
        # <li>; [] for PDFs, NULL in stats mode / when not requested
        T.StructField(
            "lists",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("list", T.IntegerType(), False),
                        T.StructField("item", T.IntegerType(), False),
                        T.StructField("depth", T.IntegerType(), False),
                        T.StructField("ordered", T.BooleanType(), False),
                        T.StructField("item_text", T.StringType(), False),
                    ]
                )
            ),
            True,
        ),
        # v12 IMAGES: (src, alt) per <img> element in document order;
        # [] for PDFs, NULL in stats mode / when not requested
        T.StructField(
            "images",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("src", T.StringType(), False),
                        T.StructField("alt", T.StringType(), False),
                    ]
                )
            ),
            True,
        ),
        # v13 JSONLD: raw stripped ld+json payloads in document order;
        # [] for PDFs, NULL in stats mode / when not requested
        T.StructField(
            "jsonld", T.ArrayType(T.StringType(), False), True
        ),
        # v14 ROBOTSMETA: first robots-meta content, lowercased; NULL for
        # PDFs / absent / stats mode
        T.StructField("robots_meta", T.StringType(), True),
        # v16 REFRESH: first http-equiv=refresh content, lowercased; NULL
        # for PDFs / absent
        T.StructField("refresh_meta", T.StringType(), True),
        # v17 BASEHREF: first <base href>, trimmed, case-preserved; NULL
        # for PDFs / absent
        T.StructField("base_href", T.StringType(), True),
        # v19 PAGINATION: first rel=next / rel=prev(|previous) link
        # hrefs, trimmed, case-preserved; NULL for PDFs / absent
        T.StructField("next_href", T.StringType(), True),
        T.StructField("prev_href", T.StringType(), True),
        # v18 FORMS: (method, action) per form element; [] for PDFs
        T.StructField(
            "forms",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("method", T.StringType(), False),
                        T.StructField("action", T.StringType(), False),
                    ]
                )
            ),
            True,
        ),
        # v15 ALTERNATES: (hreflang, type, href) per rel=alternate link
        # element; [] for PDFs, NULL in stats mode / when not requested
        T.StructField(
            "alternates",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("hreflang", T.StringType(), False),
                        T.StructField("type", T.StringType(), False),
                        T.StructField("href", T.StringType(), False),
                    ]
                )
            ),
            True,
        ),
        # v20 MICRODATA: (item, itemtype, prop, value) per itemprop
        # token; [] for PDFs, NULL in stats mode / when not requested
        T.StructField(
            "microdata",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("item", T.IntegerType(), False),
                        T.StructField("itemtype", T.StringType(), False),
                        T.StructField("prop", T.StringType(), False),
                        T.StructField("value", T.StringType(), False),
                    ]
                )
            ),
            True,
        ),
        # v21 RDFA: (item, vocab, typeof, prop, value) per property
        # token; [] for PDFs, NULL in stats mode / when not requested
        T.StructField(
            "rdfa",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("item", T.IntegerType(), False),
                        T.StructField("vocab", T.StringType(), False),
                        T.StructField("typeof", T.StringType(), False),
                        T.StructField("prop", T.StringType(), False),
                        T.StructField("value", T.StringType(), False),
                    ]
                )
            ),
            True,
        ),
        T.StructField(
            "verdict",
            T.StructType(
                [
                    T.StructField("valid", T.BooleanType(), False),
                    T.StructField("strict", T.BooleanType(), False),
                ]
            ),
            False,
        ),
        T.StructField("kind", T.StringType(), False),
        T.StructField("errors", T.ArrayType(ERROR_STRUCT), False),
        T.StructField(
            "metrics",
            T.StructType(
                [
                    T.StructField("n_objects", T.IntegerType(), False),
                    T.StructField("n_updates", T.IntegerType(), False),
                    T.StructField("n_streams", T.IntegerType(), False),
                    T.StructField("n_holes", T.IntegerType(), False),
                    T.StructField("bytes_in", T.LongType(), False),
                    T.StructField("bytes_decoded", T.LongType(), False),
                    T.StructField("parse_ms", T.DoubleType(), False),
                ]
            ),
            False,
        ),
        T.StructField(
            "flags",
            T.StructType(
                [
                    T.StructField("encrypted", T.BooleanType(), False),
                    T.StructField("hybrid", T.BooleanType(), False),
                    T.StructField("linearized", T.BooleanType(), False),
                ]
            ),
            False,
        ),
        T.StructField("version", T.StringType(), True),
        T.StructField(
            "lineage",
            T.StructType(
                [
                    T.StructField("partition_id", T.IntegerType(), False),
                    T.StructField("salt", T.IntegerType(), False),
                    T.StructField("attempt", T.IntegerType(), False),
                    T.StructField("snapshot", T.StringType(), True),
                ]
            ),
            False,
        ),
    ]
)


# The extraction surfaces a consumer can request (``extract(want=...)``),
# each mapped to the EXTRACTED columns it fills, in the order
# ``htmlengine.extract_html`` returns them. Every other EXTRACTED column is
# computed for every document whatever ``want`` says.
SURFACE_COLUMNS = {
    "text": ("text",),
    "spans": ("spans",),
    "outlinks": ("outlinks",),
    "title": ("title",),
    "canonical": ("canonical",),
    "description": ("description",),
    "headings": ("headings",),
    "ogmeta": ("og_title", "og_description", "og_image"),
    "anchors": ("anchors",),
    "tables": ("tables",),
    "lists": ("lists",),
    "images": ("images",),
    "jsonld": ("jsonld",),
    "robots": ("robots_meta",),
    "alternates": ("alternates",),
    "refresh": ("refresh_meta",),
    "base": ("base_href",),
    "forms": ("forms",),
    "pagination": ("next_href", "prev_href"),
    "microdata": ("microdata",),
    "rdfa": ("rdfa",),
}


def extracted_read_schema():
    """The pinned read schema for snapshot consumers and compaction:
    EXTRACTED plus the physical partition columns. Reading old-era files
    through this schema fills missing surface columns with NULL (schema
    evolution) instead of inheriting whatever the first file happens to
    carry."""
    from pyspark.sql import types as T

    return T.StructType(
        list(EXTRACTED.fields)
        + [
            T.StructField("gen", T.LongType(), True),
            T.StructField("bucket", T.IntegerType(), True),
        ]
    )
