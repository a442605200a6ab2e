"""Exploded side tables over the synthetic corpus (SURVEY.md C20–C25 as
corpus-scale queries): the corpus versions of caradoc's single-file
commands. ``findref`` becomes a filter on the edges table, dangling-ref
detection a LEFT ANTI join against the objects table, ``types`` a
(url, obj, type) table, ``cleanup`` md5-of-canonical-bytes + a fixpoint
flag. Beside them sit the per-feature tables: attachments, outline, form
fields, JavaScript, actions, revisions, pages, fonts, signatures, XMP,
annotations, content-stream operators and stream statistics, plus the
xref-free scavenge census and the repair rewrite.

Each table is declared once as a ``DocTable``: its row function and its
Arrow columns. The shared row mapper (``relational.map_rows``, the one
that also carries the WARC record maps and the synth corpus) takes every
table across the Python boundary as a narrow mapInArrow stage, and the
Spark schema is derived from the Arrow one; each qkey is plain relational
ops on top. ``pdfacts`` declares its facts table the same way.

Each qkey hash-verifies against a closed-form DuckDB oracle over the
frozen per-recipe corpus reconstruction (caraspark/oracle_freeze.py):
PDF parsing itself isn't SQL-expressible, but the synth corpus is
deterministic per recipe, so the expected rows are pinned in git and any
drift in the distributed pipeline breaks the value hash. The 15
per-feature tables (``oracle_freeze.FROZEN_TABLES``) are frozen from
their own rows, and ``frozen_cte`` reads their columns from the
``DocTable`` here; EDGES, OBJECTS and CLEANUP are checked against
independent references instead (the per-recipe extras and the type,
object-kind, variant and findref aggregations). Byte-level anchors
remain the pytest golden suite.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from dataclasses import dataclass
from typing import Callable, Iterable, Iterator, Mapping

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from caraspark.corpus import corpus_rows_for_sf, synth_df
from caraspark.oracle_freeze import (
    corpus_cte,
    extras_cte,
    findref_cte,
    frozen_cte,
    objkind_cte,
    types_cte,
    variant_cte,
)
from caraspark.pdfengine.api import is_pdf, process_document
from caraspark.pdfengine.cleanup import cleanup, repair_document
from caraspark.pdfengine.document import (
    extract_actions,
    extract_annotations,
    extract_attachments,
    extract_fonts,
    extract_form_fields,
    extract_javascript,
    extract_outline,
    extract_revisions,
    extract_signatures,
    extract_xmp,
    load_document,
    scavenge_summary,
    stream_stats,
)
from caraspark.pdfengine.model import Stream, canonical_json
from caraspark.pdfengine.textextract import content_op_histogram, extract_pages
from caraspark.pdfengine.typecheck import check_types
from caraspark.relational import (
    BIGINT,
    BOOLEAN,
    INT,
    STRING,
    Q,
    map_rows,
    registrar,
    row_batches,
    spark_schema,
)

REGISTRY: dict[str, Q] = {}
_q = registrar(REGISTRY)


@dataclass(frozen=True)
class DocTable:
    """A table exploded from documents. ``rows(url, blob)`` gives one
    document's rows, each a mapping from column name to value (other keys
    are ignored); ``schema`` is the Arrow schema, ``url`` first. The Spark
    schema derives from it, so each column is written once."""

    rows: Callable[[str, bytes | None], Iterable[Mapping]]
    schema: pa.Schema

    @property
    def spark_schema(self) -> StructType:
        return spark_schema(self.schema)

    def _url_rows(self, url, blob):
        return ({**row, "url": url} for row in self.rows(url, blob))

    def batches(self, it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        """The Python side of ``over``, over ``url``/``html`` batches."""
        return row_batches(self._url_rows, self.schema)(it)

    def over(self, docs: DataFrame) -> DataFrame:
        """This table over a documents frame, one narrow stage."""
        return map_rows(docs.select("url", "html"), self._url_rows, self.schema)


def doc_table(rows, **cols: pa.DataType) -> DocTable:
    """Declare a table: its row function and its columns after ``url``."""
    return DocTable(rows, pa.schema([("url", STRING), *cols.items()]))


def _prune_skip(blob: bytes, *tokens: bytes) -> bool:
    """Sound byte-level prune before a full parse: skip a document only
    when NONE of the feature's marker names appears literally, there are
    no #-escaped names anywhere (an escaped marker carries '#'), and no
    /ObjStm object streams (a name INSIDE a compressed object stream is
    invisible in the raw bytes, but the ObjStm's own stream dict can
    never itself be compressed [PDF17 §7.5.7], so its /Type /ObjStm
    marker always is visible; encryption never touches names). At crawl
    scale almost every PDF prunes, skipping xref+object loading."""
    if b"#" in blob or b"/ObjStm" in blob:
        return False
    return not any(t in blob for t in tokens)


def _pdf(rows, *markers: bytes, parse=load_document):
    """Row function of a PDF side table: ``rows(parse(blob))``, where
    ``parse`` is ``load_document`` unless the table reads the raw bytes
    (``parse=bytes``). A NULL or non-PDF blob gives no rows, and so does
    one that ``_prune_skip`` proves free of every marker name."""

    def pdf_rows(url, blob):
        if blob is None or not is_pdf(blob):
            return ()
        if markers and _prune_skip(blob, *markers):
            return ()
        return rows(parse(blob))

    return pdf_rows


def _edge_rows(doc):
    return (
        {
            "src_num": src[0] if src else None,
            "src_gen": src[1] if src else None,
            "dst_num": dst[0],
            "dst_gen": dst[1],
            "path": path,
            "dangling": dst not in doc.objects,
        }
        for src, dst, path in doc.edges
    )


def _object_rows(doc):
    types = check_types(doc).assignments
    n_refs = Counter(dst for dsts in doc.links.values() for dst in dsts)
    for key in sorted(doc.objects):
        o = doc.objects[key]
        body = o.d if isinstance(o, Stream) else o
        kind = "stream" if isinstance(o, Stream) else type(body).__name__.lower()
        yield {
            "num": key[0],
            "gen": key[1],
            "kind": kind,
            "type_name": types.get(key),
            "body_json": canonical_json(body),
            "n_refs": n_refs[key],
        }


def _cleanup_rows(doc):
    clean = cleanup(doc)
    return [
        {
            "clean_md5": hashlib.md5(clean).hexdigest(),
            "clean_bytes": len(clean),
            "fixpoint": clean == cleanup(load_document(clean)),
        }
    ]


EDGES = doc_table(
    _pdf(_edge_rows),
    src_num=INT,
    src_gen=INT,
    dst_num=INT,
    dst_gen=INT,
    path=STRING,
    dangling=BOOLEAN,
)
OBJECTS = doc_table(
    _pdf(_object_rows),
    num=INT,
    gen=INT,
    kind=STRING,
    type_name=STRING,
    body_json=STRING,
    n_refs=INT,
)
CLEANUP = doc_table(
    _pdf(_cleanup_rows), clean_md5=STRING, clean_bytes=BIGINT, fixpoint=BOOLEAN
)

_SIDE_CACHE: dict = {}


def _corpus(spark, sf):
    return synth_df(spark, corpus_rows_for_sf(sf))


def _cached(spark, sf, which: str):
    """Session-scoped cache (qcache) of the exploded side tables
    (edges/objects): several qkeys consume each, and the engine pass
    dominates their cost."""
    from caraspark.qcache import get_or_persist

    table = {"edges": EDGES, "objects": OBJECTS}[which]
    return get_or_persist(
        _SIDE_CACHE, spark, (sf, which), lambda: table.over(_corpus(spark, sf))
    )


@_q(
    "pdf_edges",
    f"""WITH {corpus_cte()},
{extras_cte()}
SELECT d.url, CAST(x.n_edges AS BIGINT) AS n_edges,
       CAST(x.n_dangling AS BIGINT) AS n_dangling,
       CAST(x.n_trailer_roots AS BIGINT) AS n_trailer_roots
FROM docs d JOIN px x ON x.rid = d.rid WHERE x.n_edges > 0""",
)
def pdf_edges(spark, sf):
    # C20: the reference graph as a first-class table
    e = _cached(spark, sf, "edges")
    return e.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.when(F.col("dangling"), 1).otherwise(0)).alias("n_dangling"),
        F.sum(F.when(F.col("src_num").isNull(), 1).otherwise(0)).alias(
            "n_trailer_roots"
        ),
    )


@_q(
    "pdf_dangling",
    f"""WITH {corpus_cte()},
{extras_cte()}
SELECT d.url, CAST(x.n_dangling AS BIGINT) AS n_dangling,
       x.dangling_paths AS paths
FROM docs d JOIN px x ON x.rid = d.rid WHERE x.n_dangling > 0""",
)
def pdf_dangling(spark, sf):
    # C21 at corpus scale as a real LEFT ANTI join: edge targets with no
    # matching row in the objects table
    edges = _cached(spark, sf, "edges")
    objects = _cached(spark, sf, "objects")
    tgt = edges.select(
        "url", F.col("dst_num").alias("num"), F.col("dst_gen").alias("gen"), "path"
    )
    missing = tgt.join(
        objects.select("url", "num", "gen"), ["url", "num", "gen"], "left_anti"
    )
    return missing.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_dangling"),
        F.concat_ws(",", F.sort_array(F.collect_list("path"))).alias("paths"),
    )


@_q(
    "pdf_findref",
    f"""WITH {corpus_cte()},
{findref_cte()}
SELECT d.url, f.src_num, f.src_gen, f.path
FROM docs d JOIN fr f ON f.rid = d.rid""",
)
def pdf_findref(spark, sf):
    # C25: reverse reference lookup — who references object 2 0?
    edges = _cached(spark, sf, "edges")
    return (
        edges.filter((F.col("dst_num") == 2) & (F.col("dst_gen") == 0))
        .select("url", "src_num", "src_gen", "path")
        .orderBy("url", "src_num", "path")
    )


@_q(
    "pdf_types",
    f"""WITH {corpus_cte()},
{types_cte()}
SELECT t.type_name, CAST(sum(t.cnt) AS BIGINT) AS n_objects,
       CAST(count(*) AS BIGINT) AS n_docs
FROM docs d JOIN ty t ON t.rid = d.rid GROUP BY t.type_name""",
)
def pdf_types(spark, sf):
    # C22: per-object inferred types, aggregated per type name
    objects = _cached(spark, sf, "objects")
    return (
        objects.filter(F.col("type_name").isNotNull())
        .groupBy("type_name")
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.countDistinct("url").alias("n_docs"),
        )
    )


@_q(
    "pdf_objects",
    f"""WITH {corpus_cte()},
{objkind_cte()}
SELECT o.okind AS kind, CAST(sum(o.n_obj) AS BIGINT) AS n,
       CAST(sum(o.refs) AS BIGINT) AS total_refs,
       CAST(max(o.maxb) AS INT) AS max_body_json
FROM docs d JOIN ok o ON o.rid = d.rid GROUP BY o.okind""",
)
def pdf_objects(spark, sf):
    # C6/C17: the exploded canonical objects table
    objects = _cached(spark, sf, "objects")
    return objects.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_refs").alias("total_refs"),
        F.max(F.length("body_json")).alias("max_body_json"),
    )


@_q(
    "pdf_objects_variant",
    f"""WITH {corpus_cte()},
{variant_cte()}
SELECT v.obj_type, CAST(sum(v.n_obj) AS BIGINT) AS n,
       CAST(sum(v.cnt_sum) AS BIGINT) AS sum_count
FROM docs d JOIN va v ON v.rid = d.rid GROUP BY v.obj_type""",
)
def pdf_objects_variant(spark, sf):
    # Spark 4 VARIANT path (SURVEY.md §1.1): canonical-JSON bodies parse
    # into variant once, then typed drilling happens in the JVM with
    # variant_get — no re-parse per predicate, shredded binary encoding.
    # '$d'/'$n' are our canonical-form markers, hence the escaped dollars.
    objects = _cached(spark, sf, "objects")
    v = objects.select(
        "url",
        "num",
        F.parse_json("body_json").alias("v"),
    )
    typed = v.select(
        "url",
        "num",
        F.expr(r"try_variant_get(v, '$.\$d.Type.\$n', 'string')").alias(
            "obj_type"
        ),
        F.expr(r"try_variant_get(v, '$.\$d.Count', 'long')").alias("count"),
    )
    return (
        typed.filter(F.col("obj_type").isNotNull())
        .groupBy("obj_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("count"), F.lit(0))).alias("sum_count"),
        )
    )


@_q(
    "pdf_cleanup",
    f"""WITH {corpus_cte()},
{extras_cte()}
SELECT d.url, x.clean_md5, CAST(x.clean_bytes AS BIGINT) AS clean_bytes,
       x.fixpoint
FROM docs d JOIN px x ON x.rid = d.rid""",
)
def pdf_cleanup(spark, sf):
    # C24: canonical re-serialization; fixpoint must hold corpus-wide
    return CLEANUP.over(_corpus(spark, sf))


# ---------------------------------------------------------------------------
# U6: Python UDTF — one document row → many object rows, lateral-joined
# ---------------------------------------------------------------------------


def _make_objects_udtf():
    from pyspark.sql.functions import udtf

    @udtf(returnType="num int, gen int, kind string, n_refs int")
    class ExplodeObjects:
        """UDTF alternative to the mapInArrow objects pass (SURVEY.md U6):
        LATERAL-join one blob into its object rows (``OBJECTS``' rows)."""

        def eval(self, url: str, blob):
            for r in OBJECTS.rows(url, None if blob is None else bytes(blob)):
                yield r["num"], r["gen"], r["kind"], r["n_refs"]

    return ExplodeObjects


@_q(
    "udtf_objects",
    f"""WITH {corpus_cte()},
{objkind_cte()}
SELECT o.okind AS kind, CAST(sum(o.n_obj) AS BIGINT) AS n,
       CAST(sum(o.refs) AS BIGINT) AS total_refs
FROM docs d JOIN ok o ON o.rid = d.rid GROUP BY o.okind""",
)
def udtf_objects(spark, sf):
    # same answer shape as pdf_objects but via a registered UDTF + LATERAL
    spark.udtf.register("explode_objects", _make_objects_udtf())
    _corpus(spark, sf).createOrReplaceTempView("corpus_raw")
    return spark.sql(
        """SELECT t.kind, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(t.n_refs) AS BIGINT) AS total_refs
           FROM corpus_raw c,
                LATERAL explode_objects(c.url, c.html) t
           GROUP BY t.kind"""
    )


def _attachment_rows(doc):
    for a in extract_attachments(doc):
        payload = a["payload"]
        md5 = None if payload is None else hashlib.md5(payload).hexdigest()
        yield {"att_name": a["name"], "att_md5": md5, "att_size": a["size"]}


ATTACHMENTS = doc_table(
    _pdf(_attachment_rows, b"/EmbeddedFiles"),
    att_name=STRING,
    att_md5=STRING,
    att_size=BIGINT,
)


@_q(
    "pdf_attachments",
    f"""WITH {corpus_cte()},
{frozen_cte("att", "ATTACHMENTS")}
SELECT d.url, a.att_name, a.att_md5, CAST(a.att_size AS BIGINT) AS att_size
FROM docs d JOIN att a ON a.rid = d.rid""",
)
def pdf_attachments(spark, sf):
    """Embedded-file attachments across the corpus (PDF17 SS7.11): every
    /Names /EmbeddedFiles tree entry with the md5 + size of its DECODED
    /EF stream — pins the name-tree walk, filespec deref, and the filter
    chain end-to-end against the frozen per-recipe rows. Narrow Arrow
    stage like every side table; payload bytes never leave the executor
    (only digests are emitted)."""
    return ATTACHMENTS.over(_corpus(spark, sf))


OUTLINE = doc_table(
    _pdf(extract_outline, b"/Outlines"), pos=INT, level=INT, title=STRING
)


@_q(
    "pdf_outline",
    f"""WITH {corpus_cte()},
{frozen_cte("ol", "OUTLINE")}
SELECT d.url, CAST(o.pos AS INT) AS pos, CAST(o.level AS INT) AS level,
       o.title
FROM docs d JOIN ol o ON o.rid = d.rid""",
)
def pdf_outline(spark, sf):
    """Document outlines (bookmarks) across the corpus [PDF17 SS12.3.3]:
    preorder position, nesting level, and Annex-D-decoded title of every
    reachable outline item — pins the First/Next chain walk and text-
    string decode against the frozen per-recipe rows. Narrow Arrow stage,
    no shuffle."""
    return OUTLINE.over(_corpus(spark, sf))


def _formfield_rows(doc):
    # the engine's name/value are the table's fname/fvalue
    return (
        {**f, "fname": f["name"], "fvalue": f["value"]}
        for f in extract_form_fields(doc)
    )


FORMFIELDS = doc_table(
    _pdf(_formfield_rows, b"/AcroForm"),
    pos=INT,
    fname=STRING,
    ft=STRING,
    fvalue=STRING,
)


@_q(
    "pdf_formfields",
    f"""WITH {corpus_cte()},
{frozen_cte("ff", "FORMFIELDS")}
SELECT d.url, CAST(f.pos AS INT) AS pos, f.fname, f.ft, f.fvalue
FROM docs d JOIN ff f ON f.rid = d.rid""",
)
def pdf_formfields(spark, sf):
    """AcroForm field values across the corpus [PDF17 SS12.7]: terminal
    fields with dotted fully-qualified names, inherited /FT and /V
    resolved (radio-group pattern), values rendered deterministically —
    hash-verified against frozen per-recipe rows. Narrow Arrow stage."""
    return FORMFIELDS.over(_corpus(spark, sf))


@_q(
    "pdf_images",
    f"""WITH {corpus_cte()},
{types_cte()}
SELECT d.url, CAST(t.cnt AS BIGINT) AS n_images
FROM docs d JOIN ty t ON t.rid = d.rid
WHERE t.type_name = 'xobject_image'""",
)
def pdf_images(spark, sf):
    """Per-document image-XObject inventory (the PDF side of the
    multimodal mining story: which documents carry raster images worth
    decoding, before any pixel bytes move).  Rides the cached typed
    objects table — the type checker already classified every object, so
    this is a filter + per-url count, no second engine pass.

    Scale: the filter prunes to image objects in the scan; the groupBy
    keys on url with map-side combine — one narrow exchange of (url,
    count) pairs."""
    objects = _cached(spark, sf, "objects")
    return (
        objects.filter(F.col("type_name") == "xobject_image")
        .groupBy("url")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_images"))
    )


# a /JavaScript (or abbreviated /JS) action name needs a literal "/J"
# somewhere in plaintext — see _prune_skip
JAVASCRIPT = doc_table(
    _pdf(extract_javascript, b"/J"),
    pos=INT,
    source=STRING,
    js_len=INT,
    js_md5=STRING,
    js_head=STRING,
)


@_q(
    "pdf_javascript",
    f"""WITH {corpus_cte()},
{frozen_cte("js", "JAVASCRIPT")}
SELECT d.url, j.pos, j.source, j.js_len, j.js_md5, j.js_head
FROM docs d JOIN js j ON j.rid = d.rid""",
)
def pdf_javascript(spark, sf):
    """JavaScript inventory across the corpus [PDF17 SS12.6.4.16]: every
    /S /JavaScript action reachable from the catalog (OpenAction chains,
    catalog /AA, the /Names /JavaScript name tree, annotation /A + /AA),
    with payload length/md5/head — the hostile-PDF triage table (the
    LangSec motivation: surface active content, don't just render it).
    Hash-verified against frozen per-recipe rows; stream-backed /JS
    payloads pin the filter chain too. Narrow Arrow stage like every
    side table; only digests and 32-char heads leave the executor."""
    return JAVASCRIPT.over(_corpus(spark, sf))


# actions hang off exactly five catalog hooks — a blob with none of their
# marker names (see _prune_skip) has no reachable action at all
ACTIONS = doc_table(
    _pdf(
        extract_actions,
        b"/OpenAction",
        b"/AA",
        b"/JavaScript",
        b"/Annots",
        b"/Outlines",
    ),
    pos=INT,
    source=STRING,
    s=STRING,
    target=STRING,
)


@_q(
    "pdf_actions",
    f"""WITH {corpus_cte()},
{frozen_cte("act", "ACTIONS")}
SELECT d.url, CAST(a.pos AS INT) AS pos, a.source, a.s, a.target
FROM docs d JOIN act a ON a.rid = d.rid""",
)
def pdf_actions(spark, sf):
    """Action census across the corpus [PDF17 SS12.6]: EVERY action
    reachable from the catalog (the shared walk: OpenAction chains,
    catalog /AA, the JavaScript name tree, annotation /A + /AA,
    outline-item /A) with its /S subtype and bounded target detail — the
    full hostile-action triage surface (Launch//GoToR reach outside the
    document, URI//SubmitForm exfiltrate, Named drives the viewer), not
    just the JavaScript slice `pdf_javascript` pins. Hash-verified
    against frozen per-recipe rows. Narrow Arrow stage; only subtype
    names and 64-char target heads leave the executor."""
    return ACTIONS.over(_corpus(spark, sf))


REVISIONS = doc_table(
    _pdf(extract_revisions),
    rev=INT,
    kind=STRING,
    size=INT,
    has_prev=BOOLEAN,
    has_xrefstm=BOOLEAN,
    n_won=INT,
)


@_q(
    "pdf_revisions",
    f"""WITH {corpus_cte()},
{frozen_cte("rv", "REVISIONS")}
SELECT d.url, CAST(r.rev AS INT) AS rev, r.kind,
       CAST(r.size AS INT) AS size, r.has_prev, r.has_xrefstm,
       CAST(r.n_won AS INT) AS n_won
FROM docs d JOIN rv r ON r.rid = d.rid""",
)
def pdf_revisions(spark, sf):
    """Incremental-update forensics across the corpus (C12 chain,
    [PDF17 §7.5.6]): one row per revision with its trailer kind
    (classic vs xref-stream), declared /Size, /Prev and hybrid /XRefStm
    flags, and n_won — the in-use xref entries the revision still owns
    under newest-first first-writer-wins, i.e. what each later save
    actually touched (signature-defeating object swaps surface exactly
    here). Narrow Arrow stage; only fixed-width facts leave the
    executor."""
    return REVISIONS.over(_corpus(spark, sf))


PAGES = doc_table(
    _pdf(extract_pages),
    page=INT,
    obj=STRING,
    content_bytes=INT,
    text_len=INT,
    text_md5=STRING,
)


@_q(
    "pdf_pages",
    f"""WITH {corpus_cte()},
{frozen_cte("pg", "PAGES")}
SELECT d.url, CAST(p.page AS INT) AS page, p.obj,
       CAST(p.content_bytes AS INT) AS content_bytes,
       CAST(p.text_len AS INT) AS text_len, p.text_md5
FROM docs d JOIN pg p ON p.rid = d.rid""",
)
def pdf_pages(spark, sf):
    """Per-page text facts across the corpus: the page-granular view of
    the extraction pipeline (tree-order page index, page object id,
    assembled /Contents byte count, per-page text length + md5) — pins
    the page-tree DFS, multi-stream /Contents assembly, and per-page
    resource contexts against the frozen rows, independently of the
    whole-document form-feed join the goldens pin. Narrow Arrow stage;
    digests only."""
    return PAGES.over(_corpus(spark, sf))


FONTS = doc_table(
    _pdf(extract_fonts, b"/Font"),
    obj=STRING,
    subtype=STRING,
    base_font=STRING,
    embedded=BOOLEAN,
)


@_q(
    "pdf_fonts",
    f"""WITH {corpus_cte()},
{frozen_cte("ft", "FONTS")}
SELECT d.url, f.obj, f.subtype, f.base_font, f.embedded
FROM docs d JOIN ft f ON f.rid = d.rid""",
)
def pdf_fonts(spark, sf):
    """Font census across the corpus [PDF17 §9]: every type-checked
    font-family object with its subtype, BaseFont and EMBEDDING status
    (descriptor /FontFile*, Type0 resolved through its descendant) —
    the rendering-fidelity / extraction-coverage audit surface: a
    non-embedded font means text extraction depended on external
    metrics. Byte-level /Font prune skips fontless documents before any
    parse; narrow Arrow stage, fixed-width facts only."""
    return FONTS.over(_corpus(spark, sf))


SIGS = doc_table(
    _pdf(
        lambda blob: extract_signatures(load_document(blob), len(blob)),
        b"/ByteRange",
        parse=bytes,
    ),
    obj=STRING,
    filter=STRING,
    subfilter=STRING,
    n_ranges=INT,
    starts_at_zero=BOOLEAN,
    unsigned_tail=INT,
)


@_q(
    "pdf_sigs",
    f"""WITH {corpus_cte()},
{frozen_cte("sg", "SIGS")}
SELECT d.url, s.obj, s.filter, s.subfilter,
       CAST(s.n_ranges AS INT) AS n_ranges, s.starts_at_zero,
       CAST(s.unsigned_tail AS INT) AS unsigned_tail
FROM docs d JOIN sg s ON s.rid = d.rid""",
)
def pdf_sigs(spark, sf):
    """Signature-coverage forensics across the corpus [PDF17 §12.8.1]:
    every type-checked signature dict with Filter/SubFilter, ByteRange
    shape (range count, zero start) and ``unsigned_tail`` — the bytes an
    incremental update appended AFTER signing (the content-swap vector
    ``pdf_revisions``' n_won localizes). Byte-level /ByteRange prune
    skips unsigned documents before any parse; narrow Arrow stage,
    fixed-width facts only."""
    return SIGS.over(_corpus(spark, sf))


XMP = doc_table(
    _pdf(extract_xmp, b"/Metadata"),
    obj=STRING,
    xmp_title=STRING,
    xmp_creator=STRING,
    create_date=STRING,
    info_title=STRING,
    title_match=BOOLEAN,
)


@_q(
    "pdf_xmp",
    f"""WITH {corpus_cte()},
{frozen_cte("xm", "XMP")}
SELECT d.url, x.obj, x.xmp_title, x.xmp_creator, x.create_date,
       x.info_title, x.title_match
FROM docs d JOIN xm x ON x.rid = d.rid""",
)
def pdf_xmp(spark, sf):
    """Dual-metadata census across the corpus [PDF17 §14.3]: every XMP
    metadata stream's dc:title / dc:creator / xmp:CreateDate next to the
    trailer /Info /Title, with the title_match cross-check that flags
    tooling drift and tampering (producers SHOULD keep packet and Info
    synchronized). Byte-level /Metadata prune skips packless documents
    before any parse; narrow Arrow stage, fixed-width facts only."""
    return XMP.over(_corpus(spark, sf))


# scavenge_summary's five counts, in its return order
_SCAVENGE_COUNTS = ("n_markers", "n_parsed", "n_confirmed", "n_shadow", "n_xref_inuse")
SCAVENGE = doc_table(
    _pdf(
        lambda blob: [dict(zip(_SCAVENGE_COUNTS, scavenge_summary(blob)))],
        parse=bytes,
    ),
    **dict.fromkeys(_SCAVENGE_COUNTS, INT),
)


@_q(
    "pdf_scavenge",
    f"""WITH {corpus_cte()},
{frozen_cte("sv", "SCAVENGE")}
SELECT d.url, CAST(s.n_markers AS INT) AS n_markers,
       CAST(s.n_parsed AS INT) AS n_parsed,
       CAST(s.n_confirmed AS INT) AS n_confirmed,
       CAST(s.n_shadow AS INT) AS n_shadow,
       CAST(s.n_xref_inuse AS INT) AS n_xref_inuse
FROM docs d JOIN sv s ON s.rid = d.rid""",
)
def pdf_scavenge(spark, sf):
    """Xref-free recovery census across the corpus: scan every PDF's raw
    bytes for ``N G obj`` headers, parse each WITHOUT the xref, and
    reconcile against what the xref owns — `n_confirmed` (a live inuse
    entry points at exactly this header), `n_shadow` (headers only
    recovery sees: superseded revisions after incremental update, orphans,
    or ALL objects when the xref is dead). The truncated/bad-offset
    recipes pin the dead-xref extreme (xref resolves 0, scavenger still
    recovers), `pdf_updated` pins the superseded-revision shadow, clean
    recipes pin shadow = 0. Capability parity: caradoc's recovery/object-
    scan family (``src/parser/`` [P]).

    Scale shape: one narrow Arrow pass per document partition — the scan
    is a compiled-regex pass over bytes already in the task, the recovery
    parse reuses the bounded throw-free engine, output is five fixed-width
    ints per url; zero shuffles."""
    return SCAVENGE.over(_corpus(spark, sf))


def _repair_rows(blob):
    rep = repair_document(blob)
    return [
        {
            "repaired_bytes": len(rep),
            "repaired_md5": hashlib.md5(rep).hexdigest(),
            "n_objects": len(load_document(rep).objects),
            "repaired_valid": process_document(rep).valid,
        }
    ]


REPAIR = doc_table(
    _pdf(_repair_rows, parse=bytes),
    repaired_bytes=BIGINT,
    repaired_md5=STRING,
    n_objects=INT,
    repaired_valid=BOOLEAN,
)


@_q(
    "pdf_repair",
    f"""WITH {corpus_cte()},
{frozen_cte("rp", "REPAIR")}
SELECT d.url, CAST(r.repaired_bytes AS BIGINT) AS repaired_bytes,
       r.repaired_md5, CAST(r.n_objects AS INT) AS n_objects,
       r.repaired_valid
FROM docs d JOIN rp r ON r.rid = d.rid""",
)
def pdf_repair(spark, sf):
    """Corpus-scale recovery rewrite: every PDF repaired via the
    scavenge-backed writer (``cleanup.repair_document``) and re-validated
    — repaired bytes are md5-pinned per recipe, so the whole
    scavenge→last-wins→decode-or-keep-raw→canonical-write chain is
    byte-deterministic end to end across the distributed pass. The
    truncated/bad-offset recipes pin the dead-xref branch (normal load
    gets nothing, repair emits a VALID document); healthy recipes pin
    repair ≡ cleanup.

    Scale shape: one narrow Arrow pass per partition, same as every
    engine qkey — repair is per-document pure compute, no exchange; the
    output row is five fixed-width columns."""
    return REPAIR.over(_corpus(spark, sf))


ANNOTS = doc_table(
    _pdf(extract_annotations, b"/Annots"),
    pos=INT,
    page_idx=INT,
    subtype=STRING,
    has_action=BOOLEAN,
    has_aa=BOOLEAN,
    has_appearance=BOOLEAN,
)


@_q(
    "pdf_annots",
    f"""WITH {corpus_cte()},
{frozen_cte("an", "ANNOTS")}
SELECT d.url, CAST(a.pos AS INT) AS pos, CAST(a.page_idx AS INT) AS page_idx,
       a.subtype, a.has_action, a.has_aa, a.has_appearance
FROM docs d JOIN an a ON a.rid = d.rid""",
)
def pdf_annots(spark, sf):
    """Annotation census across the corpus [PDF17 SS12.5]: every entry
    of every page's /Annots array in page-tree order, with its /Subtype
    and the has-/A, has-/AA, has-/AP flags — the per-annotation
    inventory behind interactive-feature triage, complementing
    ``pdf_actions`` (which only sees annotations carrying actions) and
    the typechecker's 22 annotation classes (which validate but don't
    tabulate).  Hash-verified against frozen per-recipe rows.  Narrow
    Arrow stage; the ``/Annots`` byte-marker prune skips the page walk
    for the (overwhelming at web scale) annotation-free majority."""
    return ANNOTS.over(_corpus(spark, sf))


CONTENT_OPS = doc_table(_pdf(content_op_histogram), op=STRING, n=INT)


@_q(
    "pdf_content_ops",
    f"""WITH {corpus_cte()},
{frozen_cte("co", "CONTENT_OPS")}
SELECT d.url, c.op, CAST(c.n AS INT) AS n
FROM docs d JOIN co c ON c.rid = d.rid""",
)
def pdf_content_ops(spark, sf):
    """Content-stream operator histogram across the corpus [PDF17
    SS8-9]: per document, how many of each operator its pages' decoded
    content streams execute (text Tj/TJ/Tf, paths m/l/re/f, XObject Do,
    state q/Q/cm, inline-image BI/ID/EI with payload bytes skipped via
    the extractor's own EI scan) — an extraction-quality signal
    (text-op-free pages are scans needing OCR) and a renderer
    attack-surface profile.  Same lexer, same page order, same Form
    XObject boundaries as text extraction; hash-verified against frozen
    per-recipe rows.  Narrow Arrow stage; only (op, count) pairs leave
    the executor."""
    return CONTENT_OPS.over(_corpus(spark, sf))


STREAM_STATS = doc_table(
    _pdf(stream_stats),
    num=INT,
    gen=INT,
    decoded=BOOLEAN,
    n_bytes=BIGINT,
    n_distinct=INT,
    top_permille=INT,
)


@_q(
    "pdf_stream_stats",
    f"""WITH {corpus_cte()},
{frozen_cte("ss", "STREAM_STATS")}
SELECT d.url, CAST(s.num AS INT) AS num, CAST(s.gen AS INT) AS gen,
       s.decoded, CAST(s.n_bytes AS BIGINT) AS n_bytes,
       CAST(s.n_distinct AS INT) AS n_distinct,
       CAST(s.top_permille AS INT) AS top_permille
FROM docs d JOIN ss s ON s.rid = d.rid""",
)
def pdf_stream_stats(spark, sf):
    """Per-stream byte-statistics census: decoded length, distinct-byte
    count, and modal-byte permille for EVERY stream object — the
    embedded-payload triage table (text-like streams: few distinct
    bytes, high mode; compressed/encrypted blobs: ≈256 distinct, flat
    mode) computed with exact integers, no float entropy; undecodable
    streams surface with decoded=FALSE, so filter-chain failures are
    tabulated, not silent.  Hash-verified against frozen per-recipe
    rows.  Narrow Arrow stage; payload bytes never leave the executor —
    only six small integers per stream."""
    return STREAM_STATS.over(_corpus(spark, sf))
