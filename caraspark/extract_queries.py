"""Extraction-side qkeys + the flagship query (SURVEY.md Part A rows).

``doc_extract_roundtrip`` is the hash-verified end-to-end proof: documents
from the driver testdata are wrapped in HTML boilerplate JVM-side, pushed
through the full mapInArrow extraction pipeline, and the oracle SQL predicts
the extracted text in closed form — so the whole engine (routing, HTML
strip, Arrow plumbing) is value-hash-checked against DuckDB.

The PDF-side operators run the real pipeline over the synthetic corpus
and hash-verify against frozen per-recipe/per-idx expected results
(caraspark/oracle_freeze.py); byte-level ground truth stays pinned by the
committed goldens in tests/. Only partition_metrics remains rows-only —
its parse_ms timings are inherently nondeterministic.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F, types as T

from caraspark.corpus import corpus_rows_for_sf, html_docs, synth_df
from caraspark.extract import extract
from caraspark.oracle_freeze import (
    alt_cte,
    anchors_cte,
    corpus_cte,
    images_cte,
    jsonld_cte,
    lists_cte,
    perdoc_cte,
    tables_cte,
)
from caraspark.relational import Q, registrar
from caraspark.schemas import EXTRACTED, SURFACE_COLUMNS
from caraspark.tables import load

REGISTRY: dict[str, Q] = {}
_q = registrar(REGISTRY)

_EXTRACT_CACHE: dict = {}


def _extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped cache (qcache): one extraction pass serves every
    doc_* qkey in a correctness/bench run instead of re-running the
    engine per query."""
    from caraspark.qcache import get_or_persist

    return get_or_persist(
        _EXTRACT_CACHE,
        spark,
        sf_dir,
        lambda: extract(synth_df(spark, corpus_rows_for_sf(sf_dir))),
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry(): full pipeline over the synthetic corpus → verdict stats."""
    ex = _extracted(spark, sf_dir)
    return (
        ex.groupBy("kind", F.col("verdict.valid").alias("valid"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("text_bytes"),
            F.avg("metrics.n_objects").alias("avg_objects"),
            F.sum("metrics.bytes_in").alias("bytes_in"),
        )
        .orderBy("kind", "valid")
    )


@_q(
    "doc_extract_roundtrip",
    """SELECT CAST(doc_id AS VARCHAR) AS url, text AS extracted
       FROM documents""",
)
def doc_extract_roundtrip(spark, sf):
    # closed-form invariant: the HTML wrap adds only boilerplate (nav/
    # footer/script) around one <p>; the SPEC strips it and whitespace-
    # normalizes — documents.text is already single-spaced, so
    # extracted == text exactly.
    docs = load(spark, sf, "documents")
    raw = html_docs(
        docs,
        "<html><head><title>t</title></head><body>"
        "<nav><a href='/'>home</a><a href='/a'>about</a></nav>"
        "<main><p>",
        F.col("text"),
        "</p></main><footer>(c) synth</footer>"
        "<script>x()</script></body></html>",
    )
    ex = extract(raw)
    return ex.select(
        "url", F.decode("text", "utf-8").alias("extracted")
    )


@_q(
    "doc_extract",
    f"""WITH {corpus_cte()},
{perdoc_cte()}
SELECT url, valid, strict, kind, text_len AS text_bytes, text_md5
FROM perdoc""",
)  # oracle: frozen per-recipe/per-idx extraction results (oracle_freeze)
def doc_extract(spark, sf):
    ex = _extracted(spark, sf)
    return ex.select(
        "url",
        F.col("verdict.valid").alias("valid"),
        F.col("verdict.strict").alias("strict"),
        "kind",
        F.length("text").alias("text_bytes"),
        F.md5("text").alias("text_md5"),
    )


class _Sig(NamedTuple):
    """One per-document signature of an EXTRACTED array surface, named
    ``{surface}_sig``: its elements as canonical strings (``_canonical``)
    joined by "\\x1f" under md5 — the hex digest keeps control bytes out
    of SQL literals — or, plain, joined by ";"."""

    surface: str
    count: str  # the name of the size column beside the signature
    md5: bool = True
    fsep: str = ":"  # joins a struct element's fields
    counted: str | None = None  # the array the count sizes, if not surface


# The corpus signatures: every surface over the full synth corpus (PDF and
# HTML recipes, []-for-PDF array surfaces) against the frozen
# per-recipe/per-idx expected values of ``perdoc`` (oracle_freeze). A tuple
# row selects scalar surface columns as they are.
_SIGS = {
    "doc_spans_sig": _Sig("spans", "n_spans", md5=False, fsep="-"),
    "doc_outlinks_sig": _Sig("outlinks", "n_outlinks", md5=False),
    "doc_title_sig": ("title",),
    "doc_headmeta_sig": ("canonical", "description"),
    "doc_ogmeta_sig": SURFACE_COLUMNS["ogmeta"],
    "doc_headings_sig": _Sig("headings", "n_headings", md5=False),
    "doc_anchors_sig": _Sig("anchors", "n_outlinks", counted="outlinks"),
    "doc_tables_sig": _Sig("tables", "n_cells"),
    "doc_lists_sig": _Sig("lists", "n_items"),
    "doc_images_sig": _Sig("images", "n_images"),
    "doc_jsonld_sig": _Sig("jsonld", "n_jsonld"),
    "doc_alternates_sig": _Sig("alternates", "n_alternates"),
    "doc_forms_sig": _Sig("forms", "n_forms"),
    "doc_microdata_sig": _Sig("microdata", "n_microdata"),
    "doc_rdfa_sig": _Sig("rdfa", "n_rdfa"),
}


def _canonical(surface: str, fsep: str) -> Column:
    """Each element of an EXTRACTED array column as one string: a struct's
    fields in EXTRACTED order joined by ``fsep`` (booleans as 0/1), a
    string element as it is."""
    elem = EXTRACTED[surface].dataType.elementType
    if not isinstance(elem, T.StructType):
        return F.col(surface)

    def field(x, f):
        if isinstance(f.dataType, T.StringType):
            return x[f.name]
        if isinstance(f.dataType, T.BooleanType):
            return x[f.name].cast("int").cast("string")
        return x[f.name].cast("string")

    return F.transform(
        surface,
        lambda x: F.concat_ws(fsep, *(field(x, f) for f in elem.fields)),
    )


def _sig_query(key: str, s) -> None:
    """Register ``key``: url plus the row's columns for every synth
    document, checked against the same columns of ``perdoc``."""
    if isinstance(s, _Sig):
        cols = f"CAST({s.count} AS INT) AS {s.count}, {s.surface}_sig"
    else:
        cols = ", ".join(s)

    sql = f"WITH {corpus_cte()},\n{perdoc_cte()}\nSELECT url, {cols}\nFROM perdoc"

    @_q(key, sql)
    def fn(spark, sf):
        ex = _extracted(spark, sf)
        if not isinstance(s, _Sig):
            return ex.select("url", *s)
        canon = _canonical(s.surface, s.fsep)
        joined = F.concat_ws("\x1f" if s.md5 else ";", canon)
        sig = F.md5(F.encode(joined, "utf-8")) if s.md5 else joined
        return ex.select(
            "url",
            F.size(s.counted or s.surface).alias(s.count),
            sig.alias(f"{s.surface}_sig"),
        )


for _key, _s in _SIGS.items():
    _sig_query(_key, _s)


_SPAN_LIT = "naïve café — 漢字 span check"  # multibyte: octets ≠ chars


@_q(
    "doc_spans",
    f"""SELECT CAST(doc_id AS VARCHAR) AS url,
       CAST(0 AS BIGINT) AS span_start,
       CAST(octet_length(encode(text)) AS BIGINT) AS span_end,
       'block:0' AS label
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR) AS url,
       CAST(octet_length(encode(text)) + 1 AS BIGINT) AS span_start,
       CAST(octet_length(encode(text)) + 1
            + octet_length(encode('{_SPAN_LIT}')) AS BIGINT) AS span_end,
       'block:1' AS label
FROM documents""",
)
def doc_spans(spark, sf):
    """v3 SPANS, hash-verified closed-form (north_rule "text/spans per
    document"): two-block HTML wrap — block 0 is documents.text (already
    single-spaced, so it survives normalization verbatim), block 1 a fixed
    multibyte literal. The oracle predicts every span's OCTET offsets with
    octet_length, so a chars-vs-bytes bug anywhere in the span plumbing
    (engine, Arrow schema, UTF-8 encode) hash-mismatches."""
    docs = load(spark, sf, "documents")
    raw = html_docs(
        docs,
        "<html><body><main><p>",
        F.col("text"),
        f"</p><p>{_SPAN_LIT}</p></main>",
        "<footer>(c) synth</footer></body></html>",
    )
    ex = extract(raw)
    s = ex.select("url", F.explode("spans").alias("s"))
    return s.select(
        "url",
        F.col("s.start").alias("span_start"),
        F.col("s.end").alias("span_end"),
        F.col("s.label").alias("label"),
    )


@_q(
    "doc_outlinks",
    """SELECT CAST(doc_id AS VARCHAR) AS url,
       CAST(0 AS INTEGER) AS pos,
       '/p/' || CAST(doc_id + 1 AS VARCHAR) AS href
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR) AS url,
       CAST(1 AS INTEGER) AS pos,
       'https://hub.example/t?q=' || CAST(doc_id % 7 AS VARCHAR) AS href
FROM documents""",
)
def doc_outlinks(spark, sf):
    """v4 OUTLINKS, hash-verified closed-form: each document is wrapped in
    HTML carrying five anchors of which exactly two survive the SPEC's
    rules — a duplicate (first-occurrence dedup), a pure fragment, a
    mailto:, a nav-region link, and a boiler-region link must all be
    skipped, in document order, with deterministic hrefs derived from
    doc_id so DuckDB can predict every (url, pos, href) row."""
    docs = load(spark, sf, "documents")
    nxt = F.concat(F.lit("/p/"), (F.col("doc_id") + 1).cast("string"))
    hub = F.concat(
        F.lit("https://hub.example/t?q="),
        (F.col("doc_id") % 7).cast("string"),
    )
    raw = html_docs(
        docs,
        '<html><body><main><p>',
        F.col("text"),
        '</p></main><p><a href="',
        nxt,
        '">next</a> <a href="',
        hub,
        '">topic</a> <a href="',
        nxt,
        '">dup</a> <a href="#top">top</a>',
        '<a href="mailto:x@y.example">mail</a></p>',
        '<nav><a href="/nav-skip">nav</a></nav>',
        '<div id="sidebar"><a href="/boiler-skip">b</a></div>',
        "</body></html>",
    )
    ex = extract(raw)
    return ex.select(
        "url", F.posexplode("outlinks").alias("pos", "href")
    ).select("url", F.col("pos").cast("int").alias("pos"), "href")


_TITLE_LIT = "Naïve — 漢字 title"  # multibyte + entity-adjacent chars


@_q(
    "doc_title",
    f"""SELECT CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 3 = 0 THEN NULL
            ELSE '{_TITLE_LIT} ' || CAST(doc_id AS VARCHAR) END AS title
FROM documents""",
)
def doc_title(spark, sf):
    """v5 TITLE, hash-verified closed-form: docs with doc_id % 3 == 0 get
    a whitespace-only <title> (normalizes to NULL); the rest get a
    multibyte title wrapped in stray whitespace plus a SECOND <title>
    that must be ignored (first-title-wins) — DuckDB predicts every
    (url, title) row."""
    docs = load(spark, sf, "documents")
    title_el = F.when(
        F.col("doc_id") % 3 == 0, F.lit("<title>   \t </title>")
    ).otherwise(
        F.concat(
            F.lit(f"<title>  {_TITLE_LIT}\n"),
            F.col("doc_id").cast("string"),
            F.lit(" </title>"),
        )
    )
    raw = html_docs(
        docs,
        "<html><head>",
        title_el,
        "<title>second ignored</title></head><body><p>",
        F.col("text"),
        "</p></body></html>",
    )
    ex = extract(raw)
    return ex.select("url", "title")


@_q(
    "doc_headmeta",
    """SELECT CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 2 = 0
            THEN 'https://canon.example/d/' || CAST(doc_id AS VARCHAR)
            ELSE '/second-loses' END AS canonical,
       CASE WHEN doc_id % 5 = 0 THEN 'second loses'
            ELSE 'Desc ' || CAST(doc_id % 11 AS VARCHAR) END AS description
FROM documents""",
)
def doc_headmeta(spark, sf):
    """v6 HEADMETA, hash-verified closed-form: even doc_ids get a
    canonical <link> whose first-wins beats the trailing second; odd ids
    get only a rel=alternate decoy, so the trailing canonical wins —
    pinning that decoys don't consume the slot. doc_id % 5 == 0 gets a
    whitespace-only description (skipped, trailing one wins); the rest a
    real one that beats the trailing."""
    docs = load(spark, sf, "documents")
    canon = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit('<link rel="canonical" href=" https://canon.example/d/'),
            F.col("doc_id").cast("string"),
            F.lit(' ">'),
        ),
    ).otherwise(F.lit('<link rel="alternate" href="/decoy">'))
    desc = F.when(
        F.col("doc_id") % 5 == 0,
        F.lit('<meta name="description" content="   ">'),
    ).otherwise(
        F.concat(
            F.lit('<meta name=" DESCRIPTION " content=" Desc  '),
            (F.col("doc_id") % 11).cast("string"),
            F.lit(' ">'),
        )
    )
    raw = html_docs(
        docs,
        "<html><head>",
        canon,
        desc,
        '<link rel="canonical" href="/second-loses">',
        '<meta name="description" content="second loses">',
        "</head><body><p>",
        F.col("text"),
        "</p></body></html>",
    )
    ex = extract(raw)
    return ex.select("url", "canonical", "description")


@_q(
    "doc_ogmeta",
    """SELECT CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 2 = 0
            THEN 'Og Title ' || CAST(doc_id % 7 AS VARCHAR)
            ELSE 'trail title' END AS og_title,
       CASE WHEN doc_id % 3 = 0 THEN 'visible desc'
            ELSE 'Desc ' || CAST(doc_id % 11 AS VARCHAR) END
         AS og_description,
       CASE WHEN doc_id % 5 = 0 THEN NULL
            ELSE '/img/' || CAST(doc_id % 13 AS VARCHAR) || '.png' END
         AS og_image
FROM documents""",
)
def doc_ogmeta(spark, sf):
    """v8 OGMETA, hash-verified closed-form: even doc_ids carry a real
    og:title whose first-wins beats the trailing decoy; odd ids get an
    empty-content og:title first (skipped — must not consume the slot),
    so the trailing one wins. doc_id % 3 == 0 hides its first
    og:description inside a boiler sidebar (opaque), so the later visible
    one wins. doc_id % 5 == 0 has no og:image at all (NULL); the rest
    carry a trimmed-URL og:image plus a second one that must lose."""
    docs = load(spark, sf, "documents")
    did = F.col("doc_id")
    ogt = F.when(
        did % 2 == 0,
        F.concat(
            F.lit('<meta property=" OG:Title " content=" Og  Title '),
            (did % 7).cast("string"),
            F.lit(' ">'),
        ),
    ).otherwise(F.lit('<meta property="og:title" content="   ">'))
    ogd = F.when(
        did % 3 == 0,
        F.lit(
            '<div class="sidebar">'
            '<meta property="og:description" content="hidden"><p>menu</p>'
            "</div>"
        ),
    ).otherwise(
        F.concat(
            F.lit('<meta property="og:description" content=" Desc  '),
            (did % 11).cast("string"),
            F.lit(' ">'),
        )
    )
    # %5==0 docs carry NO og:image at all (not even the losing decoy), so
    # the expected value is NULL rather than the decoy winning by default
    ogi = F.when(did % 5 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit('<meta property="og:image" content=" /img/'),
            (did % 13).cast("string"),
            F.lit('.png ">'),
            F.lit('<meta property="og:image" content="/loses.png">'),
        )
    )
    raw = html_docs(
        docs,
        "<html><head>",
        ogt,
        ogi,
        "</head><body>",
        ogd,
        '<meta property="og:title" content="trail title">',
        '<meta property="og:description" content="visible desc">',
        "<p>",
        F.col("text"),
        "</p></body></html>",
    )
    ex = extract(raw)
    return ex.select("url", "og_title", "og_description", "og_image")


@_q(
    "doc_headings",
    """SELECT CAST(doc_id AS VARCHAR) AS url,
       CAST(0 AS INT) AS block, CAST(1 AS INT) AS level
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR) AS url,
       CAST(2 AS INT) AS block,
       CAST(2 + doc_id % 5 AS INT) AS level
FROM documents""",
)
def doc_headings(spark, sf):
    """v7 HEADINGS, hash-verified closed-form: each doc gets an h1 (kept
    block 0), a body paragraph (block 1), an h(2..6) whose digit derives
    from doc_id (block 2), a boiler-region h2 and an empty h3 that must
    emit nothing — DuckDB predicts every (url, block, level) row."""
    docs = load(spark, sf, "documents")
    hlevel = (F.col("doc_id") % 5 + 2).cast("string")
    raw = html_docs(
        docs,
        "<html><body><h1>Top heading</h1><p>",
        F.col("text"),
        "</p><h",
        hlevel,
        ">Section ",
        (F.col("doc_id") % 7).cast("string"),
        "</h",
        hlevel,
        '><div class="sidebar"><h2>skip</h2></div>',
        "<h3>   </h3></body></html>",
    )
    ex = extract(raw)
    h = ex.select("url", F.explode("headings").alias("h"))
    return h.select(
        "url", F.col("h.block").alias("block"), F.col("h.level").alias("level")
    )


@_q(
    "doc_stats",
    f"""WITH {corpus_cte()},
{perdoc_cte()}
SELECT kind, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       CAST(sum(CASE WHEN strict THEN 1 ELSE 0 END) AS BIGINT) AS n_strict,
       CAST(sum(n_objects) AS BIGINT) AS total_objects,
       CAST(sum(n_streams) AS BIGINT) AS total_streams,
       CAST(sum(bytes_in) AS BIGINT) AS bytes_in,
       CAST(sum(bytes_decoded) AS BIGINT) AS bytes_decoded,
       CAST(max(n_updates) AS INT) AS max_updates
FROM perdoc GROUP BY kind""",
)
def doc_stats(spark, sf):
    # C23: corpus-level stats fold over extraction metrics
    ex = _extracted(spark, sf)
    return ex.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("verdict.valid"), 1).otherwise(0)).alias("n_valid"),
        F.sum(F.when(F.col("verdict.strict"), 1).otherwise(0)).alias("n_strict"),
        F.sum("metrics.n_objects").alias("total_objects"),
        F.sum("metrics.n_streams").alias("total_streams"),
        F.sum("metrics.bytes_in").alias("bytes_in"),
        F.sum("metrics.bytes_decoded").alias("bytes_decoded"),
        F.max("metrics.n_updates").alias("max_updates"),
    )


@_q(
    "partition_lineage",
    f"""WITH {corpus_cte()},
{perdoc_cte()}
SELECT CAST((idx * 8) // (SELECT n FROM nrows) AS INT) AS partition_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(bytes_in) AS BIGINT) AS bytes_in,
       CAST(sum(CASE WHEN NOT valid THEN 1 ELSE 0 END) AS BIGINT)
           AS n_invalid
FROM perdoc GROUP BY 1""",
)
def partition_lineage(spark, sf):
    """north_rule per-partition lineage, HASH-VERIFIED: with an explicit
    8-partition range corpus, Spark's range partition p holds exactly
    idx ∈ [p·n/8, (p+1)·n/8), so the oracle reconstructs the partition
    assignment closed-form. A mismatch means lineage.partition_id is not
    flowing faithfully through the narrow extract stage (the timing
    columns stay in the rows-only partition_metrics sibling)."""
    n = corpus_rows_for_sf(sf)
    ex = extract(synth_df(spark, n, partitions=8))
    return ex.groupBy(
        F.col("lineage.partition_id").alias("partition_id")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("metrics.bytes_in").alias("bytes_in"),
        F.sum(F.when(~F.col("verdict.valid"), 1).otherwise(0)).alias(
            "n_invalid"
        ),
    )


@_q("partition_metrics", None)
def partition_metrics(spark, sf):
    """north_rule: per-partition lineage + parse-error metrics — the view an
    operator watches on a 1000-executor run (which partitions were slow,
    error-dense, or retried). Pure rollup over the lineage/metrics structs
    every extracted row already carries; one map-side-combined hash agg."""
    ex = _extracted(spark, sf)
    return (
        ex.groupBy(
            F.col("lineage.partition_id").alias("partition_id"),
            F.col("lineage.attempt").alias("attempt"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("metrics.bytes_in").alias("bytes_in"),
            F.round(F.sum("metrics.parse_ms"), 3).alias("parse_ms_total"),
            F.sum(F.when(~F.col("verdict.valid"), 1).otherwise(0)).alias(
                "n_invalid"
            ),
            F.sum(F.size("errors")).alias("n_errors"),
        )
        .orderBy("partition_id", "attempt")
    )


@_q(
    "doc_taxonomy",
    f"""WITH {corpus_cte()},
{perdoc_cte()}
SELECT c.code, CAST(count(*) AS BIGINT) AS n
FROM perdoc, unnest(string_split(perdoc.err_codes, ',')) AS c(code)
WHERE perdoc.err_codes <> '' GROUP BY c.code""",
)
def doc_taxonomy(spark, sf):
    # C27: the error taxonomy as a first-class table — explode + count
    ex = _extracted(spark, sf)
    return (
        ex.select(F.explode("errors").alias("e"))
        .groupBy(F.col("e.code").alias("code"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("code")
    )


@_q(
    "corpus_pipeline",
    f"""WITH {corpus_cte()},
{perdoc_cte()},
kept AS (
  SELECT text_sha256,
         min(text_chars) AS n_chars,
         min(text_tokens) AS n_tokens,
         min(text_alpha) AS n_alpha
  FROM perdoc
  WHERE valid AND text_chars > 0
  GROUP BY text_sha256
)
SELECT CAST(count(*) AS BIGINT) AS docs_kept,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) / CAST(count(*) AS DOUBLE) AS avg_chars,
       CAST(sum(n_alpha) AS BIGINT) / CAST(sum(n_chars) AS DOUBLE)
           AS alpha_ratio
FROM kept""",
)
def corpus_pipeline(spark, sf):
    """The training-data story end-to-end in ONE lazy plan: extract →
    keep valid docs → score (chars / whitespace tokens / alpha chars) →
    exact-dedup on content hash → corpus stats. One mapInArrow stage plus
    one dedup shuffle plus one agg — nothing else moves data.

    Ratios are corpus-level exact-integer sums with ONE double division
    (sum-of-per-doc-double-ratios would be summation-order-dependent and
    unhashable across engines); dedup keeps any representative — identical
    fingerprints have identical metrics, so the aggregate is well-defined."""
    ext = _extracted(spark, sf)
    txt = ext.filter(F.col("verdict.valid")).select(
        "url",
        F.col("text").cast("string").alias("text"),
    )
    scored = (
        txt.withColumns(
            {
                "n_chars": F.length("text"),
                "n_tokens": F.size(F.split(F.trim("text"), r"\s+")),
                "n_alpha": F.length(
                    F.regexp_replace("text", r"[^A-Za-z]", "")
                ),
                "fingerprint": F.sha2(F.col("text"), 256),
            }
        )
        .filter(F.col("n_chars") > 0)
    )
    deduped = scored.dropDuplicates(["fingerprint"])
    return deduped.agg(
        F.count(F.lit(1)).alias("docs_kept"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (
            F.sum("n_chars").cast("long")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_chars"),
        (
            F.sum("n_alpha").cast("long")
            / F.sum("n_chars").cast("double")
        ).alias("alpha_ratio"),
    )


@_q(
    "doc_scan",
    f"""WITH {corpus_cte()},
langs (li, lang) AS (VALUES (0, 'en'), (1, 'es'), (2, 'zh'), (3, 'de'),
                            (4, 'fr'))
SELECT l.lang, CAST(count(*) AS BIGINT) AS n
FROM docs d JOIN langs l ON l.li = d.idx % 5 GROUP BY l.lang""",
)
def doc_scan(spark, sf):
    # C1: metadata-only scan of the corpus — the blob column is pruned;
    # only url/lang reach the executors (check ReadSchema in .explain)
    df = synth_df(spark, corpus_rows_for_sf(sf))
    return df.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))


@_q(
    "doc_anchors",
    """SELECT CAST(doc_id AS VARCHAR) AS url, CAST(0 AS INTEGER) AS pos,
       '/p/' || CAST(doc_id + 1 AS VARCHAR) AS href,
       'read w' || CAST(doc_id % 5 AS VARCHAR) || ' now' AS anchor
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 1, '/e/' || CAST(doc_id AS VARCHAR), ''
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 2, '/o/' || CAST(doc_id AS VARCHAR),
       'out tail'
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 3, '/i/' || CAST(doc_id AS VARCHAR), 'in'
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 4, '/u/' || CAST(doc_id AS VARCHAR),
       'tail ' || CAST(doc_id % 7 AS VARCHAR)
FROM documents""",
)
def doc_anchors(spark, sf):
    """v9 ANCHORS, hash-verified closed-form: each document is wrapped in
    HTML carrying the anchor-text edge matrix — a styled anchor whose
    nested inline tags normalize into one string, a duplicate href whose
    different text must LOSE (capture binds to the first element), a
    textless anchor (""), a nested pair (inner text is the inner
    element's; the outer resumes around it), a boiler-region anchor (no
    row at all), and an anchor left open to end of input — with
    deterministic text derived from doc_id so DuckDB predicts every
    (url, pos, href, anchor) row."""
    docs = load(spark, sf, "documents")
    did = F.col("doc_id").cast("string")
    raw = html_docs(
        docs,
        "<html><body><main><p>",
        F.col("text"),
        '</p></main><p><a href="/p/',
        (F.col("doc_id") + 1).cast("string"),
        '">read <b>w',
        (F.col("doc_id") % 5).cast("string"),
        '</b> now</a> <a href="/p/',
        (F.col("doc_id") + 1).cast("string"),
        '">different loses</a> <a href="/e/',
        did,
        '"></a> <a href="/o/',
        did,
        '">out <a href="/i/',
        did,
        '">in</a> tail</a></p>',
        '<div class="promo"><a href="/skip">no</a></div>',
        '<p><a href="/u/',
        did,
        '">tail ',
        (F.col("doc_id") % 7).cast("string"),
        "</body></html>",
    )
    ex = extract(raw)
    z = F.arrays_zip("outlinks", "anchors")
    return ex.select("url", F.posexplode(z).alias("pos", "oa")).select(
        "url",
        F.col("pos").cast("int").alias("pos"),
        F.col("oa.outlinks").alias("href"),
        F.col("oa.anchors").alias("anchor"),
    )


@_q(
    "anchor_text_agg",
    f"""WITH {corpus_cte()},
{anchors_cte()}
SELECT a.href,
       CAST(count(*) AS BIGINT) AS n_refs,
       CAST(count(DISTINCT d.idx) AS BIGINT) AS n_docs,
       min(a.anchor) AS anchor_min,
       max(a.anchor) AS anchor_max
FROM docs d JOIN an a ON a.idx = d.idx
GROUP BY a.href""",
)
def anchor_text_agg(spark, sf):
    """Anchor-text aggregation across the corpus — the classic web-graph
    signal (what OTHER pages call a URL beats what the URL says about
    itself).  Explodes the per-doc (outlink, anchor) pairs and groups by
    target href: reference counts, distinct referrers, and lexicographic
    min/max anchor text as the deterministic summary pair.

    Scale: the exploded exchange carries (href, anchor) short strings —
    never document payloads — with map-side partial aggregation; at
    100 TB this is the same shape as the minhash band groupBy, keyed by
    target URL, and per-key state is four fixed-width accumulators.
    PDFs contribute nothing (empty arrays explode to no rows)."""
    ex = _extracted(spark, sf)
    z = F.explode(F.arrays_zip("outlinks", "anchors")).alias("oa")
    pairs = ex.select("url", z).select(
        "url",
        F.col("oa.outlinks").alias("href"),
        F.col("oa.anchors").alias("anchor"),
    )
    return pairs.groupBy("href").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_refs"),
        F.countDistinct("url").cast("bigint").alias("n_docs"),
        F.min("anchor").alias("anchor_min"),
        F.max("anchor").alias("anchor_max"),
    )


@_q(
    "doc_tables",
    """SELECT CAST(doc_id AS VARCHAR) AS url, CAST(0 AS INTEGER) AS pos,
       CAST(0 AS INTEGER) AS tbl, CAST(0 AS INTEGER) AS trow,
       CAST(0 AS INTEGER) AS tcol, TRUE AS header,
       'k' || CAST(doc_id % 5 AS VARCHAR) AS cell
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 1, 0, 0, 1, TRUE, 'v' FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 2, 0, 1, 0, FALSE, 'name' FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 3, 0, 1, 1, FALSE, CAST(doc_id AS VARCHAR)
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 4, 0, 2, 0, FALSE, '' FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 5, 1, 0, 0, FALSE,
       'n' || CAST(doc_id % 3 AS VARCHAR)
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 6, 0, 2, 1, FALSE, 'xy' FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 7, 2, 0, 0, FALSE,
       'implicit ' || CAST(doc_id % 7 AS VARCHAR)
FROM documents""",
)
def doc_tables(spark, sf):
    """v10 TABLES, hash-verified closed-form: each document is wrapped in
    HTML carrying the table edge matrix — a header row (th cells), a data
    row, an empty cell, a NESTED table inside a cell (the inner cell
    emits before the suspended outer cell closes as "xy"), a
    boiler-region table (no rows, no index), and a trailing table whose
    cell opens with no <tr> (implicit row 0) and stays open to end of
    input — with deterministic text derived from doc_id so DuckDB
    predicts every (url, pos, tbl, trow, tcol, header, cell) row,
    ``pos`` being the spec's cell-close emission order."""
    docs = load(spark, sf, "documents")
    did = F.col("doc_id").cast("string")
    raw = html_docs(
        docs,
        "<html><body><p>",
        F.col("text"),
        "</p><table><tr><th>k",
        (F.col("doc_id") % 5).cast("string"),
        "</th><th>v</th></tr><tr><td>name</td><td>",
        did,
        "</td></tr><tr><td></td><td>x<table><tr><td>n",
        (F.col("doc_id") % 3).cast("string"),
        "</td></tr></table>y</td></tr></table>",
        '<div class="sidebar"><table><tr><td>no</td></tr>',
        "</table></div><table><td>implicit ",
        (F.col("doc_id") % 7).cast("string"),
        "</body></html>",
    )
    ex = extract(raw)
    return ex.select("url", F.posexplode("tables").alias("pos", "t")).select(
        "url",
        F.col("pos").cast("int").alias("pos"),
        F.col("t.table").alias("tbl"),
        F.col("t.row").alias("trow"),
        F.col("t.col").alias("tcol"),
        F.col("t.header").alias("header"),
        F.col("t.cell").alias("cell"),
    )


@_q(
    "table_shape",
    f"""WITH {corpus_cte()},
{tables_cte()}
SELECT d.url, t.tbl,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(max(t.trow) + 1 AS INT) AS n_rows,
       CAST(max(t.tcol) + 1 AS INT) AS n_cols,
       CAST(sum(CASE WHEN t.theader THEN 1 ELSE 0 END) AS BIGINT)
         AS n_headers
FROM docs d JOIN tb t ON t.idx = d.idx
GROUP BY d.url, t.tbl""",
)
def table_shape(spark, sf):
    """Structured-data harvest over the corpus: per extracted table, its
    grid shape (cell count, row/column extents, header-cell count) — the
    aggregate a dataset builder runs to find well-formed data tables
    worth lifting into training examples.

    Scale: the explode emits one short row per CELL (the document payload
    never re-shuffles; mapInArrow already reduced blobs to cell strings),
    and the groupBy keys on (url, table) with map-side combine and four
    fixed-width accumulators — the same bounded-state shape as
    anchor_text_agg."""
    ex = _extracted(spark, sf)
    t = ex.select("url", F.explode("tables").alias("t"))
    return t.groupBy(
        "url", F.col("t.table").alias("tbl")
    ).agg(
        F.count(F.lit(1)).alias("n_cells"),
        (F.max("t.row") + 1).alias("n_rows"),
        (F.max("t.col") + 1).alias("n_cols"),
        F.sum(F.col("t.header").cast("int")).cast("bigint").alias(
            "n_headers"
        ),
    )


@_q(
    "doc_lists",
    """SELECT CAST(doc_id AS VARCHAR) AS url, CAST(0 AS INTEGER) AS pos,
       CAST(0 AS INTEGER) AS lst, CAST(0 AS INTEGER) AS item,
       CAST(0 AS INTEGER) AS depth, FALSE AS ordered,
       'i' || CAST(doc_id % 5 AS VARCHAR) AS item_text
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 1, 0, 1, 0, FALSE, '' FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 2, 1, 0, 1, TRUE,
       'n' || CAST(doc_id % 2 AS VARCHAR)
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 3, 0, 2, 0, FALSE,
       'o' || CAST(doc_id % 3 AS VARCHAR) || ' z'
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 4, 3, 0, 0, TRUE,
       'tail ' || CAST(doc_id % 7 AS VARCHAR)
FROM documents""",
)
def doc_lists(spark, sf):
    """v11 LISTS, hash-verified closed-form: each document is wrapped in
    HTML carrying the list edge matrix — an unordered list with a text
    item, a self-closing empty item, and an item whose NESTED <ol>
    suspends it (the inner item emits first, the outer item's capture
    resumes for the trailing " z"); a self-closing <ul/> (consumes list
    index 2, no items); a boiler-region list (no tuples, no index); and
    a trailing <ol> whose single item stays open to end of input — with
    deterministic text derived from doc_id so DuckDB predicts every
    (url, pos, lst, item, depth, ordered, item_text) row, ``pos`` being
    the spec's item-close emission order."""
    docs = load(spark, sf, "documents")
    raw = html_docs(
        docs,
        "<html><body><p>",
        F.col("text"),
        "</p><ul><li>i",
        (F.col("doc_id") % 5).cast("string"),
        "</li><li/><li>o",
        (F.col("doc_id") % 3).cast("string"),
        "<ol><li>n",
        (F.col("doc_id") % 2).cast("string"),
        "</li></ol> z</li></ul><ul/>",
        '<div class="sidebar"><ul><li>no</li></ul></div>',
        "<ol><li>tail ",
        (F.col("doc_id") % 7).cast("string"),
        "</body></html>",
    )
    ex = extract(raw)
    return ex.select("url", F.posexplode("lists").alias("pos", "t")).select(
        "url",
        F.col("pos").cast("int").alias("pos"),
        F.col("t.list").alias("lst"),
        F.col("t.item").alias("item"),
        F.col("t.depth").alias("depth"),
        F.col("t.ordered").alias("ordered"),
        F.col("t.item_text").alias("item_text"),
    )


@_q(
    "list_stats",
    f"""WITH {corpus_cte()},
{lists_cte()}
SELECT d.url, t.depth, t.ordered,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(count(DISTINCT t.lst) AS BIGINT) AS n_lists,
       CAST(max(t.item) + 1 AS INT) AS max_len,
       CAST(sum(length(t.itext)) AS BIGINT) AS text_chars
FROM docs d JOIN ls t ON t.idx = d.idx
GROUP BY d.url, t.depth, t.ordered""",
)
def list_stats(spark, sf):
    """List-structure profile over the corpus: per document, per nesting
    depth, per ordered/unordered — item count, distinct lists, longest
    list, and total item-text length.  This is the structure signal a
    dataset builder uses to find enumeration-rich pages (how-to steps,
    rankings, glossaries) worth lifting into instruction-style training
    examples.

    Scale: the explode emits one short row per ITEM (blobs were already
    reduced to item strings by mapInArrow); the groupBy keys on (url,
    depth, ordered) with map-side combine and four fixed-width
    accumulators — bounded state, the table_shape shape."""
    ex = _extracted(spark, sf)
    t = ex.select("url", F.explode("lists").alias("t"))
    return t.groupBy(
        "url", F.col("t.depth").alias("depth"),
        F.col("t.ordered").alias("ordered"),
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.countDistinct("t.list").cast("bigint").alias("n_lists"),
        (F.max("t.item") + 1).cast("int").alias("max_len"),
        F.sum(F.length("t.item_text")).cast("bigint").alias("text_chars"),
    )


@_q(
    "doc_images",
    """SELECT CAST(doc_id AS VARCHAR) AS url, CAST(0 AS INTEGER) AS pos,
       '/i/' || CAST(doc_id % 7 AS VARCHAR) || '.png' AS src,
       'a ' || CAST(doc_id % 3 AS VARCHAR) AS alt
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 1,
       '/p' || CAST(doc_id % 5 AS VARCHAR) || '.gif', '' FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 2, '', 'only' FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 3, 'data:image/gif;base64,R0', 'inline'
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 4,
       '/i/' || CAST(doc_id % 7 AS VARCHAR) || '.png', 'dup'
FROM documents""",
)
def doc_images(spark, sf):
    """v12 IMAGES, hash-verified closed-form: each document is wrapped
    in HTML carrying the img edge matrix — a src+alt image (alt with
    collapsible whitespace), a whitespace-padded self-closing src with
    no alt, an alt-only element, a data: URI (kept — no scheme filter),
    a boiler-div image (excluded, no index), and an exact duplicate of
    the first src (kept — no dedup) — with deterministic values derived
    from doc_id so DuckDB predicts every (url, pos, src, alt) row,
    ``pos`` being document order."""
    docs = load(spark, sf, "documents")
    raw = html_docs(
        docs,
        "<html><body><p>",
        F.col("text"),
        "</p><img src='/i/",
        (F.col("doc_id") % 7).cast("string"),
        ".png' alt='a  ",
        (F.col("doc_id") % 3).cast("string"),
        "'><img src=' /p",
        (F.col("doc_id") % 5).cast("string"),
        ".gif '/><img alt='only'>",
        "<img src='data:image/gif;base64,R0' alt='inline'>",
        "<div class='sidebar'><img src='/no.png'></div>",
        "<img src='/i/",
        (F.col("doc_id") % 7).cast("string"),
        ".png' alt='dup'>",
        "</body></html>",
    )
    ex = extract(raw)
    return ex.select(
        "url", F.posexplode("images").alias("pos", "t")
    ).select(
        "url",
        F.col("pos").cast("int").alias("pos"),
        F.col("t.src").alias("src"),
        F.col("t.alt").alias("alt"),
    )


@_q(
    "img_stats",
    f"""WITH {{corpus}},
{{images}}
SELECT d.url,
       CAST(count(*) AS BIGINT) AS n_imgs,
       CAST(sum(CASE WHEN t.alt <> '' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alt,
       CAST(sum(CASE WHEN t.src LIKE 'data:%' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_data,
       CAST(count(DISTINCT CASE WHEN t.src <> '' THEN t.src END)
            AS BIGINT) AS n_uniq_src
FROM docs d JOIN im t ON t.idx = d.idx
GROUP BY d.url""".format(corpus=corpus_cte(), images=images_cte()),
)
def img_stats(spark, sf):
    """Image inventory profile per document: element count, alt-text
    coverage (the image-text-pair mining yield signal), inline data:
    URIs, and distinct non-empty srcs (repeats = layout chrome, unique
    = content figures).  This is how a multimodal dataset builder finds
    alt-rich pages worth pairing before ever fetching image bytes.

    Scale: the explode emits one short (url, src, alt) row per IMAGE
    (blobs already reduced by mapInArrow); groupBy(url) with map-side
    combine; the only distinct is per-group over short strings."""
    ex = _extracted(spark, sf)
    t = ex.select("url", F.explode("images").alias("t"))
    return t.groupBy("url").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_imgs"),
        F.sum((F.col("t.alt") != "").cast("int"))
        .cast("bigint")
        .alias("n_alt"),
        F.sum(F.col("t.src").startswith("data:").cast("int"))
        .cast("bigint")
        .alias("n_data"),
        F.countDistinct(
            F.when(F.col("t.src") != "", F.col("t.src"))
        ).cast("bigint").alias("n_uniq_src"),
    )


@_q(
    "imgtext_pairs",
    f"""WITH {{corpus}},
{{images}}
SELECT d.url, t.src, t.alt,
       CAST(len(string_split(t.alt, ' ')) AS INT) AS alt_tokens
FROM docs d JOIN im t ON t.idx = d.idx
WHERE t.src <> '' AND t.src NOT LIKE 'data:%'
  AND length(t.alt) >= 8
  AND len(string_split(t.alt, ' ')) >= 2""".format(
        corpus=corpus_cte(), images=images_cte()
    ),
)
def imgtext_pairs(spark, sf):
    """Image-text pair mining over the v12 IMAGES surface: keep (url,
    src, alt) rows whose alt text is substantive — non-empty fetchable
    src (data: URIs excluded: nothing to fetch), >= 8 chars and >= 2
    tokens of alt — the CLIP/LAION-style candidate set a multimodal
    dataset builder hands to the image fetcher.

    Scale: pure scan-stage work — the explode emits one short row per
    image and every predicate is a JVM string op on already-extracted
    columns; no shuffle at all (the output is the pair stream)."""
    ex = _extracted(spark, sf)
    t = ex.select("url", F.explode("images").alias("t")).select(
        "url",
        F.col("t.src").alias("src"),
        F.col("t.alt").alias("alt"),
    )
    return t.filter(
        (F.col("src") != "")
        & ~F.col("src").startswith("data:")
        & (F.length("alt") >= 8)
        & (F.size(F.split("alt", " ")) >= 2)
    ).select(
        "url",
        "src",
        "alt",
        F.size(F.split("alt", " ")).cast("int").alias("alt_tokens"),
    )


@_q(
    "doc_jsonld",
    """SELECT CAST(doc_id AS VARCHAR) AS url, CAST(0 AS INTEGER) AS pos,
       '{"@type":"Article","k":' || CAST(doc_id % 9 AS VARCHAR)
       || ',"s": "v' || CAST(doc_id % 4 AS VARCHAR) || '"}' AS payload
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 1, '' FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 2,
       '{"n":' || CAST(doc_id % 6 AS VARCHAR) || '}'
FROM documents""",
)
def doc_jsonld(spark, sf):
    """v13 JSONLD, hash-verified closed-form: each document is wrapped in
    HTML carrying the ld+json edge matrix — a payload with internal
    spacing (preserved — only ends stripped), a self-closing match (""),
    a <nav>-wrapped match (collected: the surface ignores tag-drop
    regions), a plain script and a boiler-region match (both excluded) —
    with deterministic JSON derived from doc_id so DuckDB predicts every
    (url, pos, payload) row."""
    docs = load(spark, sf, "documents")
    raw = html_docs(
        docs,
        "<html><body><p>",
        F.col("text"),
        '</p><script type="application/ld+json"> '
        '{"@type":"Article","k":',
        (F.col("doc_id") % 9).cast("string"),
        ',"s": "v',
        (F.col("doc_id") % 4).cast("string"),
        '"} </script>',
        '<script type="application/ld+json"/>',
        "<script>ignore();</script>",
        '<div class="promo">'
        '<script type="application/ld+json">{"x":1}</script>'
        "</div>",
        '<nav><script type="application/ld+json">{"n":',
        (F.col("doc_id") % 6).cast("string"),
        "}</script></nav>",
        "</body></html>",
    )
    ex = extract(raw)
    return ex.select(
        "url", F.posexplode("jsonld").alias("pos", "payload")
    ).select(
        "url", F.col("pos").cast("int").alias("pos"), "payload"
    )


@_q(
    "jsonld_types",
    rf"""WITH {{corpus}},
{{jsonld}}
SELECT regexp_extract(t.payload, '"@type":\s*"([^"]+)"', 1) AS ld_type,
       CAST(count(*) AS BIGINT) AS n_payloads,
       CAST(count(DISTINCT d.url) AS BIGINT) AS n_docs
FROM docs d JOIN jl t ON t.idx = d.idx
WHERE t.payload <> ''
GROUP BY regexp_extract(t.payload, '"@type":\s*"([^"]+)"', 1)""".format(
        corpus=corpus_cte(), jsonld=jsonld_cte()
    ),
)
def jsonld_types(spark, sf):
    """schema.org @type census over the corpus's ld+json payloads — the
    first structured-data question a dataset builder asks (which pages
    carry Article/Product/Recipe markup worth targeted parsing).  A
    regex pull of the @type field keeps it engine-agnostic (payloads are
    UNTRUSTED web JSON — a full json parse belongs behind a quarantine
    UDF, not in the census scan).

    Scale: explode emits one short payload row per script element; the
    regexp and the groupBy on the extracted type are scan-stage + one
    narrow (type, count) exchange with map-side combine."""
    ex = _extracted(spark, sf)
    t = ex.select("url", F.explode("jsonld").alias("payload")).filter(
        F.col("payload") != ""
    )
    typed = t.select(
        "url",
        F.regexp_extract(
            "payload", r'"@type":\s*"([^"]+)"', 1
        ).alias("ld_type"),
    )
    return typed.groupBy("ld_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_payloads"),
        F.countDistinct("url").cast("bigint").alias("n_docs"),
    )


@_q(
    "doc_robots",
    """SELECT CAST(doc_id AS VARCHAR) AS url,
       CASE doc_id % 3 WHEN 0 THEN 'index, follow'
            WHEN 1 THEN 'noindex,nofollow'
            ELSE 'noarchive , nosnippet' END AS robots_meta
FROM documents""",
)
def doc_robots(spark, sf):
    """v14 ROBOTSMETA, hash-verified closed-form: each document is
    wrapped in HTML carrying the robots edge matrix — an empty-content
    decoy (must not take the first-wins slot), a case-mangled winner
    (captured lowercased + whitespace-normalized), a later robots that
    loses, and a boiler-region robots that is never seen — with the
    directive chosen by doc_id so DuckDB predicts every row."""
    docs = load(spark, sf, "documents")
    winner = (
        F.when(F.col("doc_id") % 3 == 0, "index,   Follow")
        .when(F.col("doc_id") % 3 == 1, "NOINDEX,NOFOLLOW")
        .otherwise("NoArchive , NoSnippet")
    )
    raw = html_docs(
        docs,
        "<html><head><meta name='robots' content='  '>",
        "<meta name=' ROBOTS ' content=' ",
        winner,
        " '><meta name='robots' content='loses'>",
        "</head><body>",
        "<div class='promo'>"
        "<meta name='robots' content='hidden'></div>",
        "<p>",
        F.col("text"),
        "</p></body></html>",
    )
    ex = extract(raw)
    return ex.select("url", "robots_meta")


@_q(
    "filter_noindex",
    f"""WITH {{corpus}},
{{perdoc}}
SELECT url, robots_meta,
       position('noindex' IN robots_meta) > 0 AS excluded
FROM perdoc WHERE robots_meta IS NOT NULL""".format(
        corpus=corpus_cte(), perdoc=perdoc_cte()
    ),
)
def filter_noindex(spark, sf):
    """Crawl-compliance filter over the real corpus: every document that
    declares a robots meta, with the exclusion verdict a lawful training
    pipeline must apply (noindex pages never enter the dataset).  The
    directive string itself is hash-verified against the frozen per-idx
    facts, so the whole chain — charset decode, meta harvest, first-wins,
    lowercasing — is pinned, not just the flag.

    Scale: scan-stage predicate on an already-extracted scalar column —
    zero shuffle; in the jobs pipeline this is the partition-pruning
    predicate in front of every downstream consumer."""
    ex = _extracted(spark, sf)
    return ex.filter(F.col("robots_meta").isNotNull()).select(
        "url",
        "robots_meta",
        F.col("robots_meta").contains("noindex").alias("excluded"),
    )


@_q(
    "doc_alternates",
    """SELECT CAST(doc_id AS VARCHAR) AS url, CAST(0 AS INTEGER) AS pos,
       'fr-' || CAST(doc_id % 4 AS VARCHAR) AS hreflang,
       '' AS ltype,
       '/fr/' || CAST(doc_id % 9 AS VARCHAR) AS href
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 1, '', 'application/rss+xml',
       '/feed' || CAST(doc_id % 3 AS VARCHAR) || '.xml' FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 2, '', '', '/print' FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 3, '', '', '' FROM documents""",
)
def doc_alternates(spark, sf):
    """v15 ALTERNATES, hash-verified closed-form: each document is
    wrapped in HTML carrying the alternates edge matrix — a
    case-mangled hreflang alternate (lowercased on capture, padded href
    trimmed), a type-tagged feed alternate, a multi-token rel
    containing alternate, a bare rel=alternate (empty triple — the
    element still counts), a stylesheet link that must NOT count, and a
    boiler-region alternate that is never seen — with deterministic
    values from doc_id so DuckDB predicts every (url, pos, hreflang,
    ltype, href) row."""
    docs = load(spark, sf, "documents")
    raw = html_docs(
        docs,
        "<html><head><link rel='alternate' hreflang=' FR-",
        (F.col("doc_id") % 4).cast("string"),
        " ' href=' /fr/",
        (F.col("doc_id") % 9).cast("string"),
        " '><link rel='alternate' "
        "type=' Application/RSS+XML ' href='/feed",
        (F.col("doc_id") % 3).cast("string"),
        ".xml'><link rel='alternate nofollow' href='/print'>"
        "<link rel='alternate'>"
        "<link rel='stylesheet' href='/css'>"
        "</head><body>"
        "<div class='promo'>"
        "<link rel='alternate' hreflang='xx' href='/never'>"
        "</div><p>",
        F.col("text"),
        "</p></body></html>",
    )
    ex = extract(raw)
    return ex.select(
        "url", F.posexplode("alternates").alias("pos", "t")
    ).select(
        "url",
        F.col("pos").cast("int").alias("pos"),
        F.col("t.hreflang").alias("hreflang"),
        F.col("t.type").alias("ltype"),
        F.col("t.href").alias("href"),
    )


@_q(
    "hreflang_census",
    f"""WITH {{corpus}},
{{alts}}
SELECT t.hreflang,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT d.url) AS BIGINT) AS n_docs
FROM docs d JOIN al t ON t.idx = d.idx
WHERE t.hreflang <> ''
GROUP BY t.hreflang""".format(corpus=corpus_cte(), alts=alt_cte()),
)
def hreflang_census(spark, sf):
    """hreflang census over the corpus — the first multilingual
    crawl-planning question (which language alternates exist and how
    many pages declare them; the crawl frontier expands along exactly
    these edges).

    Scale: explode emits one short triple row per alternate element;
    the filter and groupBy on the language tag are scan-stage + one
    narrow (tag, count) exchange with map-side combine."""
    ex = _extracted(spark, sf)
    t = ex.select(
        "url", F.explode("alternates").alias("t")
    ).filter(F.col("t.hreflang") != "")
    return t.groupBy(F.col("t.hreflang").alias("hreflang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_links"),
        F.countDistinct("url").cast("bigint").alias("n_docs"),
    )


@_q(
    "frontier_feed",
    """WITH pages AS (
  SELECT doc_id,
         'https://site' || CAST(doc_id % 7 AS VARCHAR)
         || '.example/sec' || CAST(doc_id % 3 AS VARCHAR)
         || '/page' || CAST(doc_id AS VARCHAR) || '.html' AS url
  FROM documents
)
SELECT url, CAST(0 AS INTEGER) AS pos,
       '/p/' || CAST(doc_id + 1 AS VARCHAR) AS href,
       'https://site' || CAST(doc_id % 7 AS VARCHAR)
       || '.example/p/' || CAST(doc_id + 1 AS VARCHAR) AS abs_url,
       'site' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host
FROM pages
UNION ALL
SELECT url, CAST(1 AS INTEGER) AS pos,
       '../deep/dive' || CAST(doc_id % 4 AS VARCHAR) || '.html' AS href,
       'https://site' || CAST(doc_id % 7 AS VARCHAR)
       || '.example/deep/dive' || CAST(doc_id % 4 AS VARCHAR)
       || '.html' AS abs_url,
       'site' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host
FROM pages
UNION ALL
SELECT url, CAST(2 AS INTEGER) AS pos,
       'https://hub.example/t?q=' || CAST(doc_id % 7 AS VARCHAR) AS href,
       'https://hub.example/t?q=' || CAST(doc_id % 7 AS VARCHAR) AS abs_url,
       'hub.example' AS host
FROM pages""",
)
def frontier_feed(spark, sf):
    """Extraction → resolution frontier feed, the end-to-end composition a
    crawler runs per fetched page: real v4 OUTLINKS extraction (want=
    projection: only the outlinks surface is assembled), RFC 3986
    resolution of each href against the page URL (`resolve_url`), and the
    host key a frontier shards on. The synthetic corpus plants one
    root-relative link, one ../ climb, and one absolute hub link per page
    (plus a fragment decoy the SPEC drops), so the closed form predicts
    every (url, pos, href, abs_url, host) row.

    Scale: the Arrow extract stage is the only Python; resolution and
    host parsing are scan-stage regex on the exploded rows — posexplode
    is narrow, so the whole feed runs with ZERO exchanges (plan-pinned).
    Cites ref: crawl-frontier construction over 10^12 pages."""
    from caraspark.curation import resolve_url

    docs = load(spark, sf, "documents")
    did = F.col("doc_id")
    page_url = F.concat(
        F.lit("https://site"), (did % 7).cast("string"),
        F.lit(".example/sec"), (did % 3).cast("string"),
        F.lit("/page"), did.cast("string"), F.lit(".html"),
    )
    raw = html_docs(
        docs,
        "<html><body><main><p>t</p></main><p><a href='/p/",
        (did + 1).cast("string"),
        "'>next</a> <a href='../deep/dive",
        (did % 4).cast("string"),
        ".html'>deep</a> <a href='https://hub.example/t?q=",
        (did % 7).cast("string"),
        "'>hub</a> <a href='#frag'>skip</a></p></body></html>",
        url=page_url,
    )
    ex = extract(raw, want=("outlinks",))
    links = ex.select(
        "url", F.posexplode("outlinks").alias("pos", "href")
    )
    abs_url = resolve_url(F.col("url"), F.col("href"))
    return links.select(
        "url",
        F.col("pos").cast("int").alias("pos"),
        "href",
        abs_url.alias("abs_url"),
        F.regexp_extract(abs_url, r"^[a-z]+://([^/?#]*)", 1).alias("host"),
    )


@_q(
    "doc_refresh",
    """SELECT CAST(doc_id AS VARCHAR) AS url,
       CASE doc_id % 3
            WHEN 0 THEN '0; url=/p/' || CAST(doc_id + 1 AS VARCHAR)
            WHEN 1 THEN '5;url=https://m.example/page'
                        || CAST(doc_id AS VARCHAR)
            ELSE NULL END AS refresh_meta,
       doc_id % 3 = 0 AS is_instant_redirect
FROM documents""",
)
def doc_refresh(spark, sf):
    """v16 REFRESH, hash-verified closed-form: each document is wrapped
    in HTML carrying the refresh edge matrix — an empty-content decoy
    (must not take the first-wins slot), a case-mangled winner
    (`<meta HTTP-EQUIV=Refresh>` captured lowercased + normalized), a
    later refresh that loses, and a boiler-region refresh that is never
    seen; one doc class carries NO refresh (NULL). The instant-redirect
    verdict (delay 0) is the signal a crawl pipeline keys on: such pages
    are navigation stubs, not content, and should be re-enqueued at the
    target instead of entering the dataset."""
    docs = load(spark, sf, "documents")
    did = F.col("doc_id").cast("string")
    winner = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("0;   URL=/p/"), (F.col("doc_id") + 1).cast("string")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("5;url=HTTPS://m.example/page"), did),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    raw = html_docs(
        docs,
        "<html><head><meta http-equiv='refresh' content=' '>",
        F.when(
            winner.isNotNull(),
            F.concat(
                F.lit("<meta HTTP-EQUIV=' Refresh ' content=' "),
                winner,
                F.lit(" '><meta http-equiv='refresh'"
                      " content='9;url=/loses'>"),
            ),
        ).otherwise(F.lit("")),
        "</head><body>",
        "<div class='promo'><meta http-equiv='refresh'"
        " content='1;url=/hidden'></div>",
        "<p>",
        F.col("text"),
        "</p></body></html>",
    )
    ex = extract(raw, want=("refresh",))
    return ex.select(
        "url",
        "refresh_meta",
        (
            F.col("refresh_meta").isNotNull()
            & F.col("refresh_meta").startswith("0;")
        ).alias("is_instant_redirect"),
    )


@_q(
    "filter_refresh",
    f"""WITH {{corpus}},
{{perdoc}}
SELECT url, refresh_meta,
       refresh_meta LIKE '0;%' AS is_instant_redirect
FROM perdoc WHERE refresh_meta IS NOT NULL""".format(
        corpus=corpus_cte(), perdoc=perdoc_cte()
    ),
)
def filter_refresh(spark, sf):
    """Soft-redirect filter over the REAL corpus (v16 corpus pinning):
    every document declaring a meta refresh, with the instant-redirect
    verdict a crawl pipeline applies (delay-0 pages are navigation
    stubs — re-enqueue the target, don't train on the stub). The
    directive string hash-verifies against the frozen per-idx facts, so
    the charset-decode → meta-harvest → first-wins → lowercase chain is
    pinned corpus-wide.

    Scale: scan-stage predicate on an already-extracted scalar column —
    zero shuffle."""
    ex = _extracted(spark, sf)
    return ex.filter(F.col("refresh_meta").isNotNull()).select(
        "url",
        "refresh_meta",
        F.col("refresh_meta").startswith("0;").alias("is_instant_redirect"),
    )


@_q(
    "doc_base",
    """SELECT CAST(doc_id AS VARCHAR) AS url,
       CASE doc_id % 3
            WHEN 0 THEN '/Docs/V' || CAST(doc_id % 7 AS VARCHAR) || '/'
            WHEN 1 THEN 'https://CDN.example/r' || CAST(doc_id % 5 AS VARCHAR)
                        || '/'
            ELSE NULL END AS base_href,
       CASE doc_id % 3
            WHEN 0 THEN 'https://site' || CAST(doc_id % 4 AS VARCHAR)
                        || '.example/Docs/V' || CAST(doc_id % 7 AS VARCHAR)
                        || '/'
            WHEN 1 THEN 'https://CDN.example/r' || CAST(doc_id % 5 AS VARCHAR)
                        || '/'
            ELSE 'https://site' || CAST(doc_id % 4 AS VARCHAR)
                 || '.example/a/page' || CAST(doc_id AS VARCHAR) || '.html'
            END AS effective_base
FROM documents""",
)
def doc_base(spark, sf):
    """v17 BASEHREF, hash-verified closed-form: each document carries the
    base edge matrix — an href-less <base target> decoy, a case-preserved
    trimmed winner (root-relative or absolute by doc class; one class has
    NO base), and a later base that loses. ``effective_base`` composes
    v17 with `resolve_url`: the base href resolved against the page URL
    (RFC 3986 — a relative base is itself resolved first), falling back
    to the page URL — exactly the base every outlink on the page resolves
    against."""
    from caraspark.curation import resolve_url

    docs = load(spark, sf, "documents")
    did = F.col("doc_id")
    winner = (
        F.when(
            did % 3 == 0,
            F.concat(F.lit("/Docs/V"), (did % 7).cast("string"), F.lit("/")),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit("https://CDN.example/r"), (did % 5).cast("string"),
                F.lit("/"),
            ),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    raw = html_docs(
        docs,
        "<html><head><base target='_blank'>",
        F.when(
            winner.isNotNull(),
            F.concat(
                F.lit("<base href=' "), winner,
                F.lit(" '><base href='/base-loses/'>"),
            ),
        ).otherwise(F.lit("")),
        "</head><body><p>",
        F.col("text"),
        "</p></body></html>",
    )
    ex = extract(raw, want=("base",)).select("url", "base_href")
    udid = F.col("url").cast("long")
    page_url_out = F.concat(
        F.lit("https://site"), (udid % 4).cast("string"),
        F.lit(".example/a/page"), F.col("url"), F.lit(".html"),
    )
    eff = resolve_url(
        page_url_out, F.coalesce(F.col("base_href"), F.lit(""))
    )
    return ex.select("url", "base_href", eff.alias("effective_base"))


@_q(
    "filter_base",
    f"""WITH {{corpus}},
{{perdoc}}
SELECT url, base_href
FROM perdoc WHERE base_href IS NOT NULL""".format(
        corpus=corpus_cte(), perdoc=perdoc_cte()
    ),
)
def filter_base(spark, sf):
    """v17 corpus pinning: every document declaring a <base href>, with
    the trimmed case-preserved value hash-verified against the frozen
    per-idx facts — pins the decode → head-harvest → first-wins chain
    corpus-wide. Scan-stage predicate on an extracted scalar, zero
    shuffle."""
    ex = _extracted(spark, sf)
    return ex.filter(F.col("base_href").isNotNull()).select(
        "url", "base_href"
    )


@_q(
    "doc_forms",
    """WITH pages AS (
  SELECT doc_id,
         'https://f' || CAST(doc_id % 4 AS VARCHAR)
         || '.example/app/page' || CAST(doc_id AS VARCHAR) || '.html'
           AS url
  FROM documents
)
SELECT url, CAST(0 AS INTEGER) AS pos, 'post' AS method,
       '/Login' || CAST(doc_id % 5 AS VARCHAR) AS action,
       'https://f' || CAST(doc_id % 4 AS VARCHAR) || '.example/Login'
       || CAST(doc_id % 5 AS VARCHAR) AS abs_action
FROM pages
UNION ALL
SELECT url, CAST(1 AS INTEGER) AS pos, 'get' AS method,
       'search' || CAST(doc_id % 3 AS VARCHAR) || '.php' AS action,
       'https://f' || CAST(doc_id % 4 AS VARCHAR) || '.example/app/search'
       || CAST(doc_id % 3 AS VARCHAR) || '.php' AS abs_action
FROM pages""",
)
def doc_forms(spark, sf):
    """v18 FORMS, hash-verified closed-form: each page carries the form
    edge matrix — a case-mangled POST login form with padded action, a
    method-less relative search form (default 'get'), plus a nav form, a
    boiler-div form, a self-boiler form and a nested inner form that must
    all be excluded. ``abs_action`` composes v18 with `resolve_url` — the
    POST endpoint census a crawl-compliance pipeline keys on."""
    from caraspark.curation import resolve_url

    docs = load(spark, sf, "documents")
    did = F.col("doc_id")
    page_url = F.concat(
        F.lit("https://f"), (did % 4).cast("string"),
        F.lit(".example/app/page"), did.cast("string"), F.lit(".html"),
    )
    raw = html_docs(
        docs,
        "<html><body><p>t</p>"
        "<form method=' POST ' action=' /Login",
        (did % 5).cast("string"),
        " '><input></form><form action='search",
        (did % 3).cast("string"),
        ".php'><input></form>"
        "<nav><form action='/nav'></form></nav>"
        "<div class='sidebar'><form action='/b'></form></div>"
        "<form class='promo' action='/ad'></form>"
        "</body></html>",
        url=page_url,
    )
    ex = extract(raw, want=("forms",))
    t = ex.select("url", F.posexplode("forms").alias("pos", "t"))
    abs_action = resolve_url(F.col("url"), F.col("t.action"))
    return t.select(
        "url",
        F.col("pos").cast("int").alias("pos"),
        F.col("t.method").alias("method"),
        F.col("t.action").alias("action"),
        abs_action.alias("abs_action"),
    )


@_q(
    "dedup_canonical",
    """WITH pages AS (
  SELECT doc_id,
         'https://s' || CAST(doc_id % 5 AS VARCHAR) || '.example/a/page'
         || CAST(doc_id AS VARCHAR) || '.html' AS url,
         's' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS host,
         CASE WHEN doc_id % 3 = 0
              THEN 'https://canon.example/c/'
                   || CAST(doc_id % 17 AS VARCHAR)
              WHEN doc_id % 3 = 1
              THEN 'https://s' || CAST(doc_id % 5 AS VARCHAR)
                   || '.example/b/c' || CAST(doc_id % 17 AS VARCHAR)
              ELSE 'https://s' || CAST(doc_id % 5 AS VARCHAR)
                   || '.example/a/page' || CAST(doc_id AS VARCHAR)
                   || '.html'
         END AS canonical_url
  FROM documents
)
SELECT canonical_url, min(url) AS keep_url,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
FROM pages GROUP BY canonical_url""",
)
def dedup_canonical(spark, sf):
    """Canonical-URL deduplication — the publisher-declared dedup signal a
    web pipeline applies BEFORE any content hashing: pages sharing an
    effective rel=canonical target are one logical document (mirrors,
    tracking-parameter variants, cross-site syndication), and the cluster
    representative is the deterministic min page URL.

    Composes three pinned pieces end-to-end: v6 HEADMETA canonical
    extraction (want= projection: only canonical+base are assembled), the
    v17 effective base (base href itself resolved against the page URL),
    and RFC 3986 `resolve_url` — a RELATIVE canonical resolves against
    the effective base, exactly as browsers and crawlers do. Pages with
    no canonical fall back to their own URL (fragment-stripped
    self-cluster). The edge matrix plants one absolute cross-site cluster
    class (doc_id%3==0: syndication — n_hosts > 1), one base-relative
    class (%3==1: `<base href='/b/'>` + href `c{k}` → `/b/c{k}`), and one
    canonical-free class (%3==2), plus a losing second canonical decoy,
    so DuckDB predicts every (canonical_url, keep_url, n_pages, n_hosts)
    row in closed form.

    Scale: the Arrow extract stage computes TWO surfaces (want=
    projection pushdown), resolution is scan-stage regex, and the
    exchanges key on the canonical URL (plus the distinct-host level)
    carrying (url-min, count, host) partials with map-side combine —
    never HTML payloads. The lexicographic-min keeper puts a STRING in
    the aggregation buffer, so Catalyst plans a sort-based aggregate —
    inherent to min-URL semantics (a fixed-width keeper key would need a
    join back to recover the URL, a worse trade at 10^12 rows); skew (a
    single giant canonical target, e.g. a parked-domain landing page) is
    bounded because all three aggregates are partially aggregable."""
    from caraspark.curation import resolve_url

    docs = load(spark, sf, "documents")
    did = F.col("doc_id")
    page_url = F.concat(
        F.lit("https://s"), (did % 5).cast("string"),
        F.lit(".example/a/page"), did.cast("string"), F.lit(".html"),
    )
    canon_link = (
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit('<link rel="canonical" href=" https://canon.example/c/'),
                (did % 17).cast("string"),
                F.lit(' ">'),
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit("<base href='/b/'>"),
                F.lit('<link rel="canonical" href="c'),
                (did % 17).cast("string"),
                F.lit('">'),
            ),
        )
        .otherwise(F.lit('<link rel="alternate" href="/not-canonical">'))
    )
    # the losing-second decoy only on classes that HAVE a canonical —
    # on the canonical-free class it would win the first-wins slot
    decoy = F.when(
        did % 3 != 2, F.lit('<link rel="canonical" href="/second-loses">')
    ).otherwise(F.lit(""))
    raw = html_docs(
        docs,
        "<html><head>",
        canon_link,
        decoy,
        "</head><body><p>",
        F.col("text"),
        "</p></body></html>",
        url=page_url,
    )
    ex = extract(raw, want=("canonical", "base"))
    # two-STEP resolution on purpose: resolve_url embeds its base operand
    # at many points of its CASE/regex chain, so composing
    # resolve_url(resolve_url(url, base), canonical) as one expression
    # re-inlines the whole inner tree at every reference — the generated
    # method topped Janino's 64 KB limit and the stage fell back to
    # interpreted eval. Aliasing eff_base first makes it a multiply-
    # referenced non-cheap alias, which CollapseProject refuses to
    # inline: two compact codegen'd Projects instead of one giant one.
    eff_base = F.when(
        F.col("base_href").isNotNull(),
        resolve_url(F.col("url"), F.col("base_href")),
    ).otherwise(F.col("url"))
    host = F.regexp_extract(F.col("url"), r"^[a-z]+://([^/?#]*)", 1)
    based = ex.select(
        "url", "canonical", host.alias("host"), eff_base.alias("eff_base")
    )
    eff_canon = F.when(
        F.col("canonical").isNotNull() & (F.col("canonical") != ""),
        resolve_url(F.col("eff_base"), F.col("canonical")),
    ).otherwise(F.regexp_replace(F.col("url"), "#.*$", ""))
    return (
        based.select(
            eff_canon.alias("canonical_url"),
            F.col("url"),
            F.col("host"),
        )
        .groupBy("canonical_url")
        .agg(
            F.min("url").alias("keep_url"),
            F.count(F.lit(1)).cast("bigint").alias("n_pages"),
            F.countDistinct("host").cast("bigint").alias("n_hosts"),
        )
    )


@_q(
    "doc_pagination",
    """SELECT CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 3 <> 2
            THEN '/s' || CAST(doc_id % 7 AS VARCHAR) || '/page'
                 || CAST(doc_id + 1 AS VARCHAR) || '.html' END AS next_href,
       CASE WHEN doc_id % 2 = 0
            THEN '?p=' || CAST(doc_id % 5 AS VARCHAR) END AS prev_href,
       CASE WHEN doc_id % 3 <> 2
            THEN 'https://p' || CAST(doc_id % 4 AS VARCHAR) || '.example/s'
                 || CAST(doc_id % 7 AS VARCHAR) || '/page'
                 || CAST(doc_id + 1 AS VARCHAR) || '.html' END AS abs_next,
       CASE WHEN doc_id % 2 = 0
            THEN 'https://p' || CAST(doc_id % 4 AS VARCHAR) || '.example/s'
                 || CAST(doc_id % 7 AS VARCHAR) || '/page'
                 || CAST(doc_id AS VARCHAR) || '.html?p='
                 || CAST(doc_id % 5 AS VARCHAR) END AS abs_prev
FROM documents""",
)
def doc_pagination(spark, sf):
    """v19 PAGINATION, hash-verified closed-form: each page carries the
    pagination edge matrix — an empty-href rel=next decoy, a case-mangled
    multi-token winner (one doc class has NO next: the series tail), a
    losing second, a nav-wrapped rel=Previous synonym winner (one class
    has no prev: the series head), a losing rel=prev, and a boiler-div
    rel=next that must stay hidden. ``abs_next``/``abs_prev`` compose v19
    with `resolve_url` (RFC 3986 — the query-only prev ref keeps the page
    path) — the exact series-walk frontier a crawler enqueues."""
    from caraspark.curation import resolve_url

    docs = load(spark, sf, "documents")
    did = F.col("doc_id")
    has_next = did % 3 != 2
    has_prev = did % 2 == 0
    next_ref = F.concat(
        F.lit("/s"), (did % 7).cast("string"), F.lit("/page"),
        (did + 1).cast("string"), F.lit(".html"),
    )
    prev_ref = F.concat(F.lit("?p="), (did % 5).cast("string"))
    raw = html_docs(
        docs,
        "<html><head><link rel='next' href=''>",
        F.when(
            has_next,
            F.concat(
                F.lit("<link rel=' NEXT alternate ' href=' "),
                next_ref,
                F.lit(" '><link rel='next' href='/next-loses'>"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            has_prev,
            F.concat(
                F.lit("<nav><link rel='Previous' href='"),
                prev_ref,
                F.lit("'></nav><link rel='prev' href='/prev-loses'>"),
            ),
        ).otherwise(F.lit("")),
        "</head><body>"
        "<div class='promo'><link rel='next' href='/hid'>"
        "</div><p>",
        F.col("text"),
        "</p></body></html>",
    )
    ex = extract(raw, want=("pagination",)).select(
        "url", "next_href", "prev_href"
    )
    udid = F.col("url").cast("long")
    page_url = F.concat(
        F.lit("https://p"), (udid % 4).cast("string"), F.lit(".example/s"),
        (udid % 7).cast("string"), F.lit("/page"), F.col("url"),
        F.lit(".html"),
    )
    return ex.select(
        "url",
        "next_href",
        "prev_href",
        F.when(
            F.col("next_href").isNotNull(),
            resolve_url(page_url, F.col("next_href")),
        ).alias("abs_next"),
        F.when(
            F.col("prev_href").isNotNull(),
            resolve_url(page_url, F.col("prev_href")),
        ).alias("abs_prev"),
    )


@_q(
    "filter_pagination",
    f"""WITH {{corpus}},
{{perdoc}}
SELECT url, next_href, prev_href
FROM perdoc
WHERE next_href IS NOT NULL OR prev_href IS NOT NULL""".format(
        corpus=corpus_cte(), perdoc=perdoc_cte()
    ),
)
def filter_pagination(spark, sf):
    """v19 corpus pinning: every document in a paginated series (the
    html_pagination edge-matrix recipe), with both first-wins hrefs
    hash-verified against the frozen per-idx facts — pins the decode →
    head-harvest → rel-token → first-wins chain corpus-wide. Scan-stage
    predicate on extracted scalars, zero shuffle."""
    ex = _extracted(spark, sf)
    return ex.filter(
        F.col("next_href").isNotNull() | F.col("prev_href").isNotNull()
    ).select("url", "next_href", "prev_href")


@_q(
    "doc_series",
    """SELECT 'https://s.example/p' || CAST(doc_id AS VARCHAR) || '.html'
         AS url,
       'https://s.example/p' || CAST(doc_id - (doc_id % 4) AS VARCHAR)
         || '.html' AS series_id,
       CAST(doc_id % 4 AS BIGINT) AS pos
FROM documents""",
)
def doc_series(spark, sf):
    """Pagination-series assembly end-to-end: pages carry a RELATIVE
    rel=next link to the following page (every 4th page is a series
    tail with no next), the v19 surface is extracted, resolved absolute
    against the page URL (RFC 3986), and `assemble_series` pointer-
    doubles the chains back into (series head, 0-based position) — the
    reassembly a training pipeline runs before treating page 2..N as
    duplicate decoys. Closed-form oracle: doc_id's series head is
    doc_id - doc_id%4."""
    from caraspark.curation import assemble_series, resolve_url

    docs = load(spark, sf, "documents")
    did = F.col("doc_id")
    page_url = F.concat(
        F.lit("https://s.example/p"), did.cast("string"), F.lit(".html")
    )
    raw = html_docs(
        docs,
        "<html><head>",
        F.when(
            did % 4 != 3,
            F.concat(
                F.lit("<link rel='next' href='p"),
                (did + 1).cast("string"),
                F.lit(".html'>"),
            ),
        ).otherwise(F.lit("")),
        "</head><body><p>",
        F.col("text"),
        "</p></body></html>",
        url=page_url,
    )
    ex = extract(raw, want=("pagination",)).select("url", "next_href")
    edges = ex.select(
        "url",
        F.when(
            F.col("next_href").isNotNull(),
            resolve_url(F.col("url"), F.col("next_href")),
        ).alias("next_url"),
    )
    return assemble_series(edges)


@_q(
    "series_concat",
    """WITH g AS (
  SELECT doc_id, text, doc_id - (doc_id % 4) AS head FROM documents
)
SELECT 'https://s.example/p' || CAST(head AS VARCHAR) || '.html'
         AS series_id,
       CAST(count(*) AS INT) AS n_pages,
       string_agg(text, chr(10) ORDER BY doc_id) AS full_text
FROM g GROUP BY head""",
)
def series_concat(spark, sf):
    """Series reassembly payoff: the pages of each rel=next chain glued
    back into ONE document in walk order — what actually enters
    tokenization/packing so page 2..N never become near-dup decoys.
    One exchange on series_id; per-series ordering is array_sort over
    (pos, text) structs INSIDE the aggregated row (no global sort, no
    window). A series row is bounded by pagination depth × page size —
    pathological million-page series would need the giants-salting
    treatment `extract(salt="giants")` documents, not a different plan."""
    from caraspark.curation import assemble_series

    docs = load(spark, sf, "documents")
    did = F.col("doc_id")
    page = lambda c: F.concat(  # noqa: E731
        F.lit("https://s.example/p"), c.cast("string"), F.lit(".html")
    )
    pages = docs.select(
        page(did).alias("url"),
        F.when(did % 4 != 3, page(did + 1)).alias("next_url"),
    )
    assembled = assemble_series(pages)
    texts = docs.select(page(did).alias("url"), "text")
    return (
        assembled.join(texts, "url")
        .groupBy("series_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_pages"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "text"))),
                    lambda x: x["text"],
                ),
            ).alias("full_text"),
        )
    )


def markdown_df(ex):
    """Markdown view of extracted documents, composed ENTIRELY from the
    already-extracted surfaces (no re-parse): v3 SPANS slice the text
    payload back into blocks (byte-offset substring over the BINARY
    column — spans are octet offsets by SPEC), v7 HEADINGS prefix their
    blocks with #×level, and blocks rejoin in order with blank-line
    separators — the delivery shape markdown-trained LLM corpora use.
    All JVM: posexplode + binary substring + broadcast-size heading join
    + one url-keyed aggregate with in-row array_sort."""
    spans = ex.select(
        "url",
        "text",
        F.posexplode("spans").alias("i", "s"),
    ).select(
        "url",
        F.col("s.label").alias("label"),
        F.regexp_extract("s.label", r"block:(\d+)", 1).cast("int")
        .alias("block"),
        F.decode(
            F.expr("substring(text, s.start + 1, s.end - s.start)"),
            "utf-8",
        ).alias("body"),
    ).filter(F.col("label").startswith("block:"))
    heads = ex.select(
        "url", F.explode("headings").alias("h")
    ).select("url", F.col("h.block").alias("block"),
             F.col("h.level").alias("level"))
    lines = spans.join(heads, ["url", "block"], "left").select(
        "url",
        "block",
        F.concat(
            F.when(
                F.col("level").isNotNull(),
                F.concat(F.repeat(F.lit("#"), F.col("level")), F.lit(" ")),
            ).otherwise(F.lit("")),
            F.col("body"),
        ).alias("line"),
    )
    return lines.groupBy("url").agg(
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("block", "line"))),
                lambda x: x["line"],
            ),
        ).alias("markdown")
    )


@_q(
    "doc_markdown",
    """SELECT CAST(doc_id AS VARCHAR) AS url,
       '# Title ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10)
       || 'para one ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10)
       || '## Sec ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) || chr(10)
       || 'para two' AS markdown
FROM documents""",
)
def doc_markdown(spark, sf):
    """Markdown delivery composition, hash-verified closed-form: pages
    carry a known block/heading structure (h1 + para + h2 + para); the
    markdown view must reproduce the exact #-prefixed, blank-line-joined
    document — pinning spans-slice-back + heading-join + ordered
    reassembly end to end."""
    docs = load(spark, sf, "documents")
    did = F.col("doc_id")
    raw = html_docs(
        docs,
        "<html><body><h1>Title ",
        did.cast("string"),
        "</h1><p>para one ",
        did.cast("string"),
        "</p><h2>Sec ",
        (did % 5).cast("string"),
        "</h2><p>para two</p></body></html>",
    )
    ex = extract(raw, want=("text", "spans", "headings"))
    return markdown_df(ex)


from caraspark.oracle_freeze import md_cte  # noqa: E402


@_q(
    "doc_microdata",
    """SELECT CAST(doc_id AS VARCHAR) AS url, CAST(0 AS INTEGER) AS pos,
       0 AS item, 'https://schema.org/Product' AS itemtype,
       'name' AS prop, 'Widget ' || CAST(doc_id % 7 AS VARCHAR) AS value
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 1, 0, 'https://schema.org/Product',
       'brand', 'Widget ' || CAST(doc_id % 7 AS VARCHAR) FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 2, 0, 'https://schema.org/Product',
       'url', '/p/' || CAST(doc_id % 9 AS VARCHAR) FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 3, 0, 'https://schema.org/Product',
       'sku', 'SK ' || CAST(doc_id % 5 AS VARCHAR) FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 4, 0, 'https://schema.org/Product',
       'offers', 'item:1' FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 5, 1, 'https://schema.org/Offer',
       'price', CAST(doc_id % 13 AS VARCHAR) || ' usd' FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 6, -1, '', 'stray',
       's' || CAST(doc_id % 3 AS VARCHAR) FROM documents""",
)
def doc_microdata(spark, sf):
    """v20 MICRODATA, hash-verified closed-form: each document is
    wrapped in HTML carrying the itemprop edge matrix — a typed Product
    item (padded itemtype, trimmed on capture), a multi-token heading
    prop (one tuple per token), an a→href value (padded, trimmed), a
    meta→content value (inner run collapsed by normalization), a nested
    Offer item (pointer value 'item:1' on the parent), a boiler-div
    prop that must NOT emit, and an orphan prop outside any item
    (item=-1) — with deterministic values from doc_id so DuckDB
    predicts every (url, pos, item, itemtype, prop, value) row.

    Scale: the wrap is a JVM concat at scan stage; extraction is the
    one Arrow-batched UDF pass; posexplode emits short tuple rows with
    no shuffle at all — the plan is scan → project → generate."""
    docs = load(spark, sf, "documents")
    did = F.col("doc_id")
    raw = html_docs(
        docs,
        "<html><body>"
        "<div itemscope itemtype=' https://schema.org/Product '>"
        "<h2 itemprop='name brand'>Widget ",
        (did % 7).cast("string"),
        "</h2><a itemprop='url' href=' /p/",
        (did % 9).cast("string"),
        " '>buy</a><meta itemprop='sku' content=' SK  ",
        (did % 5).cast("string"),
        " '><div itemprop='offers' itemscope "
        "itemtype='https://schema.org/Offer'>"
        "<span itemprop='price'>",
        (did % 13).cast("string"),
        " usd</span></div>"
        "<div class='promo'><span itemprop='never'>x</span>"
        "</div></div><span itemprop='stray'>s",
        (did % 3).cast("string"),
        "</span><p>",
        F.col("text"),
        "</p></body></html>",
    )
    ex = extract(raw, want=("microdata",))
    return ex.select(
        "url", F.posexplode("microdata").alias("pos", "t")
    ).select(
        "url",
        F.col("pos").cast("int").alias("pos"),
        F.col("t.item").alias("item"),
        F.col("t.itemtype").alias("itemtype"),
        F.col("t.prop").alias("prop"),
        F.col("t.value").alias("value"),
    )


@_q(
    "microdata_types",
    f"""WITH {{corpus}},
{{md}}
SELECT t.itemtype,
       CAST(count(*) AS BIGINT) AS n_props,
       CAST(count(DISTINCT d.url) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT t.prop) AS BIGINT) AS n_distinct_props
FROM docs d JOIN md t ON t.idx = d.idx
WHERE t.itemtype <> ''
GROUP BY t.itemtype""".format(corpus=corpus_cte(), md=md_cte()),
)
def microdata_types(spark, sf):
    """schema.org itemtype census over the corpus's microdata tuples —
    the sibling of jsonld_types for the OTHER structured-data channel
    (which typed records exist, how many pages carry them, and how rich
    each type's property set is).

    Scale: explode emits one short tuple row per itemprop token; the
    filter and groupBy on itemtype are scan-stage + one narrow
    (type, counts) exchange with map-side combine."""
    ex = _extracted(spark, sf)
    t = ex.select(
        "url", F.explode("microdata").alias("t")
    ).filter(F.col("t.itemtype") != "")
    return t.groupBy(F.col("t.itemtype").alias("itemtype")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_props"),
        F.countDistinct("url").cast("bigint").alias("n_docs"),
        F.countDistinct("t.prop").cast("bigint").alias("n_distinct_props"),
    )


from caraspark.oracle_freeze import rd_cte  # noqa: E402


@_q(
    "doc_rdfa",
    """SELECT CAST(doc_id AS VARCHAR) AS url, CAST(0 AS INTEGER) AS pos,
       0 AS item, 'https://schema.org/' AS vocab, 'Product' AS typeof,
       'name' AS prop, 'Widget ' || CAST(doc_id % 7 AS VARCHAR) AS value
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 1, 0, 'https://schema.org/', 'Product',
       'brand', 'Widget ' || CAST(doc_id % 7 AS VARCHAR) FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 2, 0, 'https://schema.org/', 'Product',
       'url', '/p/' || CAST(doc_id % 9 AS VARCHAR) FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 3, 0, 'https://schema.org/', 'Product',
       'sku', 'SK ' || CAST(doc_id % 5 AS VARCHAR) FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 4, 0, 'https://schema.org/', 'Product',
       'offers', 'item:1' FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 5, 1, 'https://schema.org/', 'Offer',
       'price', CAST(doc_id % 13 AS VARCHAR) || ' usd' FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 6, -1, '', '', 'stray',
       's' || CAST(doc_id % 3 AS VARCHAR) FROM documents""",
)
def doc_rdfa(spark, sf):
    """v21 RDFA, hash-verified closed-form: each document is wrapped in
    HTML carrying the property edge matrix — a vocab region with a
    typed Product subject (padded vocab/typeof, trimmed), a multi-token
    heading property, an a→href value (padded, trimmed), a meta content
    value (inner run collapsed by normalization), a chained Offer
    subject (pointer value 'item:1' on the parent), a boiler-div
    property that must NOT emit, and an orphan property outside any
    subject and vocab region (item=-1, vocab '') — with deterministic
    values from doc_id so DuckDB predicts every
    (url, pos, item, vocab, typeof, prop, value) row.

    Scale: the wrap is a JVM concat at scan stage; extraction is the
    one Arrow-batched UDF pass; posexplode emits short tuple rows with
    no shuffle at all — the plan is scan → project → generate."""
    docs = load(spark, sf, "documents")
    did = F.col("doc_id")
    raw = html_docs(
        docs,
        "<html><body>"
        "<div vocab=' https://schema.org/ ' typeof=' Product '>"
        "<h2 property='name brand'>Widget ",
        (did % 7).cast("string"),
        "</h2><a property='url' href=' /p/",
        (did % 9).cast("string"),
        " '>buy</a><meta property='sku' content=' SK  ",
        (did % 5).cast("string"),
        " '><div property='offers' typeof='Offer'>"
        "<span property='price'>",
        (did % 13).cast("string"),
        " usd</span></div>"
        "<div class='promo'><span property='never'>x</span>"
        "</div></div><span property='stray'>s",
        (did % 3).cast("string"),
        "</span></body></html>",
    )
    ex = extract(raw, want=("rdfa",))
    t = ex.select(
        "url", F.posexplode("rdfa").alias("pos", "t")
    )
    return t.select(
        "url",
        F.col("pos").cast("int").alias("pos"),
        F.col("t.item").alias("item"),
        F.col("t.vocab").alias("vocab"),
        F.col("t.typeof").alias("typeof"),
        F.col("t.prop").alias("prop"),
        F.col("t.value").alias("value"),
    )


@_q(
    "rdfa_vocabs",
    f"""WITH {{corpus}},
{{rd}}
SELECT t.vocab,
       CAST(count(*) AS BIGINT) AS n_props,
       CAST(count(DISTINCT d.url) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT t.typeof) AS BIGINT) AS n_distinct_types
FROM docs d JOIN rd t ON t.idx = d.idx
WHERE t.vocab <> ''
GROUP BY t.vocab""".format(corpus=corpus_cte(), rd=rd_cte()),
)
def rdfa_vocabs(spark, sf):
    """RDFa vocabulary census over the corpus's property tuples — the
    sibling of microdata_types/jsonld_types for the THIRD
    structured-data channel (which vocabularies are in use, how many
    pages carry them, and how many distinct types each binds).

    Scale: explode emits one short tuple row per property token; the
    filter and groupBy on vocab are scan-stage + one narrow
    (vocab, counts) exchange with map-side combine."""
    ex = _extracted(spark, sf)
    t = ex.select(
        "url", F.explode("rdfa").alias("t")
    ).filter(F.col("t.vocab") != "")
    return t.groupBy(F.col("t.vocab").alias("vocab")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_props"),
        F.countDistinct("url").cast("bigint").alias("n_docs"),
        F.countDistinct("t.typeof").cast("bigint").alias(
            "n_distinct_types"
        ),
    )


@_q(
    "markup_density",
    f"""WITH {{corpus}},
{{perdoc}},
dens AS (
  SELECT kind,
         CAST(text_len * 1000 // bytes_in AS INTEGER) AS density
  FROM perdoc WHERE text_len IS NOT NULL AND bytes_in > 0
)
SELECT kind, CAST(density // 100 AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(density) AS INTEGER) AS d_min,
       CAST(max(density) AS INTEGER) AS d_max
FROM dens GROUP BY kind, bucket""".format(
        corpus=corpus_cte(), perdoc=perdoc_cte()
    ),
)
def markup_density(spark, sf):
    """Main-content density census: extracted-text bytes per raw input
    byte (permille, exact integer division), bucketed by decile and
    split by kind — THE extraction-quality dashboard number (a density
    collapse after a deploy means the boilerplate stripper started
    eating content; a spike means chrome is leaking in).  Verified
    against the frozen per-document facts, so the whole chain —
    extraction, text byte length, integer permille, bucketing — is
    hash-pinned.

    Scale: both lengths come out of the extraction row itself (no
    re-scan of payload bytes); the census exchange carries
    (kind, bucket, count) partials only."""
    ex = _extracted(spark, sf)
    dens = ex.filter(
        F.col("text").isNotNull() & (F.col("metrics.bytes_in") > 0)
    ).select(
        "kind",
        F.expr("CAST(length(text) * 1000 DIV metrics.bytes_in AS INT)")
        .alias("density"),
    )
    return dens.groupBy(
        "kind", F.expr("CAST(density DIV 100 AS INT)").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("density").cast("int").alias("d_min"),
        F.max("density").cast("int").alias("d_max"),
    )
