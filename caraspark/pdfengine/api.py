"""Per-document entry point: parse → validate → type-check → extract
(SURVEY.md C23 stats + C27 verdict/taxonomy; EP1 pipeline of §3.1).

``process_document(blob)`` is the unit of work the Arrow batch UDF maps over
``documents_raw.html``. It is total: any input bytes produce a result record,
never an exception. Verdict semantics:

  valid  — no error whose code is in FATAL_CODES (relaxed acceptance);
  strict — zero recorded VALIDATION errors (caradoc's strict grammar +
           full type check stance [LangSec16 §III–IV]). Extraction-phase
           ``extract.*`` warnings are excluded: caradoc validates in one
           command and extracts in another, and excluding them keeps the
           verdict identical between full and stats-only (``want=()``)
           runs.

Errors are sorted by (pos, code, path, msg) — deterministic output under any
partitioning (SURVEY.md §5.2-5 distribution invariance).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field, make_dataclass

from pyspark.sql.types import ArrayType

from caraspark.htmlengine import extract_html
from caraspark.pdfengine.document import Document, load_document
from caraspark.pdfengine.model import PdfError, Stream, canonical_json
from caraspark.pdfengine.textextract import extract_text_spans
from caraspark.pdfengine.typecheck import check_types
from caraspark.schemas import EXTRACTED, SURFACE_COLUMNS

FATAL_CODES = frozenset(
    {
        "file.no_header",
        "file.overlap",
        "xref.no_startxref",
        "xref.bad_startxref",
        "xref.bad_table",
        "xref.bad_subsection",
        "xref.bad_entry",
        "xref.bad_offset",
        "xref.obj_mismatch",
        "xref.prev_cycle",
        "xref.bad_prev",
        "xref.not_a_stream",
        "xref.stream_bad_w",
        "xref.missing_trailer",
        "xref.bad_trailer",
        "obj.bad_header",
        "graph.cycle",
        "graph.dangling_ref",
        "graph.gen_mismatch",
        "type.mismatch",
        "type.missing_required",
        "type.conflict",
        "lex.int_overflow",
        "resource.depth_limit",
        "resource.time_limit",
        "resource.too_many_objects",
        "resource.decoded_too_large",
        "cos.eof_in_object",
        "objstm.missing_container",
        "objstm.bad_header",
        "html.decode_error",
    }
)


# The extraction surfaces a consumer can request; "headmeta" is accepted
# as an alias for {title, canonical, description}.
SURFACES = frozenset(SURFACE_COLUMNS)
# (surface, ExtractResult field, field is an array column), in
# SURFACE_COLUMNS order.
_SURFACE_SLOTS = tuple(
    (s, c, isinstance(EXTRACTED[c].dataType, ArrayType))
    for s, cols in SURFACE_COLUMNS.items()
    for c in cols
)
_SURFACE_FIELDS = tuple(c for _, c, _ in _SURFACE_SLOTS)


@dataclass(slots=True)
class _DocumentResult:
    """The ExtractResult fields computed for every document."""

    kind: str  # 'pdf' | 'html'
    valid: bool = True
    strict: bool = True
    errors: list = field(default_factory=list)  # PdfError, sorted
    version: str | None = None
    n_objects: int = 0
    n_updates: int = 0
    n_streams: int = 0
    n_holes: int = 0
    bytes_in: int = 0
    bytes_decoded: int = 0
    parse_ms: float = 0.0
    encrypted: bool = False
    hybrid: bool = False
    linearized: bool = False
    type_assignments: dict = field(default_factory=dict)  # "num.gen" → type
    objects_json: dict = field(default_factory=dict)  # "num.gen" → canonical

    def errors_as_rows(self) -> list[dict]:
        return [
            {
                "code": e.code,
                "pos": e.pos,
                "obj_num": e.obj[0] if e.obj else None,
                "obj_gen": e.obj[1] if e.obj else None,
                "path": e.path,
                "msg": e.msg,
            }
            for e in self.errors
        ]


# Plus one field per surface column (schemas.EXTRACTED documents each),
# holding the value the Arrow column takes: a list of tuples for an array
# of structs. None when the surface was not requested.
ExtractResult = make_dataclass(
    "ExtractResult",
    [(c, object, None) for c in _SURFACE_FIELDS],
    bases=(_DocumentResult,),
    namespace={"__module__": __name__},
    slots=True,
)


def _surfaces(want: frozenset, computed: dict) -> dict:
    """The surface fields of one result: ``computed[c]`` for each column of
    a wanted surface; an unwanted one keeps its default, None. A wanted
    surface this kind of document does not have is [] in an array column,
    else None."""
    out = {}
    for s, c, is_array in _SURFACE_SLOTS:
        if s in want:
            out[c] = computed.get(c, [] if is_array else None)
    return out


def _pdf_info_text(doc, key: str) -> str | None:
    """v5 TITLE / v6 description, PDF side: trailer /Info (deref) → the
    requested text-string entry → Annex-D decode → whitespace-normalize;
    None when absent/not-a-string."""
    from caraspark.pdfengine.model import Ref
    from caraspark.pdfengine.textextract import decode_pdf_string

    info = doc.trailer.get("Info")
    if isinstance(info, Ref):
        info = doc.objects.get((info.num, info.gen))
    if not isinstance(info, dict):
        return None
    t = info.get(key)
    if isinstance(t, Ref):
        t = doc.objects.get((t.num, t.gen))
    if not isinstance(t, (bytes, bytearray)):
        return None
    return " ".join(decode_pdf_string(bytes(t)).split()) or None


def is_pdf(blob: bytes) -> bool:
    """Magic-byte routing per FIXTURES.md §2 (header may follow junk)."""
    return b"%PDF-" in blob[:1024]


DEFAULT_TIME_BUDGET_S = 60.0  # straggler guard; parse degrades, never hangs

def normalize_want(want=None) -> frozenset:
    """Resolve ``want`` to the surface set to compute: None → all surfaces,
    () → none (stats only). It may use the "headmeta" alias. Unknown names
    raise — a typo'd surface silently computing nothing would look like a
    data bug downstream."""
    if want is None:
        return SURFACES
    w = set(want)
    if "headmeta" in w:
        w.discard("headmeta")
        w |= {"title", "canonical", "description"}
    unknown = w - SURFACES
    if unknown:
        raise ValueError(
            f"unknown extraction surfaces {sorted(unknown)}; "
            f"valid: {sorted(SURFACES)} + 'headmeta'"
        )
    return frozenset(w)


def process_document(
    blob: bytes,
    strict: bool = True,
    want_objects: bool = False,
    max_objects: int = 100_000,
    time_budget_s: float = DEFAULT_TIME_BUDGET_S,
    want=None,
) -> ExtractResult:
    """``want`` (an iterable of SURFACES names; None = all, () = stats
    only) is the projection-pushdown control: parsing, xref
    resolution, decryption and type checking ALWAYS run, but each content
    surface is assembled only when requested, and unrequested surfaces are
    None in the result — so a stats-only or title-only consumer never pays
    for text assembly, the outline walk, or span materialization.
    Caveat of text-less modes, by design: content-stream-level error codes
    (``content.*`` and text-side ``filter.*``) are then not collected, so
    the verdict covers document STRUCTURE only (the strict verdict already
    excludes ``extract.*`` codes, making it want-invariant)."""
    wanted = normalize_want(want)
    t0 = time.perf_counter()
    if is_pdf(blob):
        res = _process_pdf(
            blob, strict, want_objects, max_objects, time_budget_s, wanted
        )
    else:
        res = _process_html(blob, wanted)
    res.bytes_in = len(blob)
    res.parse_ms = (time.perf_counter() - t0) * 1000.0
    res.errors.sort(key=lambda e: e.sort_key())
    res.valid = not any(e.code in FATAL_CODES for e in res.errors)
    # strict is a VALIDATION verdict (caradoc validates structure/types;
    # text extraction is a separate command whose warnings don't change
    # validation). Excluding extraction-phase ``extract.*`` codes also makes
    # the verdict invariant under ``want``, so stats-mode and full
    # runs can never disagree on it.
    res.strict = all(e.code.startswith("extract.") for e in res.errors)
    return res


def _process_pdf(
    blob, strict, want_objects, max_objects, time_budget_s=None,
    want=SURFACES,
) -> ExtractResult:
    doc: Document = load_document(
        blob,
        strict=strict,
        max_objects=max_objects,
        time_budget_s=time_budget_s,
    )
    errors = list(doc.errors)

    tres = check_types(doc, strict=strict)
    errors.extend(tres.errors)

    # text and spans share one content-stream assembly pass; run it when
    # either is requested (``_surfaces`` drops an unrequested half).
    computed = {}
    if want & {"text", "spans"}:
        computed["text"], computed["spans"] = extract_text_spans(doc, errors)
    if "title" in want:
        computed["title"] = _pdf_info_text(doc, "Title")
    if "description" in want:
        computed["description"] = _pdf_info_text(doc, "Subject")
    if "headings" in want:
        from caraspark.pdfengine.document import extract_outline

        computed["headings"] = [
            (o["pos"], o["level"] + 1) for o in extract_outline(doc)
        ]

    bytes_decoded = sum(
        len(s.decoded) for s in doc.streams.values() if s.decoded is not None
    )

    res = ExtractResult(
        kind="pdf",
        errors=errors,
        version=doc.version,
        n_objects=len(doc.objects),
        n_updates=doc.n_updates,
        n_streams=len(doc.streams),
        n_holes=doc.n_holes,
        bytes_decoded=bytes_decoded,
        encrypted=doc.encrypted,
        hybrid=doc.hybrid,
        linearized=doc.linearized,
        type_assignments={
            f"{k[0]}.{k[1]}": v for k, v in sorted(tres.assignments.items())
        },
        **_surfaces(want, computed),
    )
    if want_objects:
        res.objects_json = {
            f"{k[0]}.{k[1]}": canonical_json(
                o.d if isinstance(o, Stream) else o
            )
            for k, o in sorted(doc.objects.items())
        }
    return res


def _process_html(blob, want=SURFACES) -> ExtractResult:
    errors: list[PdfError] = []
    if want:
        # HTML extraction is one single-pass parse that produces all the
        # surfaces together (the pass itself is the cost; the per-surface
        # collection is incidental), so any requested surface runs the full
        # parse and ``_surfaces`` nulls the unrequested ones — the saving
        # is in what crosses the Arrow boundary, not the parse.
        vals = extract_html(blob)
        # ogmeta comes back as one (og_title, og_description, og_image)
        # triple; every other surface column is one value
        computed = dict(
            zip(_SURFACE_FIELDS, vals[:7] + vals[7] + vals[8:], strict=True)
        )
        has_content = bool(computed["text"])
    else:
        # Stats mode skips text materialization but must agree with the full
        # run on the error taxonomy: early-exit emptiness probe, no content.
        from caraspark.htmlengine import html_has_content

        computed = {}
        has_content = html_has_content(blob)
    if not has_content:
        errors.append(PdfError("html.no_content", pos=0))
    return ExtractResult(kind="html", errors=errors, **_surfaces(want, computed))
