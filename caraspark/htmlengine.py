"""HTML main-content extraction (SURVEY.md C26, HTML side of north_rule).

Boilerplate stripping in the jusText/Readability tradition — text-density +
link-density block heuristics over a tolerant stdlib ``html.parser`` parse
(no lxml/bs4 in the environment, and none needed).

FROZEN SPEC (implemented twice — here and independently in ``oracle/`` —
and compared byte-for-byte per url):

* DECODE (v2 charset sniff — Common-Crawl pages are not all UTF-8):
  1. UTF-8 BOM (EF BB BF) → strip it, decode utf-8 with errors=replace.
  2. UTF-16 BOM (FF FE / FE FF) → decode utf-16-le / utf-16-be from after
     the BOM, errors=replace.
  3. Else scan the first 1024 RAW bytes, ASCII-lowercased, for the first
     ``charset\\s*=\\s*["']?([a-z0-9_\\-]+)`` match (covers both
     ``<meta charset=X>`` and http-equiv content-type forms). Normalize:
     utf8/utf-8 → utf-8; latin1/latin-1/iso-8859-1/iso8859-1/
     windows-1252/cp1252/ansi → cp1252; any other label that Python's
     codec registry resolves → that codec; unresolvable → utf-8.
     Decode with errors=replace.
  4. No declaration → strict utf-8; on UnicodeDecodeError → cp1252
     (errors=replace), the browser-style legacy fallback.
* Parse with html.parser, convert_charrefs=True (entities & charrefs decode
  to unicode before any counting).
* DROP subtrees rooted at: script style noscript template nav header footer
  aside iframe svg math form button select option object embed head title
  — nesting-counted per tag so unclosed tags can't leak boilerplate in.
* ATTRIBUTE DROP (v2 DOM heuristic, Readability-style): a non-DROP,
  non-self-closing element whose ``class`` or ``id`` attribute value,
  lowercased, contains any token from BOILER_TOKENS as a substring opens
  an attr-drop region rooted at that tag name with depth 1. While the
  region is active EVERYTHING is discarded and the ONLY events considered
  are opens (+1) and closes (−1) of the root tag name; the region ends
  when depth returns to 0. Regions don't nest and don't touch the
  tag-DROP counter.
* BLOCK boundaries: p div h1–h6 li ul ol table tr td th article section
  main blockquote pre dl dt dd figure figcaption br hr — both open and
  close (and self-closing) flush the current block.
* Inside a block: text chunks accumulate; characters inside <a> also count
  toward the block's link tally (non-whitespace chars).
* Block flush: normalize = " ".join(text.split()); empty → discarded;
  link_chars / total_chars > 0.66 → discarded (link farm);
* Output = "\n".join(kept blocks) as UTF-8; nothing kept → b"".
* OUTLINKS (v4, crawl-frontier feed): every ``href`` of an ``<a>`` open
  or self-closing tag OUTSIDE drop/boilerplate regions, in document
  order, exact-string deduped keeping the first occurrence. The value is
  whitespace-trimmed; empty values, pure fragments (leading ``#``), and
  ``javascript:`` / ``mailto:`` / ``data:`` schemes (case-insensitive)
  are skipped. Link-density discard does NOT apply — it is a flush-time
  property of text blocks, while outlinks are structural — for the same
  reason a page whose text comes out empty STILL reports its outlinks
  (a contentless hub page is exactly a crawl-frontier source). PDFs
  yield []; stats mode (want=()) yields None.
* TITLE (v5, page metadata): the character data of the FIRST <title>
  element outside boilerplate attr-regions, normalized with
  " ".join(split); empty after normalization (or no <title>) -> None.
  Title collection ignores drop regions — <title> itself is a DROP tag
  (head metadata never enters the text payload) but its text is the
  page's display name, harvested like outlinks are. An unclosed <title>
  collects all subsequent character data to end of input — data that
  simultaneously follows the normal block rules (title collection is a
  parallel pass, not a detour), keeping the two witnesses' independent
  state machines equivalent.
  PDFs take the trailer /Info /Title string instead (decode_pdf_string,
  same normalization); stats mode (want=()) yields None.
* HEADMETA (v6, dedup/index metadata): canonical = the trimmed href of
  the FIRST <link> whose rel list (lowercased, whitespace-split)
  contains "canonical" and whose href is non-empty; description = the
  whitespace-normalized content of the FIRST <meta name="description">
  (name compared trimmed+lowercased) with non-empty content. Both are
  collected like TITLE: despite tag-drop regions (they live in <head>)
  but not inside boilerplate attr-regions; first occurrence wins; absent
  or empty -> None. PDFs map description to /Info /Subject (same Annex-D
  decode as TITLE) and have no canonical; stats mode yields None/None.
* OGMETA (v8, social/share metadata): the FIRST <meta property="og:X">
  (property compared trimmed+lowercased) with non-empty content, for
  X in {title, description, image} independently — og:title and
  og:description whitespace-normalized like v6 description, og:image
  trimmed like v6 canonical (it is a URL). Collection placement is
  identical to HEADMETA: despite tag-drop regions, opaque inside
  boilerplate attr-regions, first occurrence wins per property. PDFs
  have no OG metadata (all three None); unrequested surface -> None.
* HEADINGS (v7, document structure): one (block, level) pair per KEPT
  block whose opening tag was h1–h6 — ``block`` is the kept-block index
  (the same index SPANS labels "block:<i>", so the heading text is the
  span's payload slice), ``level`` the digit. The opening tag of the
  current block is tracked from the block-boundary OPEN event (open and
  self-closing tags set it, close events and flushes clear it); a block
  discarded by emptiness or link density emits nothing. PDFs map the
  outline tree instead: (preorder position, nesting level + 1) — levels
  are 1-based like HTML's. Stats mode yields None.
* ANCHORS (v9, web-graph signal): one string per OUTLINK, parallel by
  index — the whitespace-normalized visible character data of the FIRST
  anchor element that created the outlink (v4 first-occurrence dedup
  binds the capture to that element; later duplicates contribute no
  text). Text binds to the INNERMOST open anchor element only (browsers
  auto-close <a> on a nested <a>, so per-element capture matches what
  each anchor would have contained); data inside drop/boilerplate
  regions is excluded exactly as for blocks; a self-closing or textless
  anchor yields ""; an anchor still open at end of input captures to
  EOF. PDFs yield [] (mirroring OUTLINKS); stats mode yields None.
* TABLES (v10, structured-data surface): one (table, row, col, header,
  cell) tuple per table cell OPENED outside drop/boilerplate regions.
  ``table`` is the 0-based count of <table> opens (outside those regions,
  self-closing included — an index per element, cells or not); all other
  events bind to the INNERMOST open table element (stack).  Within it:
  <tr> open closes any open cell, advances the 0-based row counter and
  resets the column; <td>/<th> open closes any open cell, implicitly
  opens row 0 when no <tr> preceded, advances the 0-based column and
  opens a cell (header = the tag is th); the cell's text is the
  whitespace-normalized character data seen while it is open (drop/
  boiler regions excluded as for blocks — and data binds only when the
  INNERMOST table has the open cell: a nested table suspends its outer
  cell's capture until it closes).  A cell closes at </td>/</th>/</tr>,
  at </table> (which pops the table), or at end of input (all stacked
  tables close innermost-first).  Self-closing <td>/<th> emit an
  empty-text cell; self-closing <tr> advances the row.  EVERY opened
  cell emits exactly one tuple in cell-CLOSE order, empty text included
  (grid position is the payload); link-density discard does NOT apply
  (structural surface, same stance as OUTLINKS).  PDFs yield []; stats
  mode (want=()) yields None.
* LISTS (v11, document-structure surface): one (list, item, depth,
  ordered, item_text) tuple per <li> OPENED outside drop/boilerplate
  regions while a list element is open.  ``list`` is the 0-based count
  of <ul>/<ol> opens (outside those regions, self-closing included — an
  index per element, items or not); all other events bind to the
  INNERMOST open list element (stack).  ``depth`` is the number of list
  elements already open when that list opened (0 = top level);
  ``ordered`` = the innermost list's tag is <ol>.  <li> open closes any
  open item of the innermost list, advances its 0-based item counter and
  opens an item; the item's text is the whitespace-normalized character
  data seen while it is open (drop/boiler regions excluded as for
  blocks — and data binds only when the INNERMOST list has the open
  item: a nested list suspends its outer item's capture until it
  closes).  An item closes at </li>, at a sibling <li> open, at
  </ul>/</ol> (which pops the list), or at end of input (stacked lists
  close innermost-first).  Self-closing <li> emits an empty-text item;
  <li> outside any open list emits nothing.  EVERY opened item emits
  exactly one tuple in item-CLOSE order, empty text included;
  link-density discard does NOT apply (structural surface, same stance
  as OUTLINKS/TABLES).  PDFs yield []; stats mode (want=())
  yields None.
* IMAGES (v12, multimodal-mining surface): one (src, alt) pair per
  <img> tag OPENED (open or self-closing) outside drop/boilerplate
  regions, in document order — the raw material for image-text-pair
  mining at corpus scale.  ``src`` is the whitespace-trimmed value of
  the FIRST ``src`` attribute ("" when absent/empty — the element still
  counts: index is per element, like v10/v11); ``alt`` is the
  whitespace-normalized value of the FIRST ``alt`` attribute ("" when
  absent).  No dedup (unlike OUTLINKS — repeated images are a layout
  signal) and no scheme filtering (a ``data:`` src IS the image);
  link-density discard does not apply (structural surface, same stance
  as OUTLINKS/TABLES/LISTS).  A boiler-classed <img> opens an
  attr-drop region like any other tag (checked BEFORE collection, the
  shared v2 ordering) and therefore emits nothing.  PDFs yield [];
  stats mode (want=()) yields None.
* ROBOTSMETA (v14, crawl-compliance signal): the content of the FIRST
  ``<meta name="robots">`` (name compared trimmed + lowercased) with
  non-empty content, lowercased and whitespace-normalized (directive
  lists are case-insensitive comma tokens) — the noindex/nofollow
  surface a compliant corpus pipeline must honor before a page enters
  training data.  Collection placement is identical to HEADMETA:
  despite tag-drop regions, opaque inside boilerplate attr-drop
  regions, first occurrence wins; absent or empty -> None.  PDFs have
  no robots meta (None); stats mode yields None.
* ALTERNATES (v15, multilingual/feed crawl-planning surface): one
  (hreflang, type, href) triple per ``<link>`` element (open or
  self-closing) whose ``rel`` token list contains ``alternate`` —
  hreflang alternates drive multilingual crawl expansion, and
  ``type``-tagged alternates (application/rss+xml, application/atom+xml)
  are the feed-discovery surface.  ``hreflang`` and ``type`` are
  trimmed + lowercased ("" when absent), ``href`` is trimmed ("" when
  absent — the element still counts; index is per element, the v12
  stance).  Attribute lookup uses the shared HEADMETA dict contract
  (last attribute occurrence wins).  No dedup, no first-wins, document
  order.  Collection placement is identical to HEADMETA: despite
  tag-drop regions, opaque inside boilerplate attr-drop regions.  PDFs
  yield []; stats mode (want=()) yields None.
* PAGINATION (v19, crawl-sequencing signal): the trimmed,
  CASE-PRESERVED href of the FIRST ``<link>`` element (open or
  self-closing) whose ``rel`` token list (lowercased,
  whitespace-split — the shared v6/v15 rel contract) contains ``next``
  (-> next_href) and, independently, ``prev`` OR its HTML-spec
  non-conforming synonym ``previous`` (-> prev_href) with a non-empty
  href — the paginated-series surface (WHATWG HTML §4.6.6.10-11) a
  crawler uses to walk multi-page articles and listings in order, and
  a dedup pipeline uses to avoid treating page 2..N as near-dup decoys
  of page 1.  Empty-href elements are skipped (the NEXT matching
  element may still win, the v6 canonical stance); one element whose
  rel holds both tokens can win both slots.  Collection placement is
  identical to HEADMETA: despite tag-drop regions, opaque inside
  boilerplate attr-drop regions, first occurrence wins per slot.
  PDFs have no pagination links (None/None); stats mode yields None.
* MICRODATA (v20, structured-data surface): one (item, itemtype, prop,
  value) tuple per ``itemprop`` TOKEN of each element bearing an
  ``itemprop`` attribute, opened (open or self-closing) outside
  drop/boilerplate regions — the schema.org-microdata counterpart of
  v13 JSONLD (WHATWG HTML §5.2), the other structured-data channel a
  training pipeline mines for typed records.  NORMAL-path placement
  (the v10/v11/v12 stance, NOT the v13 head-metadata stance): tag-drop
  subtrees and boilerplate attr-drop regions are invisible, and an
  element whose class/id is boiler opens its attr-drop region before
  v20 sees it; self-closing elements never open regions and are always
  collected (the v10–v12 precedent).  Attribute lookup uses the shared
  HEADMETA dict contract (last attribute occurrence wins); an element
  BEARS itemscope when any attribute named itemscope is present,
  valueless included.
  ITEMS: an element bearing ``itemscope`` defines an item; ``item``
  indices are 0-based in element-OPEN order (self-closing itemscope
  still consumes an index — per element, the v12 stance); the item's
  type is its own trimmed, case-preserved ``itemtype`` value ("" when
  absent).  Open itemscope elements nest: each stacked region tracks
  its root tag name with the shared depth contract — any open of that
  tag +1, any close −1 (self-closing tags touch nothing), a region
  reaching 0 closes together with every region stacked above it
  (nested regions end when their container ends), EOF closes all.
  PROPS: each whitespace-split ``itemprop`` token yields one tuple
  (zero tokens → no tuples); ``item``/``itemtype`` are the INNERMOST
  open item's index and type at the element's open, BEFORE its own
  itemscope (if any) is pushed — an itemscope+itemprop element is a
  property of its PARENT item; no open item → item = -1, itemtype "".
  VALUE, by the WHATWG value table: itemscope present →
  "item:<own index>" (the nested-item pointer); meta → content,
  whitespace-normalized; a/area/link → href trimmed; img/audio/video/
  embed/iframe/source/track → src trimmed; object → data trimmed;
  data/meter → value trimmed; time → datetime trimmed (ALWAYS the
  attribute, "" when absent — a deliberate simplification of WHATWG's
  text fallback, keeping value assembly attribute-pure); anything else
  → TEXT capture: the whitespace-normalized character data seen while
  the element is open (same region-tracked stack contract as items;
  closes fill the value), binding to the INNERMOST open v20 region
  only and only when that region is a capture — a nested prop suspends
  the outer capture, and a nested ITEM's text belongs to its own props
  (v10 innermost-binding stance).  A self-closing capture-category
  element emits "".  All attribute-category values ("" included — the
  tuple still emits; per token, the v12 stance) are final at open.
  EMISSION ORDER: element-OPEN document order, token order within an
  element (captures fill in place at close; EOF closes innermost
  first).  PDFs yield []; stats mode (want=()) yields None.
* RDFA (v21, structured-data surface): one (item, vocab, typeof, prop,
  value) tuple per ``property`` TOKEN of each element bearing a
  ``property`` attribute — the RDFa-Lite counterpart of v20 MICRODATA
  (W3C RDFa Lite 1.1), the third structured-data channel (JSON-LD,
  microdata, RDFa) a training pipeline mines for typed records.
  NORMAL-path placement like v20: drop subtrees and boiler regions
  invisible, self-closing elements always collected.  Attribute lookup
  uses the shared HEADMETA dict contract (last occurrence wins,
  valueless attributes absent from value lookups).
  VOCAB: a ``vocab`` attribute (valueless → "") sets the in-scope
  vocabulary for the element ITSELF and its subtree (region-stacked
  with the shared depth contract; vocab="" is the spec's reset); every
  tuple carries the innermost in-scope vocab at its element's open,
  own attribute included; none in scope → "".
  SUBJECTS: an element bearing ``typeof`` defines a subject (item);
  indices are 0-based in element-OPEN order (self-closing consumes an
  index — per element, the v12 stance); the subject's typeof is its
  own trimmed, case-preserved value ("" when valueless).  ``prefix``
  and ``about`` are out of scope — terms and CURIEs are kept exactly
  as written (a deliberate simplification mirroring v20's
  attribute-pure time).
  PROPS: each whitespace-split ``property`` token yields one tuple;
  ``item``/``typeof`` are the INNERMOST open subject's index and
  typeof at the element's open, BEFORE its own typeof (if any) is
  pushed — a typeof+property element chains as a property of its
  PARENT subject pointing at itself (value "item:<own index>", the
  v20 nested-item stance); no open subject → item -1, typeof "".
  VALUE, by RDFa-Lite precedence (presence-tested, unlike v20's
  tag-gated table): ``content`` attribute present on ANY tag →
  whitespace-normalized; else ``resource`` present → trimmed; else
  a/area/link → href trimmed; img/audio/video/embed/iframe/source/
  track → src trimmed; object → data trimmed; time → datetime
  trimmed; anything else → TEXT capture with the v20 region-tracked
  innermost-binding contract (closes fill the value, EOF closes all,
  innermost first; a self-closing capture-category element emits "");
  vocab regions are TRANSPARENT to text capture — a vocab-only
  descendant never suspends an enclosing capture, only a nested prop
  capture or subject does.
  HTML VOID elements (area base br col embed hr img input link meta
  param source track wbr) never root a v21 region — the parser emits
  no close event for them, so they are collected as if self-closing
  (a valueless void property emits "", a void typeof consumes its
  index without opening a subject).
  EMISSION ORDER: element-OPEN document order, token order within an
  element.  PDFs yield []; stats mode (want=()) yields None.
* JSONLD (v13, structured-data surface): one string per
  ``<script type="application/ld+json">`` element — the element's raw
  character data, stripped of leading/trailing whitespace (INTERNAL
  whitespace preserved: the payload is JSON, not prose), in document
  order; "" when the element is empty after stripping.  The type
  attribute is compared trimmed + ASCII-lowercased, first attr
  occurrence wins.  Like TITLE, collection runs DESPITE tag-drop
  regions (script is itself a DROP tag — the payload never enters the
  text) but is opaque inside boilerplate attr-drop regions.  A matching
  script still open at end of input still EMITS one entry, but its
  payload is "" — html.parser never flushes unterminated CDATA content,
  in both witnesses by construction.  Self-closing matching scripts
  emit "".  Non-matching scripts collect nothing.
  PDFs yield []; stats mode (want=()) yields None.
* SPANS (v3, north_rule "extracted text/spans per document"): alongside
  the text payload, one span per kept block: (start, end, label) with
  start/end BYTE (octet) offsets into the UTF-8 payload, end exclusive,
  label = "block:<i>" (0-based kept-block index). Blocks are joined by a
  single 1-byte "\n", so start_{i+1} = end_i + 1. Empty output → [].
"""

from __future__ import annotations

import codecs
import re
from html.parser import HTMLParser

DROP_TAGS = frozenset(
    """script style noscript template nav header footer aside iframe svg
       math form button select option object embed head title""".split()
)
BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li ul ol table tr td th article section
       main blockquote pre dl dt dd figure figcaption br hr""".split()
)
LINK_DENSITY_MAX = 0.66
BOILER_TOKENS = (
    "comment sidebar footer advert banner menu breadcrumb social share "
    "related sponsor cookie popup promo widget"
).split()

_SKIP_SCHEMES = ("javascript:", "mailto:", "data:")

_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?([a-z0-9_\-]+)")

# HTML void elements (WHATWG §13.1.2): html.parser never emits an endtag
# for these, so v21 must not root a region at one
_HTML_VOID = frozenset(
    {"area", "base", "br", "col", "embed", "hr", "img", "input", "link",
     "meta", "param", "source", "track", "wbr"}
)
_CP1252_LABELS = frozenset(
    "latin1 latin-1 iso-8859-1 iso8859-1 windows-1252 cp1252 ansi".split()
)


def decode_html(blob: bytes) -> str:
    """Charset-sniffed decode per the SPEC's v2 DECODE rules."""
    if blob.startswith(b"\xef\xbb\xbf"):
        return blob[3:].decode("utf-8", "replace")
    if blob.startswith(b"\xff\xfe"):
        return blob[2:].decode("utf-16-le", "replace")
    if blob.startswith(b"\xfe\xff"):
        return blob[2:].decode("utf-16-be", "replace")
    m = _CHARSET_RE.search(blob[:1024].lower())
    if m:
        label = m.group(1).decode("ascii")
        if label in ("utf8", "utf-8"):
            codec = "utf-8"
        elif label in _CP1252_LABELS:
            codec = "cp1252"
        else:
            try:
                codecs.lookup(label)
                codec = label
            except LookupError:
                codec = "utf-8"
        return blob.decode(codec, "replace")
    try:
        return blob.decode("utf-8")
    except UnicodeDecodeError:
        return blob.decode("cp1252", "replace")


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[str] = []
        self._buf: list[str] = []
        self._drop_depth = 0
        self._a_depth = 0
        self._link_chars = 0
        self._total_chars = 0
        self._attr_tag: str | None = None  # attr-drop region root tag
        self._attr_depth = 0
        self.outlinks: list[str] = []
        self.anchors: list[str] = []  # v9: parallel to outlinks
        self._a_stack: list[tuple[int, list[str]] | None] = []
        self._seen_links: set[str] = set()
        self._title_buf: list[str] = []
        self._in_title = False
        self._title_done = False
        self.canonical: str | None = None
        self.description: str | None = None
        self.robots_meta: str | None = None  # v14
        self.refresh_meta: str | None = None  # v16
        self.base_href: str | None = None  # v17
        self.forms: list = []  # v18: (method, action) per <form> element
        self.next_href: str | None = None  # v19 PAGINATION
        self.prev_href: str | None = None  # v19 PAGINATION
        self.og_title: str | None = None
        self.og_description: str | None = None
        self.og_image: str | None = None
        self.headings: list[tuple[int, int]] = []  # (kept-block idx, level)
        self._open_block_tag: str | None = None
        # v10 TABLES: (table, row, col, header, cell) per opened cell
        self.tables: list[tuple[int, int, int, bool, str]] = []
        self._tbl_count = 0
        # stack frames: [tbl_idx, row, col, cell_open, is_th, parts]
        self._tbl_stack: list[list] = []
        # v11 LISTS: (list, item, depth, ordered, item_text) per opened item
        self.lists: list[tuple[int, int, int, bool, str]] = []
        self._lst_count = 0
        # stack frames: [lst_idx, item, depth, ordered, item_open, parts]
        self._lst_stack: list[list] = []
        # v12 IMAGES: (src, alt) per <img> element, document order
        self.images: list[tuple[str, str]] = []
        self.alternates: list[tuple[str, str, str]] = []
        # v13 JSONLD: raw stripped payload per ld+json script element
        self.jsonld: list[str] = []
        self._ld_open = False
        self._ld_buf: list[str] = []
        # v20 MICRODATA: [item, itemtype, prop, value] per itemprop token
        # (value slots of text captures fill at element close)
        self.microdata: list[list] = []
        self._md_items = 0  # itemscope elements opened — item index source
        # v20 region stack, outer→inner:
        #   ["scope", root_tag, depth, item_idx, itemtype]
        #   ["cap",   root_tag, depth, parts,    slots]
        self._md_stack: list[list] = []
        # v21 RDFA: [item, vocab, typeof, prop, value] per property token
        # (value slots of text captures fill at element close)
        self.rdfa: list[list] = []
        self._rd_subjects = 0  # typeof elements opened — item index source
        # v21 region stack, outer→inner (one element may push voc THEN
        # subj/cap — both rooted at its tag, both close together):
        #   ["voc",  root_tag, depth, vocab]
        #   ["subj", root_tag, depth, item_idx, typeof]
        #   ["cap",  root_tag, depth, parts,    slots]
        self._rd_stack: list[list] = []

    # -- block lifecycle
    def _flush(self) -> None:
        text = " ".join("".join(self._buf).split())
        link, total = self._link_chars, self._total_chars
        tag = self._open_block_tag
        self._buf.clear()
        self._link_chars = 0
        self._total_chars = 0
        self._open_block_tag = None
        if not text:
            return
        if total > 0 and link / total > LINK_DENSITY_MAX:
            return
        if tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
            self.headings.append((len(self.blocks), int(tag[1])))
        self.blocks.append(text)

    # -- v10 table lifecycle (parallel pass, like title/anchors)
    def _cell_close(self) -> None:
        if self._tbl_stack:
            t = self._tbl_stack[-1]
            if t[3]:
                self.tables.append(
                    (t[0], t[1], t[2], t[4], " ".join("".join(t[5]).split()))
                )
                t[3] = False
                t[5] = []

    def _cell_open(self, tag: str) -> None:
        t = self._tbl_stack[-1]
        self._cell_close()
        if t[1] < 0:
            t[1] = 0  # cell before any <tr>: implicit row 0
        t[2] += 1
        t[3] = True
        t[4] = tag == "th"
        t[5] = []

    def _row_open(self) -> None:
        t = self._tbl_stack[-1]
        self._cell_close()
        t[1] += 1
        t[2] = -1

    def _finalize_tables(self) -> None:
        """EOF with tables still open: cells close innermost-first."""
        while self._tbl_stack:
            self._cell_close()
            self._tbl_stack.pop()

    # -- v11 list lifecycle (parallel pass, like tables)
    def _item_close(self) -> None:
        if self._lst_stack:
            s = self._lst_stack[-1]
            if s[4]:
                self.lists.append(
                    (s[0], s[1], s[2], s[3], " ".join("".join(s[5]).split()))
                )
                s[4] = False
                s[5] = []

    def _item_open(self) -> None:
        s = self._lst_stack[-1]
        self._item_close()
        s[1] += 1
        s[4] = True
        s[5] = []

    def _list_open(self, tag: str) -> None:
        self._lst_stack.append(
            [self._lst_count, -1, len(self._lst_stack), tag == "ol",
             False, []]
        )
        self._lst_count += 1

    def _finalize_lists(self) -> None:
        """EOF with lists still open: items close innermost-first."""
        while self._lst_stack:
            self._item_close()
            self._lst_stack.pop()

    # -- v20 microdata lifecycle (parallel pass, like tables/lists)
    @staticmethod
    def _md_value(tag: str, a: dict) -> tuple[str | None, bool]:
        """WHATWG microdata value table → (value, is_text_capture)."""
        if tag == "meta":
            return " ".join(a.get("content", "").split()), False
        if tag in ("a", "area", "link"):
            return a.get("href", "").strip(), False
        if tag in (
            "img", "audio", "video", "embed", "iframe", "source", "track"
        ):
            return a.get("src", "").strip(), False
        if tag == "object":
            return a.get("data", "").strip(), False
        if tag in ("data", "meter"):
            return a.get("value", "").strip(), False
        if tag == "time":
            return a.get("datetime", "").strip(), False
        return None, True

    def _md_element(self, tag, attrs, selfclosing: bool) -> None:
        """One element's v20 contribution: item registration and/or one
        tuple per itemprop token (parent bound BEFORE own scope push)."""
        has_scope = has_prop = False
        for k, _v in attrs:  # cheap pre-scan: most elements bail here
            if k == "itemscope":
                has_scope = True
            elif k == "itemprop":
                has_prop = True
        if not has_scope and not has_prop:
            return
        a = {k: v for k, v in attrs if v is not None}
        props = a.get("itemprop", "").split()
        if not has_scope and not props:
            return
        parent = next(
            (e for e in reversed(self._md_stack) if e[0] == "scope"), None
        )
        pidx, ptype = (parent[3], parent[4]) if parent else (-1, "")
        if has_scope:
            idx = self._md_items
            self._md_items += 1
            for tok in props:
                self.microdata.append([pidx, ptype, tok, f"item:{idx}"])
            if not selfclosing:
                self._md_stack.append(
                    ["scope", tag, 1, idx, a.get("itemtype", "").strip()]
                )
            return
        value, is_cap = self._md_value(tag, a)
        if is_cap and not selfclosing:
            slots = []
            for tok in props:
                slots.append(len(self.microdata))
                self.microdata.append([pidx, ptype, tok, ""])
            self._md_stack.append(["cap", tag, 1, [], slots])
        else:
            v = "" if is_cap else value  # self-closing capture emits ""
            for tok in props:
                self.microdata.append([pidx, ptype, tok, v])

    def _md_close_from(self, i: int) -> None:
        """Close stack entries i.. innermost-first; captures fill slots."""
        while len(self._md_stack) > i:
            e = self._md_stack.pop()
            if e[0] == "cap":
                v = " ".join("".join(e[3]).split())
                for s in e[4]:
                    self.microdata[s][3] = v

    def _md_open_event(self, tag, attrs) -> None:
        for e in self._md_stack:
            if e[1] == tag:
                e[2] += 1
        self._md_element(tag, attrs, selfclosing=False)

    def _md_close_event(self, tag) -> None:
        hit = None
        for i, e in enumerate(self._md_stack):
            if e[1] == tag:
                e[2] -= 1
                if e[2] == 0 and hit is None:
                    hit = i
        if hit is not None:
            self._md_close_from(hit)

    def _finalize_microdata(self) -> None:
        """EOF with v20 regions still open: close all, innermost first."""
        self._md_close_from(0)

    # -- v21 RDFa-Lite lifecycle (parallel pass, mirrors v20's shape but
    #    with vocab regions and presence-tested value precedence)
    @staticmethod
    def _rd_value(tag: str, a: dict) -> tuple[str | None, bool]:
        """RDFa-Lite value precedence → (value, is_text_capture):
        content beats resource beats the tag-specific link attribute."""
        if "content" in a:
            return " ".join(a["content"].split()), False
        if "resource" in a:
            return a["resource"].strip(), False
        if tag in ("a", "area", "link") and "href" in a:
            return a["href"].strip(), False
        if (
            tag in ("img", "audio", "video", "embed", "iframe", "source",
                    "track")
            and "src" in a
        ):
            return a["src"].strip(), False
        if tag == "object" and "data" in a:
            return a["data"].strip(), False
        if tag == "time" and "datetime" in a:
            return a["datetime"].strip(), False
        return None, True

    def _rd_element(self, tag, attrs, selfclosing: bool) -> None:
        """One element's v21 contribution: vocab region, subject
        registration, and/or one tuple per property token (parent
        subject bound BEFORE own typeof push; own vocab applies)."""
        has_type = has_voc = has_prop = False
        for k, _v in attrs:  # cheap pre-scan: most elements bail here
            if k == "typeof":
                has_type = True
            elif k == "vocab":
                has_voc = True
            elif k == "property":
                has_prop = True
        if not has_type and not has_voc and not has_prop:
            return
        a = {k: v for k, v in attrs if v is not None}
        props = a.get("property", "").split()
        vocab = ""
        for e in reversed(self._rd_stack):
            if e[0] == "voc":
                vocab = e[3]
                break
        if has_voc:  # own vocab applies to the element itself (reset incl.)
            vocab = a.get("vocab", "").strip()
            if not selfclosing:
                self._rd_stack.append(["voc", tag, 1, vocab])
        if not has_type and not props:
            return  # vocab-only element: region pushed, nothing to emit
        parent = next(
            (e for e in reversed(self._rd_stack) if e[0] == "subj"), None
        )
        pidx, ptype = (parent[3], parent[4]) if parent else (-1, "")
        if has_type:
            idx = self._rd_subjects
            self._rd_subjects += 1
            for tok in props:
                self.rdfa.append([pidx, vocab, ptype, tok, f"item:{idx}"])
            if not selfclosing:
                self._rd_stack.append(
                    ["subj", tag, 1, idx, a.get("typeof", "").strip()]
                )
            return
        value, is_cap = self._rd_value(tag, a)
        if is_cap and not selfclosing:
            slots = []
            for tok in props:
                slots.append(len(self.rdfa))
                self.rdfa.append([pidx, vocab, ptype, tok, ""])
            self._rd_stack.append(["cap", tag, 1, [], slots])
        else:
            v = "" if is_cap else value  # self-closing capture emits ""
            for tok in props:
                self.rdfa.append([pidx, vocab, ptype, tok, v])

    def _rd_close_from(self, i: int) -> None:
        """Close stack entries i.. innermost-first; captures fill slots."""
        while len(self._rd_stack) > i:
            e = self._rd_stack.pop()
            if e[0] == "cap":
                v = " ".join("".join(e[3]).split())
                for s in e[4]:
                    self.rdfa[s][4] = v

    def _rd_open_event(self, tag, attrs) -> None:
        for e in self._rd_stack:
            if e[1] == tag:
                e[2] += 1
        # HTML void elements get no close event from html.parser, so a
        # region rooted at one would dangle to EOF swallowing the rest of
        # the document — collect them as if self-closing instead
        self._rd_element(tag, attrs, selfclosing=tag in _HTML_VOID)

    def _rd_close_event(self, tag) -> None:
        hit = None
        for i, e in enumerate(self._rd_stack):
            if e[1] == tag:
                e[2] -= 1
                if e[2] == 0 and hit is None:
                    hit = i
        if hit is not None:
            self._rd_close_from(hit)

    def _finalize_rdfa(self) -> None:
        """EOF with v21 regions still open: close all, innermost first."""
        self._rd_close_from(0)

    @staticmethod
    def _is_boiler(attrs) -> bool:
        for k, v in attrs:
            if k in ("class", "id") and v:
                low = v.lower()
                if any(tok in low for tok in BOILER_TOKENS):
                    return True
        return False

    @property
    def title(self) -> str | None:
        t = " ".join("".join(self._title_buf).split())
        return t or None

    def _collect_headmeta(self, tag, attrs) -> None:
        a = {k: v for k, v in attrs if v is not None}
        if tag == "link":
            rel = a.get("rel", "").lower().split()
            href = a.get("href", "").strip()
            if self.canonical is None and "canonical" in rel and href:
                self.canonical = href
            if "alternate" in rel:  # v15: per element, no dedup
                self.alternates.append(
                    (
                        a.get("hreflang", "").strip().lower(),
                        a.get("type", "").strip().lower(),
                        href,
                    )
                )
            if href:  # v19: first-wins per slot, empty decoys skipped
                if self.next_href is None and "next" in rel:
                    self.next_href = href
                if self.prev_href is None and (
                    "prev" in rel or "previous" in rel
                ):
                    self.prev_href = href
        elif tag == "base":
            if self.base_href is None:
                b = a.get("href", "").strip()
                if b:
                    self.base_href = b
        elif tag == "meta":
            if self.description is None and (
                a.get("name", "").strip().lower() == "description"
            ):
                desc = " ".join(a.get("content", "").split())
                if desc:
                    self.description = desc
            if self.robots_meta is None and (
                a.get("name", "").strip().lower() == "robots"
            ):
                rb = " ".join(a.get("content", "").lower().split())
                if rb:
                    self.robots_meta = rb
            if self.refresh_meta is None and (
                a.get("http-equiv", "").strip().lower() == "refresh"
            ):
                rf = " ".join(a.get("content", "").lower().split())
                if rf:
                    self.refresh_meta = rf
            prop = a.get("property", "").strip().lower()
            if prop == "og:title" and self.og_title is None:
                t = " ".join(a.get("content", "").split())
                if t:
                    self.og_title = t
            elif prop == "og:description" and self.og_description is None:
                t = " ".join(a.get("content", "").split())
                if t:
                    self.og_description = t
            elif prop == "og:image" and self.og_image is None:
                u = a.get("content", "").strip()
                if u:
                    self.og_image = u

    def _collect_href(self, attrs) -> int | None:
        """Record the anchor's href if it is a new outlink; return the
        outlink index when THIS element created it (v9 anchor capture
        binds to the first element per href), else None."""
        for k, v in attrs:
            if k != "href" or v is None:
                continue
            href = v.strip()
            if not href or href.startswith("#"):
                return None
            low = href.lower()
            if any(low.startswith(s) for s in _SKIP_SCHEMES):
                return None
            if href not in self._seen_links:
                self._seen_links.add(href)
                self.outlinks.append(href)
                self.anchors.append("")
                return len(self.outlinks) - 1
            return None  # first href attr wins, as browsers take the first
        return None

    def _finish_anchor(self, entry) -> None:
        if entry is not None:
            idx, parts = entry
            self.anchors[idx] = " ".join("".join(parts).split())

    def _finalize_anchors(self) -> None:
        """EOF with anchors still open: capture ends at end of input."""
        while self._a_stack:
            self._finish_anchor(self._a_stack.pop())

    @staticmethod
    def _is_ldjson(attrs) -> bool:
        t = next(
            (v for k, v in attrs if k == "type" and v is not None), ""
        )
        return t.strip().lower() == "application/ld+json"

    def _collect_form(self, attrs) -> None:
        """v18: one (method, action) per <form> element; method lowercased
        with the HTML default 'get', action trimmed case-preserved (a
        URL — resolve_url composes); first attr occurrence wins."""
        m = next(
            (v for k, v in attrs if k == "method" and v is not None), ""
        ).strip().lower() or "get"
        a = next(
            (v for k, v in attrs if k == "action" and v is not None), ""
        ).strip()
        self.forms.append((m, a))

    def _collect_img(self, attrs) -> None:
        """v12: one (src, alt) per element; first attr occurrence wins."""
        src = next(
            (v for k, v in attrs if k == "src" and v is not None), ""
        ).strip()
        alt = " ".join(
            next(
                (v for k, v in attrs if k == "alt" and v is not None), ""
            ).split()
        )
        self.images.append((src, alt))

    # -- parser events
    def handle_starttag(self, tag, attrs):
        if self._attr_tag is not None:
            if tag == self._attr_tag:
                self._attr_depth += 1
            return
        if tag == "title" and not self._title_done:
            self._in_title = True
        elif tag in ("link", "meta", "base"):
            self._collect_headmeta(tag, attrs)
        elif tag == "script" and self._is_ldjson(attrs):
            # v13: collected despite drop regions, like TITLE
            self._ld_open = True
            self._ld_buf = []
        if tag == "form" and not self._drop_depth:
            # v18: the form SUBTREE is chrome (tag-drop), but the element
            # itself is the interactivity signal — collect it unless the
            # enclosing context is dropped/boiler or it is boiler itself
            if not self._is_boiler(attrs):
                self._collect_form(attrs)
        if tag in DROP_TAGS:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if self._is_boiler(attrs):
            self._attr_tag = tag
            self._attr_depth = 1
            return
        # v20/v21: normal-path placement — runs for every tag that reaches
        # here (drop subtrees and boiler regions returned above)
        self._md_open_event(tag, attrs)
        self._rd_open_event(tag, attrs)
        if tag in BLOCK_TAGS:
            self._flush()
            self._open_block_tag = tag
            if tag == "table":
                self._tbl_stack.append([self._tbl_count, -1, -1, False,
                                        False, []])
                self._tbl_count += 1
            elif tag == "tr" and self._tbl_stack:
                self._row_open()
            elif tag in ("td", "th") and self._tbl_stack:
                self._cell_open(tag)
            elif tag in ("ul", "ol"):
                self._list_open(tag)
            elif tag == "li" and self._lst_stack:
                self._item_open()
        elif tag == "a":
            self._a_depth += 1
            rec = self._collect_href(attrs)
            self._a_stack.append(None if rec is None else (rec, []))
        elif tag == "img":
            self._collect_img(attrs)

    def handle_endtag(self, tag):
        if self._attr_tag is not None:
            if tag == self._attr_tag:
                self._attr_depth -= 1
                if self._attr_depth == 0:
                    self._attr_tag = None
            return
        if tag == "title" and self._in_title:
            self._in_title = False
            self._title_done = True
        if tag == "script" and self._ld_open:
            self.jsonld.append("".join(self._ld_buf).strip())
            self._ld_open = False
            self._ld_buf = []
        if tag in DROP_TAGS:
            if self._drop_depth:
                self._drop_depth -= 1
            return
        if self._drop_depth:
            return
        # v20/v21: symmetric close event (opens above returned symmetrically)
        self._md_close_event(tag)
        self._rd_close_event(tag)
        if tag in BLOCK_TAGS:
            self._flush()
            if tag in ("td", "th", "tr"):
                self._cell_close()
            elif tag == "table" and self._tbl_stack:
                self._cell_close()
                self._tbl_stack.pop()
            elif tag == "li":
                self._item_close()
            elif tag in ("ul", "ol") and self._lst_stack:
                self._item_close()
                self._lst_stack.pop()
        elif tag == "a" and self._a_depth:
            self._a_depth -= 1
            if self._a_stack:
                self._finish_anchor(self._a_stack.pop())

    def handle_startendtag(self, tag, attrs):
        if self._attr_tag is not None:
            return
        if tag in ("link", "meta", "base"):
            # head metadata: collected despite drop regions, like TITLE
            self._collect_headmeta(tag, attrs)
            # v20/v21 still see the element on the NORMAL path (the
            # oracle's tokenizer emits one selfclose event it collects)
            if not self._drop_depth:
                self._md_element(tag, attrs, selfclosing=True)
                self._rd_element(tag, attrs, selfclosing=True)
            return
        if tag == "form":
            # v18: self-closing form — element-level signal, no subtree
            if not self._drop_depth and not self._is_boiler(attrs):
                self._collect_form(attrs)
            if not self._drop_depth:
                self._md_element(tag, attrs, selfclosing=True)
                self._rd_element(tag, attrs, selfclosing=True)
            return
        if tag == "script":
            if self._is_ldjson(attrs):
                self.jsonld.append("")  # self-closing: opened+closed empty
            if not self._drop_depth:
                self._md_element(tag, attrs, selfclosing=True)
                self._rd_element(tag, attrs, selfclosing=True)
            return
        if self._drop_depth:
            return
        # v20/v21: self-closing elements never open regions, always
        # collected (the v10–v12 precedent); no depth events — no nesting
        self._md_element(tag, attrs, selfclosing=True)
        self._rd_element(tag, attrs, selfclosing=True)
        if tag in BLOCK_TAGS:
            self._flush()
            self._open_block_tag = tag
            if tag == "table":
                self._tbl_count += 1  # index per element; no cells possible
            elif tag == "tr" and self._tbl_stack:
                self._row_open()
            elif tag in ("td", "th") and self._tbl_stack:
                # self-closing cell: opened and closed in place, empty text
                self._cell_open(tag)
                self._cell_close()
            elif tag in ("ul", "ol"):
                self._lst_count += 1  # index per element; no items possible
            elif tag == "li" and self._lst_stack:
                # self-closing item: opened and closed in place, empty text
                self._item_open()
                self._item_close()
        elif tag == "a":
            # self-closing anchor: href recorded, no text to capture
            self._collect_href(attrs)
        elif tag == "img":
            self._collect_img(attrs)

    def handle_data(self, data):
        if self._ld_open and data and self._attr_tag is None:
            # v13 runs ALONGSIDE the normal path, like TITLE (the drop
            # counter keeps script data out of blocks anyway)
            self._ld_buf.append(data)
        if self._in_title and data and self._attr_tag is None:
            # title collection runs ALONGSIDE the normal path (no early
            # return): inside well-formed <head> the drop counter keeps
            # this data out of blocks anyway, and after unbalanced closes
            # reset the counter with the title still open, both title AND
            # blocks see the data — exactly the oracle's two independent
            # passes' semantics
            self._title_buf.append(data)
        if self._attr_tag is not None or self._drop_depth or not data:
            return
        self._buf.append(data)
        # v10: cell capture binds to the INNERMOST open table's open cell
        # only — a nested table suspends the outer cell until it closes
        if self._tbl_stack and self._tbl_stack[-1][3]:
            self._tbl_stack[-1][5].append(data)
        # v11: item capture binds to the INNERMOST open list's open item
        # only — a nested list suspends the outer item until it closes
        if self._lst_stack and self._lst_stack[-1][4]:
            self._lst_stack[-1][5].append(data)
        # v20: text binds to the INNERMOST open v20 region only, and only
        # when that region is a capture — a nested item's text belongs to
        # its own props, not the enclosing capture
        if self._md_stack and self._md_stack[-1][0] == "cap":
            self._md_stack[-1][3].append(data)
        # v21: same innermost-capture contract on its own region stack,
        # but vocab regions are TRANSPARENT to text — a vocab-only
        # descendant never suspends an enclosing capture (only a nested
        # prop capture or subject does)
        for _e in reversed(self._rd_stack):
            if _e[0] == "voc":
                continue
            if _e[0] == "cap":
                _e[3].append(data)
            break
        n = len("".join(data.split()))
        self._total_chars += n
        if self._a_depth:
            self._link_chars += n
            # v9: text binds to the INNERMOST open anchor element only —
            # browsers auto-close <a> on a nested <a>, so per-element
            # capture matches what each anchor would have contained
            if self._a_stack and self._a_stack[-1] is not None:
                self._a_stack[-1][1].append(data)


def extract_html(
    html: bytes,
) -> tuple:
    """blob → (text bytes, block spans, outlinks, title, canonical,
    description, headings, ogmeta, anchors, tables, lists, images) per
    the SPEC (v3 SPANS, v4 OUTLINKS, v5 TITLE, v6 HEADMETA, v7 HEADINGS,
    v8 OGMETA, v9 ANCHORS, v10 TABLES, v11 LISTS, v12 IMAGES); ogmeta is
    the (og_title, og_description, og_image) triple; anchors is parallel
    to outlinks; tables is the (table, row, col, header, cell) tuple
    list; lists is the (list, item, depth, ordered, item_text) tuple
    list; images is the (src, alt) pair list in document order; jsonld
    is the raw stripped ld+json payload list (v13); robots_meta is the
    first robots-meta content, lowercased+normalized (v14); alternates
    is the (hreflang, type, href) triple list per rel=alternate link
    element (v15); refresh_meta is the first http-equiv=refresh content,
    lowercased+normalized — the soft-redirect signal (v16), HEADMETA
    placement contract; base_href is the first non-empty <base href>,
    trimmed but case-preserved (v17) — the resolution base browsers use
    for every relative URL on the page; forms is the (method, action)
    pair list per <form> element outside drop/boiler regions (v18) — the
    page-interactivity signal (login walls, search UIs) and the POST
    endpoint census; next_href/prev_href are the first non-empty
    rel=next / rel=prev(|previous) link hrefs, trimmed, case-preserved
    (v19 PAGINATION) — the paginated-series walk order, HEADMETA
    placement contract; microdata is the (item, itemtype, prop, value)
    tuple list per itemprop token (v20 MICRODATA) — the schema.org
    structured-data channel JSONLD doesn't carry; rdfa is the (item,
    vocab, typeof, prop, value) tuple list per property token (v21
    RDFA) — the third structured-data channel, RDFa-Lite."""
    src = decode_html(html)
    p = _Extractor()
    try:
        p.feed(src)
        p.close()
    except Exception:  # noqa: BLE001 — parser must be total on garbage
        pass
    p._flush()
    p._finalize_anchors()
    p._finalize_tables()
    p._finalize_lists()
    p._finalize_microdata()
    p._finalize_rdfa()
    if p._ld_open:  # matching script still open at EOF
        p.jsonld.append("".join(p._ld_buf).strip())
        p._ld_open = False
    og = (p.og_title, p.og_description, p.og_image)
    microdata = [tuple(r) for r in p.microdata]
    rdfa = [tuple(r) for r in p.rdfa]
    if not p.blocks:
        return (
            b"", [], p.outlinks, p.title, p.canonical, p.description, [],
            og, p.anchors, p.tables, p.lists, p.images, p.jsonld,
            p.robots_meta, p.alternates, p.refresh_meta, p.base_href,
            p.forms, p.next_href, p.prev_href, microdata, rdfa,
        )
    spans: list[tuple[int, int, str]] = []
    off = 0
    for i, block in enumerate(p.blocks):
        n = len(block.encode("utf-8"))
        spans.append((off, off + n, f"block:{i}"))
        off += n + 1  # the 1-byte "\n" joiner
    return (
        "\n".join(p.blocks).encode("utf-8"),
        spans,
        p.outlinks,
        p.title,
        p.canonical,
        p.description,
        p.headings,
        og,
        p.anchors,
        p.tables,
        p.lists,
        p.images,
        p.jsonld,
        p.robots_meta,
        p.alternates,
        p.refresh_meta,
        p.base_href,
        p.forms,
        p.next_href,
        p.prev_href,
        microdata,
        rdfa,
    )


def extract_html_text_spans(
    html: bytes,
) -> tuple[bytes, list[tuple[int, int, str]]]:
    """blob → (text bytes, block spans) per the SPEC (incl. v3 SPANS)."""
    return extract_html(html)[:2]


def extract_html_text(html: bytes) -> bytes:
    """blob → extracted main-content text bytes (UTF-8), per the SPEC."""
    return extract_html(html)[0]


class _FoundContent(Exception):
    """Internal early-exit signal for ``html_has_content``."""


class _Prober(_Extractor):
    def _flush(self) -> None:
        super()._flush()
        if self.blocks:
            raise _FoundContent


def html_has_content(html: bytes) -> bool:
    """Exactly ``bool(extract_html_text(html))`` but stops parsing at the
    FIRST block the SPEC would emit — the cheap emptiness probe the
    stats mode (want=()) uses so it never pays full extraction just
    to keep its error taxonomy aligned with the full run."""
    src = decode_html(html)
    p = _Prober()
    try:
        p.feed(src)
        p.close()
    except _FoundContent:
        return True
    except Exception:  # noqa: BLE001 — same totality stance as extraction
        pass
    try:
        p._flush()
    except _FoundContent:
        return True
    return bool(p.blocks)
