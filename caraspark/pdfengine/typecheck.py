"""Document-structure type checker (SURVEY.md C22; LangSec16 §IV).

Capability parity: caradoc ``src/type/typechecker.ml`` + its declarative
type-definition corpus ``src/type/*.ml`` [P]. Same algebra, re-expressed as
Python data: primitives, class types (dict schemas with required/optional
typed entries), homogeneous arrays, tuples, unions, exact-name constants,
and implicit reference-following. A worklist BFS starts at the trailer
(/Root → catalog, /Info → info), propagates expected types through
references, records per-object assignments, and reports
``type.mismatch`` / ``type.missing_required`` / ``type.unknown_entry`` /
``type.conflict`` with entry paths — the error taxonomy of north_rule.

The typedef table is data, not code: coverage grows by adding rows
(caradoc's own strategy — its type corpus is ~2k LoC of definitions).
Entries that many classes share are declared once, as ordered entry
groups that a class spreads where they sit in its spec table: the
annotation entries of PDF17 Table 164 (``_ANNOT_BASE``/``_ANNOT_COMMON``),
the markup entries of Table 170 (``_MARKUP``) and the shading entries of
Table 78 (``_SHADING_COMMON``).

Each type expression is compiled once, at import, into a pair of closures
memoised on the (frozen, hashable) expression: ``fits(v)``, a
side-effect-free shape predicate, and ``check``, the full check. A union's
check probes its alternatives with their ``fits`` and fully checks the
first that fits; ``fits`` reports nothing and follows no reference — a
``Ref`` fits a class, primitive or union and is checked when the worklist
reaches its object — so a rejected alternative leaves no trace. A class's
check runs its entries' compiled checks in entry order and its ``fits``
tests its constant entries (/Type, /Subtype, …), derived once.

Paths are lazy: a value's path travels as (parent, segment) pairs — a dict
key, an array index, or a root label like ``trailer/Root`` — and is
rendered as text (``trailer/Root/Pages/Kids[0]``) only when an error is
recorded.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field as dc_field

from caraspark.pdfengine.model import Name, PdfError, Real, Ref, Stream

# --- type expression forms -------------------------------------------------


@dataclass(frozen=True, slots=True)
class Prim:
    kind: str  # bool int number string name null any dict array stream

    def __str__(self):
        return self.kind


@dataclass(frozen=True, slots=True)
class Exact:
    name: str  # a /Name constant, e.g. Exact("Catalog")

    def __str__(self):
        return f"/{self.name}"


@dataclass(frozen=True, slots=True)
class ExactInt:
    n: int  # an integer constant discriminator, e.g. /PatternType 1

    def __str__(self):
        return str(self.n)


@dataclass(frozen=True, slots=True)
class ArrayOf:
    elem: object


@dataclass(frozen=True, slots=True)
class Tuple:
    elems: tuple


@dataclass(frozen=True, slots=True)
class OneOf:
    alts: tuple


@dataclass(frozen=True, slots=True)
class DictOf:
    """Homogeneous dictionary: every value has type ``elem`` (keys are
    names by construction).  Mirrors caradoc's map types used for
    /Resources sub-dictionaries and name-keyed lookup tables."""

    elem: object


@dataclass(frozen=True, slots=True)
class Class:
    name: str  # key into TYPEDEFS


@dataclass(frozen=True, slots=True)
class Entry:
    t: object
    required: bool = False


@dataclass(frozen=True, slots=True)
class ClassDef:
    entries: dict  # key → Entry
    closed: bool = False  # strict: unknown entries are errors
    is_stream: bool = False
    # value type for keys NOT in ``entries`` — map-like dicts whose key
    # set is data (collection items [PDF17 §7.11.6]: field-name-keyed
    # values). Mutually exclusive with closed. None = undeclared keys
    # are opaque (the open-class default).
    rest: object = None


ANY = Prim("any")
INT = Prim("int")
NUMBER = Prim("number")
BOOL = Prim("bool")
STRING = Prim("string")
NAME = Prim("name")
DICT = Prim("dict")
ARRAY = Prim("array")
STREAM = Prim("stream")

RECT = Tuple((NUMBER, NUMBER, NUMBER, NUMBER))

# Color-space families [PDF17 §8.6]: device/named spaces are bare names;
# parameterized families are discriminated arrays. Nested base spaces are
# checked shallowly (NAME | ARRAY) — the DSL's frozen dataclasses can't
# express unbounded recursion, matching caradoc's bounded CS descent.
_CS_BASE = OneOf((NAME, ARRAY))

# Function family [PDF17 §7.10]: subtypes discriminated by exact
# /FunctionType with per-type REQUIRED entries (caradoc checks these
# per-variant; a single open class would let a sampled function without
# /Size pass). No generic fallback: types 1/5/6/7 don't exist, so a dict
# matching no alternative is a type error by construction.
_FUNC_ALTS = (
    Class("function_sampled"),      # type 0 (stream)
    Class("function_exponential"),  # type 2
    Class("function_stitching"),    # type 3
    Class("function_postscript"),   # type 4 (stream)
)
FUNCTION = OneOf(_FUNC_ALTS)
_FUNC_OR_ARRAY = OneOf(_FUNC_ALTS + (ArrayOf(FUNCTION),))
_CS_FUNC = _FUNC_OR_ARRAY

# Shading family [PDF17 §8.7.4.3]: function-based (1), axial (2), radial
# (3), lattice-form mesh (5, needs /VerticesPerRow), free-form/Coons/
# tensor meshes (4/6/7, streams needing /BitsPerFlag). Exhaustive — no
# open fallback.
_SHADING_ALTS = (
    Class("shading_fnbased"),
    Class("shading_axial"),
    Class("shading_radial"),
    Class("shading_lattice"),
    Class("shading_mesh"),
)
SHADING = OneOf(_SHADING_ALTS)

# Action family [PDF17 §12.6.4]: subtypes discriminated by exact /S, the
# generic open class LAST as the fallback for subtypes without a dedicated
# def (SubmitForm, Hide, Trans, ...). Same union-with-fallback pattern as
# the annotation family.
_ACTION_ALTS = (
    Class("action_goto"),
    Class("action_gotor"),
    Class("action_gotoe"),
    Class("action_launch"),
    Class("action_uri"),
    Class("action_javascript"),
    Class("action_named"),
    Class("action_rendition"),
    Class("action_submitform"),
    Class("action_resetform"),
    Class("action_importdata"),
    Class("action_hide"),
    Class("action_sound"),
    Class("action_movie"),
    Class("action_trans"),
    Class("action_thread"),
    Class("action_setocgstate"),
    Class("action_goto3dview"),
    Class("action_richmedia"),
    Class("action"),  # generic fallback — must stay last
)
ACTION = OneOf(_ACTION_ALTS)
_ACTION_OR_ARRAY = OneOf(_ACTION_ALTS + (ArrayOf(ACTION),))
COLORSPACE = OneOf(
    (
        NAME,
        Tuple((Exact("ICCBased"), Class("colorspace_icc"))),
        Tuple((Exact("Indexed"), _CS_BASE, INT, OneOf((STRING, STREAM)))),
        Tuple((Exact("Separation"), NAME, _CS_BASE, _CS_FUNC)),
        Tuple((Exact("DeviceN"), ArrayOf(NAME), _CS_BASE, _CS_FUNC)),
        Tuple((Exact("DeviceN"), ArrayOf(NAME), _CS_BASE, _CS_FUNC, DICT)),
        Tuple((Exact("CalRGB"), DICT)),
        Tuple((Exact("CalGray"), DICT)),
        Tuple((Exact("Lab"), DICT)),
        Tuple((Exact("Pattern"), _CS_BASE)),
    )
)

# --- entry groups: runs of entries many classes declare alike. A class
# spreads a group where the entries sit in its table (``{"Type": …,
# **_ANNOT_COMMON, **_MARKUP, "BS": …}``), so its key order stays the
# spec's: a class's check runs its entries in that order, which decides
# which referrer assigns a shared object first and what a type.conflict says.

# PDF17 Table 164: entries common to all annotation dictionaries. The
# trap-network, printer's-mark, 3D and rich-media classes carry only the
# head (_ANNOT_BASE); the generic class puts /A and /Dest before
# /StructParent.
_ANNOT_BASE = {
    "Rect": Entry(RECT, required=True),
    "Contents": Entry(STRING),
    "P": Entry(DICT),
    "NM": Entry(STRING),
    "M": Entry(STRING),
    "F": Entry(INT),
    "AP": Entry(Class("appearance")),
    "AS": Entry(NAME),
}
_ANNOT_COMMON = {
    **_ANNOT_BASE,
    "Border": Entry(ARRAY),
    "C": Entry(ArrayOf(NUMBER)),
    "StructParent": Entry(INT),
}

# PDF17 Table 170 (§12.5.6.2): entries common to markup annotations.
_MARKUP = {
    "T": Entry(STRING),
    "Popup": Entry(Class("annot_popup")),
    "CA": Entry(NUMBER),
    "RC": Entry(OneOf((STRING, STREAM))),
    "CreationDate": Entry(STRING),
    "Subj": Entry(STRING),
    "IRT": Entry(DICT),
    "RT": Entry(NAME),
    "IT": Entry(NAME),
}

# PDF17 Table 78 (§8.7.4.5.1): entries common to all shading dictionaries.
_SHADING_COMMON = {
    "ColorSpace": Entry(COLORSPACE, required=True),
    "Background": Entry(ArrayOf(NUMBER)),
    "BBox": Entry(RECT),
    "AntiAlias": Entry(BOOL),
}

TYPEDEFS: dict[str, ClassDef] = {
    "catalog": ClassDef(
        {
            "Type": Entry(Exact("Catalog"), required=True),
            "Pages": Entry(Class("pages"), required=True),
            "Outlines": Entry(Class("outlines")),
            "Names": Entry(Class("names")),
            "Dests": Entry(DictOf(OneOf((ARRAY, DICT)))),
            "Metadata": Entry(Class("metadata_stream")),
            "PageLabels": Entry(Class("number_tree")),
            "OCProperties": Entry(Class("ocproperties")),
            "Threads": Entry(ArrayOf(Class("thread"))),
            "ViewerPreferences": Entry(Class("viewer_prefs")),
            "PageLayout": Entry(NAME),
            "PageMode": Entry(NAME),
            "OpenAction": Entry(OneOf((ARRAY,) + _ACTION_ALTS)),
            "AA": Entry(Class("addl_actions")),
            "AcroForm": Entry(Class("acroform")),
            "Lang": Entry(STRING),
            "Version": Entry(NAME),
            "StructTreeRoot": Entry(Class("struct_tree_root")),
            "MarkInfo": Entry(Class("mark_info")),
            "OutputIntents": Entry(ArrayOf(Class("output_intent"))),
            "Extensions": Entry(DictOf(OneOf((Class("extension"), NAME)))),
            "Requirements": Entry(ArrayOf(Class("requirement"))),
            "Collection": Entry(Class("collection")),
            "URI": Entry(Class("uri_dict")),
            "Legal": Entry(Class("legal")),
            "Perms": Entry(Class("perms")),
            "DSS": Entry(Class("dss")),
            "SpiderInfo": Entry(Class("webcapture_info")),
            # PDF 2.0 associated files [ISO 32000-2 §14.13]
            "AF": Entry(ArrayOf(Class("filespec"))),
            "DPartRoot": Entry(Class("dpart_root")),
        }
    ),
    "pages": ClassDef(
        {
            "Type": Entry(Exact("Pages"), required=True),
            "Kids": Entry(ArrayOf(OneOf((Class("pages"), Class("page")))), required=True),
            "Count": Entry(INT, required=True),
            "Parent": Entry(DICT),
            "Resources": Entry(Class("resources")),
            "MediaBox": Entry(RECT),
            "CropBox": Entry(RECT),
            "Rotate": Entry(INT),
        }
    ),
    "page": ClassDef(
        {
            "Type": Entry(Exact("Page"), required=True),
            "Parent": Entry(DICT, required=True),
            "AF": Entry(ArrayOf(Class("filespec"))),
            "DPart": Entry(Class("dpart")),  # PDF 2.0 back-pointer
            "Contents": Entry(OneOf((STREAM, ArrayOf(STREAM)))),
            "Resources": Entry(Class("resources")),
            "MediaBox": Entry(RECT),
            "CropBox": Entry(RECT),
            "Rotate": Entry(INT),
            "Annots": Entry(ArrayOf(OneOf((
                Class("annot_link"),
                Class("annot_text"),
                Class("annot_widget"),
                Class("annot_freetext"),
                Class("annot_popup"),
                Class("annot_screen"),
                Class("annot_movie"),
                Class("annot_line"),
                Class("annot_geom"),
                Class("annot_textmarkup"),
                Class("annot_ink"),
                Class("annot_poly"),
                Class("annot_stamp"),
                Class("annot_fileattachment"),
                Class("annot_sound"),
                Class("annot_redact"),
                Class("annot_caret"),
                Class("annot_watermark"),
                Class("annot_trapnet"),
                Class("annot_printermark"),
                Class("annot_3d"),
                Class("annot_richmedia"),
                Class("annot"),  # generic fallback — must stay last
            )))),
            "Group": Entry(Class("group_transparency")),
            "Thumb": Entry(STREAM),
            "LastModified": Entry(STRING),
            "StructParents": Entry(INT),
            "Trans": Entry(Class("transition")),
            "AA": Entry(Class("addl_actions")),
            "B": Entry(ArrayOf(Class("bead"))),
            "Metadata": Entry(Class("metadata_stream")),
            "PresSteps": Entry(Class("nav_node")),
            "BoxColorInfo": Entry(Class("box_color_info")),
            "SeparationInfo": Entry(Class("separation_info")),
            "PieceInfo": Entry(DictOf(Class("piece_entry"))),
            "VP": Entry(ArrayOf(Class("viewport"))),
        }
    ),
    "resources": ClassDef(
        {
            "Font": Entry(
                DictOf(OneOf((
                    Class("font_type0"),
                    Class("font_type3"),
                    Class("font"),
                )))
            ),
            "XObject": Entry(
                DictOf(OneOf((Class("xobject_image"), Class("xobject_form"))))
            ),
            "ExtGState": Entry(DictOf(Class("extgstate"))),
            "ColorSpace": Entry(DictOf(COLORSPACE)),
            "Pattern": Entry(
                DictOf(OneOf((Class("pattern_tiling"), Class("pattern_shading"))))
            ),
            "Shading": Entry(DictOf(SHADING)),
            "ProcSet": Entry(ArrayOf(NAME)),
            "Properties": Entry(
                DictOf(OneOf((Class("ocg"), Class("ocmd"), DICT)))
            ),
        }
    ),
    "annot": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            "Subtype": Entry(NAME, required=True),
            **_ANNOT_BASE,
            "Border": Entry(ARRAY),
            "C": Entry(ArrayOf(NUMBER)),
            "A": Entry(ACTION),
            "Dest": Entry(OneOf((ARRAY, NAME, STRING))),
            "StructParent": Entry(INT),
        }
    ),
    "font": ClassDef(
        {
            "Type": Entry(Exact("Font"), required=True),
            "Subtype": Entry(NAME, required=True),
            "BaseFont": Entry(NAME),
            "FirstChar": Entry(INT),
            "LastChar": Entry(INT),
            "Widths": Entry(ArrayOf(NUMBER)),
            "FontDescriptor": Entry(Class("fontdescriptor")),
            "Encoding": Entry(OneOf((NAME, Class("encoding")))),
            "ToUnicode": Entry(STREAM),
            "Name": Entry(NAME),
            "DescendantFonts": Entry(
                ArrayOf(OneOf((Class("font_cid"), Class("font"))))
            ),
            "CIDSystemInfo": Entry(DICT),
            "W": Entry(ARRAY),
            "DW": Entry(NUMBER),
        }
    ),
    # --- composite (Type0/CID) fonts [PDF17 §9.7] --------------------------
    "font_type0": ClassDef(
        {
            "Type": Entry(Exact("Font"), required=True),
            "Subtype": Entry(Exact("Type0"), required=True),
            "BaseFont": Entry(NAME, required=True),
            # a predefined CMap name or an embedded CMap stream (typed:
            # the stream form must carry CMapName + CIDSystemInfo)
            "Encoding": Entry(
                OneOf((NAME, Class("cmap_stream"))), required=True
            ),
            # spec: a one-element array holding the CIDFont
            "DescendantFonts": Entry(
                Tuple((Class("font_cid"),)), required=True
            ),
            "ToUnicode": Entry(STREAM),
        }
    ),
    "font_cid": ClassDef(
        {
            "Type": Entry(Exact("Font"), required=True),
            "Subtype": Entry(
                OneOf((Exact("CIDFontType0"), Exact("CIDFontType2"))),
                required=True,
            ),
            "BaseFont": Entry(NAME, required=True),
            "CIDSystemInfo": Entry(Class("cid_system_info"), required=True),
            "FontDescriptor": Entry(Class("fontdescriptor")),
            "DW": Entry(NUMBER),
            "W": Entry(ARRAY),
            "DW2": Entry(Tuple((NUMBER, NUMBER))),
            "W2": Entry(ARRAY),
            "CIDToGIDMap": Entry(OneOf((NAME, STREAM))),
        }
    ),
    "cid_system_info": ClassDef(
        {
            "Registry": Entry(STRING, required=True),
            "Ordering": Entry(STRING, required=True),
            "Supplement": Entry(INT, required=True),
        }
    ),
    # --- simple-font encoding dict with /Differences [PDF17 §9.6.6] --------
    "encoding": ClassDef(
        {
            "Type": Entry(Exact("Encoding")),
            "BaseEncoding": Entry(NAME),
            # alternating char codes and glyph names
            "Differences": Entry(ArrayOf(OneOf((INT, NAME)))),
        }
    ),
    # --- ICC profile stream [PDF17 §8.6.5.5] -------------------------------
    "colorspace_icc": ClassDef(
        {
            "N": Entry(INT, required=True),
            "Alternate": Entry(OneOf((NAME, ARRAY))),
            "Range": Entry(ArrayOf(NUMBER)),
            "Metadata": Entry(STREAM),
        },
        is_stream=True,
    ),
    # --- signature dict [PDF17 §12.8.1] ------------------------------------
    # /Type is optional per spec but serves as the union discriminator for
    # field /V dispatch (same pragmatic stance caradoc takes on /Type use)
    "sig": ClassDef(
        {
            "Type": Entry(Exact("Sig"), required=True),
            "Filter": Entry(NAME, required=True),
            "SubFilter": Entry(NAME),
            "Contents": Entry(STRING, required=True),
            "ByteRange": Entry(ArrayOf(INT), required=True),
            "Cert": Entry(OneOf((STRING, ArrayOf(STRING)))),
            "Reference": Entry(ArrayOf(Class("sig_ref"))),
            "Changes": Entry(Tuple((INT, INT, INT))),
            "M": Entry(STRING),
            "Name": Entry(STRING),
            "Location": Entry(STRING),
            "Reason": Entry(STRING),
            "ContactInfo": Entry(STRING),
            "R": Entry(INT),
            "V": Entry(INT),
            "Prop_Build": Entry(DICT),
            "Prop_AuthTime": Entry(INT),
            "Prop_AuthType": Entry(NAME),
        }
    ),
    # --- embedded-file stream params [PDF17 §7.11.4.4] ---------------------
    "ef_params": ClassDef(
        {
            "Size": Entry(INT),
            "CreationDate": Entry(STRING),
            "ModDate": Entry(STRING),
            "Mac": Entry(DICT),
            "CheckSum": Entry(STRING),
        }
    ),
    "outlines": ClassDef(
        {
            "Type": Entry(Exact("Outlines")),
            "First": Entry(Class("outline_item")),
            "Last": Entry(Class("outline_item")),
            "Count": Entry(INT),
        }
    ),
    "outline_item": ClassDef(
        {
            "Title": Entry(STRING, required=True),
            "Parent": Entry(DICT, required=True),
            "Prev": Entry(Class("outline_item")),
            "Next": Entry(Class("outline_item")),
            "First": Entry(Class("outline_item")),
            "Last": Entry(Class("outline_item")),
            "Count": Entry(INT),
            "Dest": Entry(OneOf((ARRAY, NAME, STRING))),
            "A": Entry(ACTION),
        }
    ),
    "info": ClassDef(
        {
            "Title": Entry(STRING),
            "Author": Entry(STRING),
            "Subject": Entry(STRING),
            "Keywords": Entry(STRING),
            "Creator": Entry(STRING),
            "Producer": Entry(STRING),
            "CreationDate": Entry(STRING),
            "ModDate": Entry(STRING),
            "Trapped": Entry(NAME),
        }
    ),
    # --- annotation subtypes [PDF17 §12.5.6] -------------------------------
    # discriminated from the generic fallback by their exact /Subtype;
    # each repeats the base entries (caradoc's defs do the same — its
    # type DSL has no inheritance)
    "annot_link": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            "Subtype": Entry(Exact("Link"), required=True),
            **_ANNOT_COMMON,
            "A": Entry(ACTION),
            "Dest": Entry(OneOf((ARRAY, NAME, STRING))),
            "H": Entry(NAME),
            "PA": Entry(DICT),
            "QuadPoints": Entry(ArrayOf(NUMBER)),
            "BS": Entry(Class("border_style")),
        }
    ),
    "annot_text": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            "Subtype": Entry(Exact("Text"), required=True),
            **_ANNOT_COMMON,
            "Open": Entry(BOOL),
            "Name": Entry(NAME),
            "State": Entry(STRING),
            "StateModel": Entry(STRING),
            "IRT": Entry(DICT),
            "Popup": Entry(Class("annot_popup")),
        }
    ),
    "annot_widget": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            "Subtype": Entry(Exact("Widget"), required=True),
            **_ANNOT_COMMON,
            "H": Entry(NAME),
            "MK": Entry(DICT),
            "A": Entry(ACTION),
            "AA": Entry(Class("addl_actions")),
            "BS": Entry(Class("border_style")),
            # widget/field merge
            "Parent": Entry(DICT),
            "Kids": Entry(ARRAY),
            "FT": Entry(NAME),
            "T": Entry(STRING),
            "TU": Entry(STRING),
            "Ff": Entry(INT),
            "V": Entry(OneOf((Class("sig"), ANY))),
            "DV": Entry(ANY),
            "DA": Entry(STRING),
            "Q": Entry(INT),
            "MaxLen": Entry(INT),
            "Opt": Entry(ARRAY),
        }
    ),
    "annot_freetext": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            "Subtype": Entry(Exact("FreeText"), required=True),
            **_ANNOT_COMMON,
            "DA": Entry(STRING, required=True),
            "Q": Entry(INT),
            "RC": Entry(OneOf((STRING, STREAM))),
            "DS": Entry(STRING),
            "CL": Entry(ArrayOf(NUMBER)),
            "IT": Entry(NAME),
            "BE": Entry(Class("border_effect")),
            "RD": Entry(RECT),
            "BS": Entry(Class("border_style")),
            "LE": Entry(NAME),
        }
    ),
    # --- markup annotations [PDF17 §12.5.6.7–12.5.6.16]: each family has
    # spec-REQUIRED geometry/payload keys the generic fallback cannot
    # enforce (a /Line without /L or an /Ink without /InkList would pass
    # an open class) — mirroring caradoc's per-subtype annotation defs.
    "annot_line": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            **_ANNOT_COMMON,
            **_MARKUP,
            "BS": Entry(Class("border_style")),
            "Subtype": Entry(Exact("Line"), required=True),
            "L": Entry(ArrayOf(NUMBER), required=True),
            "LE": Entry(ArrayOf(NAME)),
            "IC": Entry(ArrayOf(NUMBER)),
            "LL": Entry(NUMBER),
            "LLE": Entry(NUMBER),
            "Cap": Entry(BOOL),
            "LLO": Entry(NUMBER),
            "CP": Entry(NAME),
            "Measure": Entry(Class("measure_rl")),
            "CO": Entry(ArrayOf(NUMBER)),
        }
    ),
    "annot_geom": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            **_ANNOT_COMMON,
            **_MARKUP,
            "BS": Entry(Class("border_style")),
            # Square and Circle share every entry (§12.5.6.8)
            "Subtype": Entry(
                OneOf((Exact("Square"), Exact("Circle"))), required=True
            ),
            "IC": Entry(ArrayOf(NUMBER)),
            "BE": Entry(Class("border_effect")),
            "RD": Entry(RECT),
        }
    ),
    "annot_textmarkup": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            **_ANNOT_COMMON,
            **_MARKUP,
            "BS": Entry(Class("border_style")),
            # Highlight/Underline/Squiggly/StrikeOut (§12.5.6.10)
            "Subtype": Entry(
                OneOf((
                    Exact("Highlight"), Exact("Underline"),
                    Exact("Squiggly"), Exact("StrikeOut"),
                )),
                required=True,
            ),
            "QuadPoints": Entry(ArrayOf(NUMBER), required=True),
        }
    ),
    "annot_ink": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            **_ANNOT_COMMON,
            **_MARKUP,
            "BS": Entry(Class("border_style")),
            "Subtype": Entry(Exact("Ink"), required=True),
            "InkList": Entry(ArrayOf(ArrayOf(NUMBER)), required=True),
        }
    ),
    "annot_poly": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            **_ANNOT_COMMON,
            **_MARKUP,
            "BS": Entry(Class("border_style")),
            # Polygon and PolyLine share /Vertices (§12.5.6.9)
            "Subtype": Entry(
                OneOf((Exact("Polygon"), Exact("PolyLine"))), required=True
            ),
            "Vertices": Entry(ArrayOf(NUMBER), required=True),
            "LE": Entry(ArrayOf(NAME)),
            "IC": Entry(ArrayOf(NUMBER)),
            "BE": Entry(Class("border_effect")),
            "Measure": Entry(Class("measure_rl")),
        }
    ),
    "annot_stamp": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            **_ANNOT_COMMON,
            **_MARKUP,
            "BS": Entry(Class("border_style")),
            "Subtype": Entry(Exact("Stamp"), required=True),
            "Name": Entry(NAME),
        }
    ),
    "annot_fileattachment": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            **_ANNOT_COMMON,
            **_MARKUP,
            "BS": Entry(Class("border_style")),
            "Subtype": Entry(Exact("FileAttachment"), required=True),
            "FS": Entry(Class("filespec"), required=True),
            "Name": Entry(NAME),
        }
    ),
    "annot_sound": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            **_ANNOT_COMMON,
            **_MARKUP,
            "BS": Entry(Class("border_style")),
            "Subtype": Entry(Exact("Sound"), required=True),
            "Sound": Entry(Class("sound_stream"), required=True),
            "Name": Entry(NAME),
        }
    ),
    "annot_popup": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            "Subtype": Entry(Exact("Popup"), required=True),
            **_ANNOT_COMMON,
            "Parent": Entry(DICT),
            "Open": Entry(BOOL),
        }
    ),
    "annot_screen": ClassDef(
        {
            # §12.5.6.18: region of a page for playing media renditions
            "Type": Entry(Exact("Annot")),
            "Subtype": Entry(Exact("Screen"), required=True),
            **_ANNOT_COMMON,
            "T": Entry(STRING),
            "MK": Entry(DICT),
            "A": Entry(ACTION),
            "AA": Entry(Class("addl_actions")),
        }
    ),
    "annot_movie": ClassDef(
        {
            # §13.4 movie annotation (deprecated in 2.0, present in crawls)
            "Type": Entry(Exact("Annot")),
            "Subtype": Entry(Exact("Movie"), required=True),
            **_ANNOT_COMMON,
            "T": Entry(STRING),
            "Movie": Entry(Class("movie"), required=True),
            "A": Entry(OneOf((BOOL, Class("movie_activation")))),
        }
    ),
    # --- name / number trees [PDF17 §7.9.6–7.9.7] --------------------------
    "names": ClassDef(
        {
            "Dests": Entry(Class("name_tree")),
            "AP": Entry(Class("name_tree")),
            "JavaScript": Entry(Class("name_tree")),
            "Pages": Entry(Class("name_tree")),
            "Templates": Entry(Class("name_tree")),
            "IDS": Entry(Class("name_tree_capture")),
            "URLS": Entry(Class("name_tree_capture")),
            "EmbeddedFiles": Entry(Class("name_tree_files")),
            "AlternatePresentations": Entry(Class("name_tree")),
            "Renditions": Entry(Class("name_tree")),
        }
    ),
    "name_tree": ClassDef(
        {
            "Kids": Entry(ArrayOf(Class("name_tree"))),
            "Names": Entry(ARRAY),  # alternating [key STRING, value ANY]
            "Limits": Entry(Tuple((STRING, STRING))),
        }
    ),
    # value-typed tree for /EmbeddedFiles: alternating [name STRING,
    # filespec] — descends into filespec → /EF → embedded_file → ef_params
    "name_tree_files": ClassDef(
        {
            "Kids": Entry(ArrayOf(Class("name_tree_files"))),
            "Names": Entry(ArrayOf(OneOf((STRING, Class("filespec"))))),
            "Limits": Entry(Tuple((STRING, STRING))),
        }
    ),
    "number_tree": ClassDef(
        {
            "Kids": Entry(ArrayOf(Class("number_tree"))),
            "Nums": Entry(ARRAY),  # alternating [key INT, value ANY]
            "Limits": Entry(Tuple((INT, INT))),
        }
    ),
    # --- font machinery [PDF17 §9.6–9.8] -----------------------------------
    "fontdescriptor": ClassDef(
        {
            "Type": Entry(Exact("FontDescriptor"), required=True),
            "FontName": Entry(NAME, required=True),
            "FontFamily": Entry(STRING),
            "FontStretch": Entry(NAME),
            "FontWeight": Entry(NUMBER),
            "Flags": Entry(INT, required=True),
            "FontBBox": Entry(RECT),
            "ItalicAngle": Entry(NUMBER, required=True),
            "Ascent": Entry(NUMBER),
            "Descent": Entry(NUMBER),
            "Leading": Entry(NUMBER),
            "CapHeight": Entry(NUMBER),
            "XHeight": Entry(NUMBER),
            "StemV": Entry(NUMBER),
            "StemH": Entry(NUMBER),
            "AvgWidth": Entry(NUMBER),
            "MaxWidth": Entry(NUMBER),
            "MissingWidth": Entry(NUMBER),
            "FontFile": Entry(STREAM),
            "FontFile2": Entry(STREAM),
            "FontFile3": Entry(STREAM),
            "CharSet": Entry(STRING),
        }
    ),
    # --- xobjects [PDF17 §8.8–8.10] ----------------------------------------
    "xobject_image": ClassDef(
        {
            "Type": Entry(Exact("XObject")),
            "Subtype": Entry(Exact("Image"), required=True),
            "Width": Entry(INT, required=True),
            "Height": Entry(INT, required=True),
            "ColorSpace": Entry(COLORSPACE),
            "BitsPerComponent": Entry(INT),
            "ImageMask": Entry(BOOL),
            "Mask": Entry(OneOf((STREAM, ArrayOf(INT)))),
            "SMask": Entry(STREAM),
            "Decode": Entry(ArrayOf(NUMBER)),
            "Interpolate": Entry(BOOL),
            "Intent": Entry(NAME),
            "AF": Entry(ArrayOf(Class("filespec"))),
            "Alternates": Entry(ArrayOf(Class("alternate_image"))),
            "StructParent": Entry(INT),
            "ID": Entry(STRING),
            "OPI": Entry(Class("opi")),
        },
        is_stream=True,
    ),
    "xobject_form": ClassDef(
        {
            "Type": Entry(Exact("XObject")),
            "Subtype": Entry(Exact("Form"), required=True),
            "BBox": Entry(RECT, required=True),
            "Matrix": Entry(Tuple((NUMBER,) * 6)),
            "Resources": Entry(Class("resources")),
            "Group": Entry(Class("group_transparency")),
            "Ref": Entry(Class("ref_xobject")),
            "AF": Entry(ArrayOf(Class("filespec"))),
            "Metadata": Entry(STREAM),
            "PieceInfo": Entry(DictOf(Class("piece_entry"))),
            "LastModified": Entry(STRING),
            "StructParent": Entry(INT),
            "StructParents": Entry(INT),
            "FormType": Entry(INT),
        },
        is_stream=True,
    ),
    # --- functions [PDF17 §7.10]: one class per /FunctionType so the
    # per-type required entries (§7.10.2–.5 tables 39–42) are enforced,
    # not merely permitted
    "function_sampled": ClassDef(
        {
            "FunctionType": Entry(ExactInt(0), required=True),
            "Domain": Entry(ArrayOf(NUMBER), required=True),
            "Range": Entry(ArrayOf(NUMBER), required=True),
            "Size": Entry(ArrayOf(INT), required=True),
            "BitsPerSample": Entry(INT, required=True),
            "Order": Entry(OneOf((ExactInt(1), ExactInt(3)))),
            "Encode": Entry(ArrayOf(NUMBER)),
            "Decode": Entry(ArrayOf(NUMBER)),
        },
        is_stream=True,
    ),
    "function_exponential": ClassDef(
        {
            "FunctionType": Entry(ExactInt(2), required=True),
            "Domain": Entry(ArrayOf(NUMBER), required=True),
            "Range": Entry(ArrayOf(NUMBER)),
            "C0": Entry(ArrayOf(NUMBER)),
            "C1": Entry(ArrayOf(NUMBER)),
            "N": Entry(NUMBER, required=True),
        }
    ),
    "function_stitching": ClassDef(
        {
            "FunctionType": Entry(ExactInt(3), required=True),
            "Domain": Entry(ArrayOf(NUMBER), required=True),
            "Range": Entry(ArrayOf(NUMBER)),
            "Functions": Entry(ArrayOf(FUNCTION), required=True),
            "Bounds": Entry(ArrayOf(NUMBER), required=True),
            "Encode": Entry(ArrayOf(NUMBER), required=True),
        }
    ),
    "function_postscript": ClassDef(
        {
            "FunctionType": Entry(ExactInt(4), required=True),
            "Domain": Entry(ArrayOf(NUMBER), required=True),
            # §7.10.5: Range is required for calculator functions
            "Range": Entry(ArrayOf(NUMBER), required=True),
        },
        is_stream=True,
    ),
    # --- shadings and patterns [PDF17 §8.7.4.3, §8.7.3]: one class per
    # geometry family so each one's required plumbing (Coords for axial/
    # radial, vertex-decode frame for meshes, VerticesPerRow for
    # lattices) is enforced per §8.7.4.5 tables 78–83
    "shading_fnbased": ClassDef(
        {
            "ShadingType": Entry(ExactInt(1), required=True),
            **_SHADING_COMMON,
            "Domain": Entry(ArrayOf(NUMBER)),
            "Matrix": Entry(ArrayOf(NUMBER)),
            "Function": Entry(_FUNC_OR_ARRAY, required=True),
        }
    ),
    "shading_axial": ClassDef(
        {
            "ShadingType": Entry(ExactInt(2), required=True),
            **_SHADING_COMMON,
            "Domain": Entry(ArrayOf(NUMBER)),
            "Coords": Entry(
                Tuple((NUMBER, NUMBER, NUMBER, NUMBER)), required=True
            ),
            "Extend": Entry(Tuple((BOOL, BOOL))),
            "Function": Entry(_FUNC_OR_ARRAY, required=True),
        }
    ),
    "shading_radial": ClassDef(
        {
            "ShadingType": Entry(ExactInt(3), required=True),
            **_SHADING_COMMON,
            "Domain": Entry(ArrayOf(NUMBER)),
            "Coords": Entry(
                Tuple((NUMBER, NUMBER, NUMBER, NUMBER, NUMBER, NUMBER)),
                required=True,
            ),
            "Extend": Entry(Tuple((BOOL, BOOL))),
            "Function": Entry(_FUNC_OR_ARRAY, required=True),
        }
    ),
    "shading_lattice": ClassDef(
        {
            "ShadingType": Entry(ExactInt(5), required=True),
            **_SHADING_COMMON,
            "BitsPerCoordinate": Entry(INT, required=True),
            "BitsPerComponent": Entry(INT, required=True),
            "VerticesPerRow": Entry(INT, required=True),
            "Decode": Entry(ArrayOf(NUMBER), required=True),
            "Function": Entry(_FUNC_OR_ARRAY),
        },
        is_stream=True,
    ),
    "shading_mesh": ClassDef(
        {
            "ShadingType": Entry(
                OneOf((ExactInt(4), ExactInt(6), ExactInt(7))),
                required=True,
            ),
            **_SHADING_COMMON,
            "BitsPerCoordinate": Entry(INT, required=True),
            "BitsPerComponent": Entry(INT, required=True),
            "BitsPerFlag": Entry(INT, required=True),
            "Decode": Entry(ArrayOf(NUMBER), required=True),
            "Function": Entry(_FUNC_OR_ARRAY),
        },
        is_stream=True,
    ),
    "pattern_tiling": ClassDef(
        {
            "Type": Entry(Exact("Pattern")),
            "PatternType": Entry(ExactInt(1), required=True),
            "PaintType": Entry(INT, required=True),
            "TilingType": Entry(INT, required=True),
            "BBox": Entry(RECT, required=True),
            "XStep": Entry(NUMBER, required=True),
            "YStep": Entry(NUMBER, required=True),
            "Resources": Entry(Class("resources"), required=True),
            "Matrix": Entry(ArrayOf(NUMBER)),
        },
        is_stream=True,
    ),
    "pattern_shading": ClassDef(
        {
            "Type": Entry(Exact("Pattern")),
            "PatternType": Entry(ExactInt(2), required=True),
            "Shading": Entry(SHADING, required=True),
            "Matrix": Entry(ArrayOf(NUMBER)),
            "ExtGState": Entry(Class("extgstate")),
        }
    ),
    # --- graphics state [PDF17 §8.4.5] -------------------------------------
    "extgstate": ClassDef(
        {
            "Type": Entry(Exact("ExtGState")),
            "LW": Entry(NUMBER),
            "LC": Entry(INT),
            "LJ": Entry(INT),
            "ML": Entry(NUMBER),
            "D": Entry(Tuple((ArrayOf(NUMBER), NUMBER))),
            "RI": Entry(NAME),
            "OP": Entry(BOOL),
            "op": Entry(BOOL),
            "OPM": Entry(INT),
            "Font": Entry(Tuple((Class("font"), NUMBER))),
            "BM": Entry(OneOf((NAME, ArrayOf(NAME)))),
            "SMask": Entry(OneOf((NAME, Class("softmask")))),
            "CA": Entry(NUMBER),
            "ca": Entry(NUMBER),
            "AIS": Entry(BOOL),
            "TK": Entry(BOOL),
            "SA": Entry(BOOL),
            "FL": Entry(NUMBER),
            "SM": Entry(NUMBER),
            # black-generation / undercolor-removal: a function; the "2"
            # variants additionally admit /Default [PDF17 table 58]
            "BG": Entry(OneOf(_FUNC_ALTS)),
            "BG2": Entry(OneOf(_FUNC_ALTS + (Exact("Default"),))),
            "UCR": Entry(OneOf(_FUNC_ALTS)),
            "UCR2": Entry(OneOf(_FUNC_ALTS + (Exact("Default"),))),
            # transfer: function, 4-tuple of functions, or /Identity
            # (/Default additionally allowed in TR2)
            "TR": Entry(
                OneOf(
                    _FUNC_ALTS
                    + (ArrayOf(FUNCTION), Exact("Identity"))
                )
            ),
            "TR2": Entry(
                OneOf(
                    _FUNC_ALTS
                    + (ArrayOf(FUNCTION), Exact("Identity"), Exact("Default"))
                )
            ),
            # halftone: /Default or a typed halftone dict/stream [§10.5]
            "HT": Entry(
                OneOf(
                    (
                        NAME,
                        Class("halftone_type1"),
                        Class("halftone_type5"),
                        Class("halftone_type6"),
                        Class("halftone_type10"),
                        Class("halftone_type16"),
                    )
                )
            ),
        }
    ),
    # --- actions [PDF17 §12.6] ---------------------------------------------
    # generic fallback for subtypes without a dedicated def (SubmitForm,
    # Hide, Trans, ...); the dedicated subtypes below are discriminated
    # from it by their exact /S and enforce the per-subtype REQUIRED
    # entries the open class cannot (a /URI action without /URI is a type
    # error in caradoc's rules, not merely an empty link)
    "action": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(NAME, required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "D": Entry(OneOf((ARRAY, NAME, STRING))),
            "URI": Entry(STRING),
            "IsMap": Entry(BOOL),
            "F": Entry(OneOf((STRING, Class("filespec")))),
            "NewWindow": Entry(BOOL),
            "JS": Entry(OneOf((STRING, STREAM))),
            "Win": Entry(Class("launch_win")),
            "T": Entry(ANY),
        }
    ),
    # --- action subtypes [PDF17 §12.6.4.2–.16] ------------------------------
    "action_goto": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("GoTo"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "D": Entry(OneOf((ARRAY, NAME, STRING)), required=True),
        }
    ),
    "action_gotor": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("GoToR"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "F": Entry(OneOf((STRING, Class("filespec"))), required=True),
            "D": Entry(OneOf((ARRAY, NAME, STRING)), required=True),
            "NewWindow": Entry(BOOL),
        }
    ),
    "action_launch": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("Launch"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            # §12.6.4.6: at least one of F / Win / Mac / Unix must be
            # present; the DSL's per-entry required flag can't express
            # "one-of", matching caradoc's per-entry checks
            "F": Entry(OneOf((STRING, Class("filespec")))),
            "Win": Entry(Class("launch_win")),
            "Mac": Entry(ANY),
            "Unix": Entry(ANY),
            "NewWindow": Entry(BOOL),
        }
    ),
    "action_uri": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("URI"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "URI": Entry(STRING, required=True),
            "IsMap": Entry(BOOL),
        }
    ),
    "action_javascript": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("JavaScript"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "JS": Entry(OneOf((STRING, STREAM)), required=True),
        }
    ),
    "action_named": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("Named"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "N": Entry(NAME, required=True),
        }
    ),
    "action_rendition": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("Rendition"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "R": Entry(Class("rendition")),
            "AN": Entry(DICT),  # the screen annotation (by ref)
            "OP": Entry(INT),
            "JS": Entry(OneOf((STRING, STREAM))),
        }
    ),
    # embedded go-to [PDF17 §12.6.4.4]
    "action_gotoe": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("GoToE"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "D": Entry(OneOf((ARRAY, NAME, STRING)), required=True),
            "F": Entry(OneOf((STRING, Class("filespec")))),
            "NewWindow": Entry(BOOL),
            "T": Entry(Class("gotoe_target")),  # [table 202]
        }
    ),
    # form actions [PDF17 §12.7.5.2–12.7.5.4]
    "action_submitform": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("SubmitForm"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "F": Entry(
                OneOf((STRING, Class("filespec"))), required=True
            ),
            "Fields": Entry(ArrayOf(OneOf((DICT, STRING)))),
            "Flags": Entry(INT),
        }
    ),
    "action_resetform": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("ResetForm"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "Fields": Entry(ArrayOf(OneOf((DICT, STRING)))),
            "Flags": Entry(INT),
        }
    ),
    "action_importdata": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("ImportData"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "F": Entry(
                OneOf((STRING, Class("filespec"))), required=True
            ),
        }
    ),
    # hide [PDF17 §12.6.4.10]
    "action_hide": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("Hide"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "T": Entry(
                OneOf((DICT, STRING, ArrayOf(OneOf((DICT, STRING))))),
                required=True,
            ),
            "H": Entry(BOOL),
        }
    ),
    # sound [PDF17 §12.6.4.8]
    "action_sound": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("Sound"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "Sound": Entry(Class("sound_stream"), required=True),
            "Volume": Entry(NUMBER),
            "Synchronous": Entry(BOOL),
            "Repeat": Entry(BOOL),
            "Mix": Entry(BOOL),
        }
    ),
    # movie [PDF17 §12.6.4.9]: exactly one of Annotation / T selects the
    # target annotation — one-of isn't expressible per-entry, matching
    # the action_launch stance
    "action_movie": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("Movie"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "Annotation": Entry(DICT),
            "T": Entry(STRING),
            "Operation": Entry(NAME),
        }
    ),
    # transition [PDF17 §12.6.4.14]
    "action_trans": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("Trans"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "Trans": Entry(Class("transition"), required=True),
        }
    ),
    # thread [PDF17 §12.6.4.7]
    "action_thread": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("Thread"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "D": Entry(OneOf((DICT, INT, STRING)), required=True),
            "F": Entry(OneOf((STRING, Class("filespec")))),
            "B": Entry(OneOf((DICT, INT))),
        }
    ),
    # optional-content state [PDF17 §12.6.4.12]
    "action_setocgstate": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("SetOCGState"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "State": Entry(ArrayOf(OneOf((NAME, DICT))), required=True),
            "PreserveRB": Entry(BOOL),
        }
    ),
    # 3D view [PDF17 §12.6.4.15]
    "action_goto3dview": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("GoTo3DView"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "TA": Entry(DICT, required=True),
            "V": Entry(
                OneOf((DICT, STREAM, NAME, STRING, INT)), required=True
            ),
        }
    ),
    # RichMediaExecute [ISO 32000-2 §12.6.4.17]
    "action_richmedia": ClassDef(
        {
            "Type": Entry(Exact("Action")),
            "S": Entry(Exact("RichMediaExecute"), required=True),
            "Next": Entry(_ACTION_OR_ARRAY),
            "TA": Entry(Class("annot_richmedia"), required=True),
            "TI": Entry(Class("richmedia_instance")),
            "CMD": Entry(Class("richmedia_command"), required=True),
        }
    ),
    "richmedia_command": ClassDef(
        {
            "Type": Entry(Exact("RichMediaCommand")),
            "C": Entry(STRING, required=True),  # script command name
            "A": Entry(ANY),  # arguments: bool/int/real/string or array
        }
    ),
    # launch parameter dictionary [PDF17 §12.6.4.6 table 203]
    "launch_win": ClassDef(
        {
            "F": Entry(STRING, required=True),
            "D": Entry(STRING),
            "O": Entry(STRING),
            "P": Entry(STRING),
        }
    ),
    # additional-actions dictionary [PDF17 §12.6.3 tables 194–197]: the
    # union of the catalog (WC/WS/DS/WP/DP), page (O/C), annotation
    # (E/X/D/U/Fo/Bl/PO/PC/PV/PI) and form-field (K/F/V/C) trigger slots,
    # every one an action; the class stays open so exotic triggers pass
    "addl_actions": ClassDef(
        {
            k: Entry(ACTION)
            for k in (
                "WC", "WS", "DS", "WP", "DP",
                "O", "C",
                "E", "X", "D", "U", "Fo", "Bl", "PO", "PC", "PV", "PI",
                "K", "F", "V",
            )
        }
    ),
    # appearance dictionary [PDF17 §12.5.5]: /N required; each slot is a
    # form XObject stream or a state-name → stream sub-dictionary
    "appearance": ClassDef(
        {
            "N": Entry(OneOf((STREAM, DictOf(STREAM))), required=True),
            "R": Entry(OneOf((STREAM, DictOf(STREAM)))),
            "D": Entry(OneOf((STREAM, DictOf(STREAM)))),
        }
    ),
    # --- multimedia [PDF17 §13.2] -------------------------------------------
    "rendition": ClassDef(
        {
            "Type": Entry(Exact("Rendition")),
            "S": Entry(OneOf((Exact("MR"), Exact("SR"))), required=True),
            "N": Entry(STRING),
            "C": Entry(Class("media_clip")),  # selector renditions: /R
            "R": Entry(ARRAY),
            "P": Entry(Class("media_play_params")),
            "SP": Entry(Class("media_screen_params")),
            "MH": Entry(Class("rendition_be")),
            "BE": Entry(Class("rendition_be")),
        }
    ),
    "media_clip": ClassDef(
        {
            "Type": Entry(Exact("MediaClip")),
            "S": Entry(OneOf((Exact("MCD"), Exact("MCS"))), required=True),
            "N": Entry(STRING),
            "D": Entry(OneOf((STRING, Class("filespec"), STREAM))),
            "CT": Entry(STRING),
            "P": Entry(Class("media_permissions")),
            "Alt": Entry(ARRAY),
            "MH": Entry(Class("media_clip_be")),
            "BE": Entry(Class("media_clip_be")),
        }
    ),
    # movie dictionary [PDF17 §13.4, deprecated in 2.0 but common in crawls]
    "movie": ClassDef(
        {
            "F": Entry(OneOf((STRING, Class("filespec"))), required=True),
            "Aspect": Entry(Tuple((INT, INT))),
            "Rotate": Entry(INT),
            "Poster": Entry(OneOf((BOOL, STREAM))),
        }
    ),
    # --- interactive forms [PDF17 §12.7] -----------------------------------
    "acroform": ClassDef(
        {
            "Fields": Entry(ArrayOf(Class("field")), required=True),
            "NeedAppearances": Entry(BOOL),
            "SigFlags": Entry(INT),
            "CO": Entry(ARRAY),
            "DR": Entry(Class("resources")),
            "DA": Entry(STRING),
            "Q": Entry(INT),
            # whole-form stream, or alternating (packet-name, stream)
            # array [XFA spec / ISO 32000-1 §12.7.8]
            "XFA": Entry(
                OneOf((STREAM, ArrayOf(OneOf((STRING, STREAM)))))
            ),
        }
    ),
    "field": ClassDef(
        {
            # field entries + widget-annotation merge (common in practice)
            "FT": Entry(NAME),
            "Parent": Entry(DICT),
            "Kids": Entry(ArrayOf(Class("field"))),
            "T": Entry(STRING),
            "TU": Entry(STRING),
            "TM": Entry(STRING),
            "Ff": Entry(INT),
            "V": Entry(OneOf((Class("sig"), ANY))),
            "DV": Entry(ANY),
            "AA": Entry(Class("addl_actions")),
            "Subtype": Entry(NAME),
            "Rect": Entry(RECT),
            "MK": Entry(DICT),
            "DA": Entry(STRING),
            "Q": Entry(INT),
            "MaxLen": Entry(INT),
            "Opt": Entry(ARRAY),
            "F": Entry(INT),
            "P": Entry(DICT),
            "AP": Entry(Class("appearance")),
            "AS": Entry(NAME),
        }
    ),
    # --- encryption [PDF17 §7.6] -------------------------------------------
    "encrypt": ClassDef(
        {
            "Filter": Entry(NAME, required=True),
            "SubFilter": Entry(NAME),
            "V": Entry(INT),
            "Length": Entry(INT),
            "R": Entry(INT),
            "O": Entry(STRING),
            "U": Entry(STRING),
            "P": Entry(INT),
            "EncryptMetadata": Entry(BOOL),
            "CF": Entry(DictOf(Class("crypt_filter"))),
            "StmF": Entry(NAME),
            "StrF": Entry(NAME),
            "EFF": Entry(NAME),
            "OE": Entry(STRING),
            "UE": Entry(STRING),
            "Perms": Entry(STRING),
        }
    ),
    "crypt_filter": ClassDef(
        {
            "Type": Entry(Exact("CryptFilter")),
            "CFM": Entry(NAME),
            "AuthEvent": Entry(NAME),
            "Length": Entry(INT),
        }
    ),
    # --- file specifications / embedded files [PDF17 §7.11] ----------------
    "filespec": ClassDef(
        {
            "Type": Entry(Exact("Filespec")),
            "FS": Entry(NAME),
            "F": Entry(STRING),
            "UF": Entry(STRING),
            "DOS": Entry(STRING),
            "Mac": Entry(STRING),
            "Unix": Entry(STRING),
            "ID": Entry(Tuple((STRING, STRING))),
            "V": Entry(BOOL),
            "EF": Entry(DictOf(Class("embedded_file"))),
            "RF": Entry(DICT),
            "Desc": Entry(STRING),
            "CI": Entry(Class("collection_item")),
            # PDF 2.0: how this file relates to its host (Source, Data,
            # Alternative, Supplement, EncryptedPayload, FormData, Schema,
            # Unspecified) — open NAME, new relationships are legal
            "AFRelationship": Entry(NAME),
            "AF": Entry(ArrayOf(Class("filespec"))),
        }
    ),
    "embedded_file": ClassDef(
        {
            "Type": Entry(Exact("EmbeddedFile")),
            "Subtype": Entry(NAME),
            "Params": Entry(Class("ef_params")),
        },
        is_stream=True,
    ),
    # --- viewer prefs / mark info / structure tree [PDF17 §12.2, 14.7-8] ---
    "viewer_prefs": ClassDef(
        {
            "HideToolbar": Entry(BOOL),
            "HideMenubar": Entry(BOOL),
            "HideWindowUI": Entry(BOOL),
            "FitWindow": Entry(BOOL),
            "CenterWindow": Entry(BOOL),
            "DisplayDocTitle": Entry(BOOL),
            "NonFullScreenPageMode": Entry(NAME),
            "Direction": Entry(NAME),
            "ViewArea": Entry(NAME),
            "ViewClip": Entry(NAME),
            "PrintArea": Entry(NAME),
            "PrintClip": Entry(NAME),
            "PrintScaling": Entry(NAME),
            "Duplex": Entry(NAME),
            "PickTrayByPDFSize": Entry(BOOL),
            "PrintPageRange": Entry(ArrayOf(INT)),
            "NumCopies": Entry(INT),
        }
    ),
    "mark_info": ClassDef(
        {
            "Marked": Entry(BOOL),
            "UserProperties": Entry(BOOL),
            "Suspects": Entry(BOOL),
        }
    ),
    # --- optional content (layers) [PDF17 §8.11] ---------------------------
    "ocg": ClassDef(
        {
            "Type": Entry(Exact("OCG"), required=True),
            "Name": Entry(STRING, required=True),
            "Intent": Entry(OneOf((NAME, ArrayOf(NAME)))),
            "Usage": Entry(Class("ocg_usage")),
        }
    ),
    "ocmd": ClassDef(
        {
            "Type": Entry(Exact("OCMD"), required=True),
            "OCGs": Entry(OneOf((Class("ocg"), ArrayOf(Class("ocg"))))),
            "P": Entry(NAME),
            "VE": Entry(ARRAY),
        }
    ),
    "oc_config": ClassDef(
        {
            "Name": Entry(STRING),
            "Creator": Entry(STRING),
            "BaseState": Entry(NAME),
            "ON": Entry(ArrayOf(Class("ocg"))),
            "OFF": Entry(ArrayOf(Class("ocg"))),
            "Intent": Entry(OneOf((NAME, ArrayOf(NAME)))),
            # usage applications [PDF17 §8.11.4.4 table 103]
            "AS": Entry(ArrayOf(Class("oc_usage_app"))),
            "Order": Entry(ARRAY),
            "ListMode": Entry(NAME),
            "RBGroups": Entry(ARRAY),
            "Locked": Entry(ArrayOf(Class("ocg"))),
        }
    ),
    "oc_usage_app": ClassDef(
        {
            "Event": Entry(
                OneOf((Exact("View"), Exact("Print"), Exact("Export"))),
                required=True,
            ),
            "OCGs": Entry(ArrayOf(Class("ocg"))),
            "Category": Entry(ArrayOf(NAME), required=True),
        }
    ),
    "ocproperties": ClassDef(
        {
            "OCGs": Entry(ArrayOf(Class("ocg")), required=True),
            "D": Entry(Class("oc_config"), required=True),
            "Configs": Entry(ArrayOf(Class("oc_config"))),
        }
    ),
    # --- article threads [PDF17 §12.4.3] -----------------------------------
    "thread": ClassDef(
        {
            "Type": Entry(Exact("Thread")),
            "F": Entry(Class("bead"), required=True),
            "I": Entry(Class("thread_info")),
        }
    ),
    "bead": ClassDef(
        {
            "Type": Entry(Exact("Bead")),
            "T": Entry(Class("thread")),
            "N": Entry(Class("bead"), required=True),
            "V": Entry(Class("bead"), required=True),
            "P": Entry(DICT, required=True),
            "R": Entry(RECT, required=True),
        }
    ),
    # --- page labels [PDF17 §12.4.2] (leaf values of the /PageLabels tree) -
    "page_label": ClassDef(
        {
            "Type": Entry(Exact("PageLabel")),
            "S": Entry(NAME),
            "P": Entry(STRING),
            "St": Entry(INT),
        }
    ),
    # --- presentation transitions [PDF17 §12.4.4] --------------------------
    "transition": ClassDef(
        {
            "Type": Entry(Exact("Trans")),
            "S": Entry(NAME),
            "D": Entry(NUMBER),
            "Dm": Entry(NAME),
            "M": Entry(NAME),
            "Di": Entry(OneOf((INT, NAME))),
            "SS": Entry(NUMBER),
            "B": Entry(BOOL),
        }
    ),
    # --- metadata stream [PDF17 §14.3.2] -----------------------------------
    "metadata_stream": ClassDef(
        {
            "Type": Entry(Exact("Metadata"), required=True),
            "Subtype": Entry(Exact("XML"), required=True),
        },
        is_stream=True,
    ),
    # --- logical structure [PDF17 §14.7.2] ---------------------------------
    "structelem": ClassDef(
        {
            "Type": Entry(Exact("StructElem")),
            "S": Entry(NAME, required=True),
            "P": Entry(DICT, required=True),
            "ID": Entry(STRING),
            "Pg": Entry(DICT),
            # kids: MCID int, marked-content/object refs (typed MCR/OBJR,
            # generic dict last), child elems, or an array mixing those
            # [PDF17 §14.7.4.2–14.7.4.3]
            "K": Entry(
                OneOf((
                    INT,
                    Class("structelem"),
                    ArrayOf(OneOf((
                        INT, Class("structelem"), Class("mcr"),
                        Class("objr"), DICT,
                    ))),
                    Class("mcr"),
                    Class("objr"),
                    DICT,
                ))
            ),
            # attribute objects, or array of them interleaved with
            # revision ints [PDF17 §14.7.5.2]
            "A": Entry(
                OneOf((
                    Class("struct_attr"),
                    ArrayOf(OneOf((Class("struct_attr"), INT))),
                ))
            ),
            "C": Entry(OneOf((NAME, ArrayOf(NAME)))),
            "T": Entry(STRING),
            "Lang": Entry(STRING),
            "Alt": Entry(STRING),
            "ActualText": Entry(STRING),
            # PDF 2.0 [ISO 32000-2 §14.7.4.2, §14.9.4]
            "NS": Entry(Class("namespace")),
            "PhoneticAlphabet": Entry(NAME),
            "Phoneme": Entry(STRING),
        }
    ),
    "struct_tree_root": ClassDef(
        {
            "Type": Entry(Exact("StructTreeRoot")),
            "K": Entry(
                OneOf((Class("structelem"), ArrayOf(Class("structelem"))))
            ),
            "IDTree": Entry(Class("name_tree")),
            "ParentTree": Entry(Class("number_tree")),
            "ParentTreeNextKey": Entry(INT),
            "RoleMap": Entry(DictOf(NAME)),
            "ClassMap": Entry(DICT),
            # PDF 2.0 [ISO 32000-2 §14.7.4]
            "Namespaces": Entry(ArrayOf(Class("namespace"))),
        }
    ),
    # PDF 2.0 structure namespace [ISO 32000-2 §14.7.4.2]
    "namespace": ClassDef(
        {
            "Type": Entry(Exact("Namespace")),
            "NS": Entry(STRING, required=True),
            "Schema": Entry(OneOf((STREAM, Class("filespec")))),
            "RoleMapNS": Entry(DICT),
        }
    ),
    # PDF 2.0 document parts [ISO 32000-2 §14.12]: an out-of-band tree
    # partitioning the page sequence (print runs, statements, invoices)
    "dpart_root": ClassDef(
        {
            "Type": Entry(Exact("DPartRoot"), required=True),
            "DPartRootNode": Entry(Class("dpart"), required=True),
            "NodeNameList": Entry(ArrayOf(NAME)),
            "RecordLevel": Entry(INT),
        }
    ),
    "dpart": ClassDef(
        {
            "Type": Entry(Exact("DPart"), required=True),
            "Parent": Entry(DICT, required=True),
            # child nodes come as an ARRAY OF ARRAYS of DPart dicts
            "DParts": Entry(ArrayOf(ArrayOf(Class("dpart")))),
            "Start": Entry(Class("page")),
            "End": Entry(Class("page")),
            "DPM": Entry(DICT),  # part metadata — application data, open
            "AF": Entry(ArrayOf(Class("filespec"))),
        }
    ),
    # structure attribute object [PDF17 §14.7.5, PDF2.0 §14.7.6]: /O names
    # the owning application/standard (Layout, List, PrintField, Table,
    # XML-1.00, ...); the remaining keys are owner-defined attribute data
    "struct_attr": ClassDef(
        {
            "O": Entry(NAME, required=True),
        }
    ),
    # --- cross-reference & object streams [PDF17 §7.5.7–7.5.8] -------------
    # parsed structurally by the xref layer; typedefs give them the same
    # dict-schema validation every other class gets
    "objstm": ClassDef(
        {
            "Type": Entry(Exact("ObjStm"), required=True),
            "N": Entry(INT, required=True),
            "First": Entry(INT, required=True),
            "Extends": Entry(STREAM),
        },
        is_stream=True,
    ),
    # linearization parameter dict [PDF17 Annex F.3.3]
    "linearized": ClassDef(
        {
            "Linearized": Entry(NUMBER, required=True),
            "L": Entry(INT, required=True),
            "H": Entry(ArrayOf(INT), required=True),
            "O": Entry(INT, required=True),
            "E": Entry(INT, required=True),
            "N": Entry(INT, required=True),
            "T": Entry(INT, required=True),
            "P": Entry(INT),
        }
    ),
    "xref_stream": ClassDef(
        {
            "Type": Entry(Exact("XRef"), required=True),
            "Size": Entry(INT, required=True),
            "Index": Entry(ArrayOf(INT)),
            "Prev": Entry(INT),
            "W": Entry(ArrayOf(INT), required=True),
            "Root": Entry(ANY),
            "Info": Entry(ANY),
            "ID": Entry(ARRAY),
            "Encrypt": Entry(ANY),
            "XRefStm": Entry(INT),
        },
        is_stream=True,
    ),
    # --- §7.12 developer extensions ----------------------------------------
    "extension": ClassDef(
        {
            "Type": Entry(Exact("DeveloperExtensions")),
            "BaseVersion": Entry(NAME, required=True),
            "ExtensionLevel": Entry(INT, required=True),
        }
    ),
    # --- §12.10 document requirements --------------------------------------
    "requirement": ClassDef(
        {
            "Type": Entry(Exact("Requirement")),
            "S": Entry(NAME, required=True),
            "RH": Entry(OneOf((ARRAY, DICT))),
        }
    ),
    # --- §12.3.5 portable collections --------------------------------------
    "collection": ClassDef(
        {
            "Type": Entry(Exact("Collection")),
            # schema maps arbitrary field keys -> field dicts; its /Type
            # entry is the one NAME value in the map
            "Schema": Entry(
                DictOf(OneOf((Class("collection_field"), NAME)))
            ),
            "D": Entry(STRING),
            "View": Entry(NAME),
            "Sort": Entry(Class("collection_sort")),
        }
    ),
    "collection_field": ClassDef(
        {
            "Type": Entry(Exact("CollectionField")),
            "Subtype": Entry(NAME, required=True),
            "N": Entry(STRING, required=True),
            "O": Entry(INT),
            "V": Entry(BOOL),
            "E": Entry(BOOL),
        }
    ),
    "collection_sort": ClassDef(
        {
            "Type": Entry(Exact("CollectionSort")),
            "S": Entry(OneOf((NAME, ArrayOf(NAME))), required=True),
            "A": Entry(OneOf((BOOL, ArrayOf(BOOL)))),
        }
    ),
    # --- §11.6.5.2 soft-mask dictionary (ExtGState /SMask) -----------------
    "softmask": ClassDef(
        {
            "Type": Entry(Exact("Mask")),
            "S": Entry(NAME, required=True),
            "G": Entry(Class("xobject_form"), required=True),
            "BC": Entry(ArrayOf(NUMBER)),
            "TR": Entry(
                OneOf(
                    (
                        NAME,
                        Class("function_sampled"),
                        Class("function_exponential"),
                        Class("function_stitching"),
                        Class("function_postscript"),
                    )
                )
            ),
        }
    ),
    # --- §14.11.5 output intents --------------------------------------------
    "output_intent": ClassDef(
        {
            "Type": Entry(Exact("OutputIntent")),
            "S": Entry(NAME, required=True),
            "OutputCondition": Entry(STRING),
            "OutputConditionIdentifier": Entry(STRING),
            "RegistryName": Entry(STRING),
            "Info": Entry(STRING),
            "DestOutputProfile": Entry(STREAM),
        }
    ),
    # --- §12.5.6: redaction / caret / watermark annotations -----------------
    "annot_redact": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            "Subtype": Entry(Exact("Redact"), required=True),
            **_ANNOT_COMMON,
            **_MARKUP,
            "QuadPoints": Entry(ArrayOf(NUMBER)),
            "IC": Entry(ArrayOf(NUMBER)),
            "RO": Entry(Class("xobject_form")),
            "OverlayText": Entry(STRING),
            "Repeat": Entry(BOOL),
            "DA": Entry(STRING),
            "Q": Entry(INT),
        }
    ),
    "annot_caret": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            "Subtype": Entry(Exact("Caret"), required=True),
            **_ANNOT_COMMON,
            **_MARKUP,
            "RD": Entry(ArrayOf(NUMBER)),
            "Sy": Entry(NAME),
        }
    ),
    "annot_watermark": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            "Subtype": Entry(Exact("Watermark"), required=True),
            **_ANNOT_COMMON,
            "FixedPrint": Entry(Class("fixed_print")),
        }
    ),
    "fixed_print": ClassDef(
        {
            "Type": Entry(Exact("FixedPrint"), required=True),
            "Matrix": Entry(ArrayOf(NUMBER)),
            "H": Entry(NUMBER),
            "V": Entry(NUMBER),
        }
    ),
    # --- transparency group attributes [PDF17 §11.6.6] ---------------------
    "group_transparency": ClassDef(
        {
            "Type": Entry(Exact("Group")),
            "S": Entry(Exact("Transparency"), required=True),
            "CS": Entry(COLORSPACE),
            "I": Entry(BOOL),
            "K": Entry(BOOL),
        }
    ),
    # --- structure-tree content references [PDF17 §14.7.4.3] ---------------
    "mcr": ClassDef(
        {
            "Type": Entry(Exact("MCR"), required=True),
            "MCID": Entry(INT, required=True),
            "Pg": Entry(DICT),
            "Stm": Entry(STREAM),
            "StmOwn": Entry(ANY),
        }
    ),
    "objr": ClassDef(
        {
            "Type": Entry(Exact("OBJR"), required=True),
            "Obj": Entry(ANY, required=True),
            "Pg": Entry(DICT),
        }
    ),
    # --- permissions [PDF17 §12.8.4] ----------------------------------------
    "perms": ClassDef(
        {
            "DocMDP": Entry(Class("sig")),
            "UR3": Entry(Class("sig")),
        }
    ),
    # --- Web Capture [PDF17 §14.10.2] ---------------------------------------
    "webcapture_info": ClassDef(
        {
            "V": Entry(NUMBER, required=True),
            "C": Entry(ArrayOf(Class("webcapture_command"))),
        }
    ),
    # --- measurement & geospatial viewports [PDF17 §12.9] -------------------
    "viewport": ClassDef(
        {
            "Type": Entry(Exact("Viewport")),
            "BBox": Entry(RECT, required=True),
            "Name": Entry(STRING),
            "Measure": Entry(Class("measure_rl")),
        }
    ),
    "measure_rl": ClassDef(
        {
            "Type": Entry(Exact("Measure")),
            "Subtype": Entry(NAME),  # RL (rectilinear) is the 1.7 subtype
            "R": Entry(STRING, required=True),  # scale ratio text
            "X": Entry(ArrayOf(Class("number_format")), required=True),
            "Y": Entry(ArrayOf(Class("number_format"))),
            "D": Entry(ArrayOf(Class("number_format")), required=True),
            "A": Entry(ArrayOf(Class("number_format")), required=True),
            "T": Entry(ArrayOf(Class("number_format"))),
            "S": Entry(ArrayOf(Class("number_format"))),
            "O": Entry(Tuple((NUMBER, NUMBER))),
            "CYX": Entry(NUMBER),
        }
    ),
    "number_format": ClassDef(
        {
            "Type": Entry(Exact("NumberFormat")),
            "U": Entry(STRING, required=True),  # unit label
            "C": Entry(NUMBER, required=True),  # conversion factor
            "F": Entry(NAME),   # fraction display: D, F, R, T
            "D": Entry(INT),    # denominator precision
            "FD": Entry(BOOL),
            "RT": Entry(STRING),
            "RD": Entry(STRING),
            "PS": Entry(STRING),
            "SS": Entry(STRING),
            "O": Entry(NAME),   # label position S (suffix) | P (prefix)
        }
    ),
    # --- legal-content attestation [PDF17 §12.8.5] --------------------------
    # every counter entry reports content that weakens a certification
    # signature's guarantee (scripts, external refs, device-dependence)
    "legal": ClassDef(
        {
            "JavaScriptActions": Entry(INT),
            "LaunchActions": Entry(INT),
            "URIActions": Entry(INT),
            "MovieActions": Entry(INT),
            "SoundActions": Entry(INT),
            "HideAnnotationActions": Entry(INT),
            "GoToRemoteActions": Entry(INT),
            "AlternateImages": Entry(INT),
            "ExternalStreams": Entry(INT),
            "TrueTypeFonts": Entry(INT),
            "ExternalRefXobjects": Entry(INT),
            "ExternalOPIdicts": Entry(INT),
            "NonEmbeddedFonts": Entry(INT),
            "DevDepGS_OP": Entry(INT),
            "DevDepGS_HT": Entry(INT),
            "DevDepGS_TR": Entry(INT),
            "DevDepGS_UCR": Entry(INT),
            "DevDepGS_BG": Entry(INT),
            "DevDepGS_FL": Entry(INT),
            "Annotations": Entry(INT),
            "OptionalContent": Entry(INT),
            "Attestation": Entry(STRING),
        }
    ),
    # --- catalog URI dict [PDF17 §12.6.4.7]: base for relative URI actions --
    "uri_dict": ClassDef(
        {
            "Type": Entry(Exact("URI")),
            "Base": Entry(STRING),
        }
    ),
    # --- sub-page navigation [PDF17 §12.4.4.2] ------------------------------
    "nav_node": ClassDef(
        {
            "Type": Entry(Exact("NavNode")),
            "NA": Entry(OneOf(_ACTION_ALTS)),
            "PA": Entry(OneOf(_ACTION_ALTS)),
            "Next": Entry(Class("nav_node")),
            "Prev": Entry(Class("nav_node")),
            "Dur": Entry(NUMBER),
        }
    ),
    # --- prepress support [PDF17 §14.11.2–14.11.6] --------------------------
    "box_style": ClassDef(
        {
            "C": Entry(ArrayOf(NUMBER)),
            "W": Entry(NUMBER),
            "S": Entry(NAME),
            "D": Entry(ArrayOf(NUMBER)),
        }
    ),
    "box_color_info": ClassDef(
        {
            "CropBox": Entry(Class("box_style")),
            "BleedBox": Entry(Class("box_style")),
            "TrimBox": Entry(Class("box_style")),
            "ArtBox": Entry(Class("box_style")),
        }
    ),
    "separation_info": ClassDef(
        {
            "Pages": Entry(ArrayOf(DICT), required=True),
            "DeviceColorant": Entry(
                OneOf((NAME, STRING)), required=True
            ),
            "ColorSpace": Entry(ARRAY),
        }
    ),
    "annot_trapnet": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            "Subtype": Entry(Exact("TrapNet"), required=True),
            **_ANNOT_BASE,
            "LastModified": Entry(STRING),
            "Version": Entry(ARRAY),
            "AnnotStates": Entry(ArrayOf(NAME)),
            "FontFauxing": Entry(ArrayOf(DICT)),
        }
    ),
    "annot_printermark": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            "Subtype": Entry(Exact("PrinterMark"), required=True),
            **_ANNOT_BASE,
            "MN": Entry(NAME),
        }
    ),
    # --- 3D artwork annotation [PDF17 §13.6.2] -------------------------------
    "annot_3d": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            "Subtype": Entry(Exact("3D"), required=True),
            **_ANNOT_BASE,
            "3DD": Entry(
                OneOf((Class("threed_stream"), Class("threed_ref"))),
                required=True,
            ),
            "3DV": Entry(OneOf((INT, STRING, NAME, Class("threed_view")))),
            "3DA": Entry(Class("threed_activation")),
            "3DI": Entry(BOOL),
            "3DB": Entry(RECT),
        }
    ),
    # --- rich media [ISO 32000-2 §13.7 / Adobe Supplement EL3] --------------
    "annot_richmedia": ClassDef(
        {
            "Type": Entry(Exact("Annot")),
            "Subtype": Entry(Exact("RichMedia"), required=True),
            **_ANNOT_BASE,
            "RichMediaContent": Entry(
                Class("richmedia_content"), required=True
            ),
            "RichMediaSettings": Entry(Class("richmedia_settings")),
        }
    ),
    "richmedia_content": ClassDef(
        {
            "Type": Entry(Exact("RichMediaContent")),
            # name tree of asset filespecs — same value-typed shape as
            # /EmbeddedFiles
            "Assets": Entry(Class("name_tree_files")),
            "Configurations": Entry(
                ArrayOf(Class("richmedia_configuration")), required=True
            ),
            "Views": Entry(ArrayOf(Class("threed_view"))),
        }
    ),
    "richmedia_configuration": ClassDef(
        {
            "Type": Entry(Exact("RichMediaConfiguration")),
            "Subtype": Entry(
                OneOf((
                    Exact("3D"), Exact("Flash"), Exact("Sound"),
                    Exact("Video"),
                ))
            ),
            "Name": Entry(STRING),
            "Instances": Entry(ArrayOf(Class("richmedia_instance"))),
        }
    ),
    "richmedia_instance": ClassDef(
        {
            "Type": Entry(Exact("RichMediaInstance")),
            "Subtype": Entry(
                OneOf((
                    Exact("3D"), Exact("Flash"), Exact("Sound"),
                    Exact("Video"),
                )),
                required=True,
            ),
            "Params": Entry(Class("richmedia_params")),
            "Asset": Entry(Class("filespec")),
        }
    ),
    "richmedia_params": ClassDef(
        {
            "Type": Entry(Exact("RichMediaParams")),
            "FlashVars": Entry(OneOf((STRING, STREAM))),
            "Binding": Entry(NAME),  # None|Foreground|Background|Material
            "BindingMaterialName": Entry(STRING),
            "CuePoints": Entry(ARRAY),
            "Settings": Entry(OneOf((STRING, STREAM))),
        }
    ),
    "richmedia_settings": ClassDef(
        {
            "Type": Entry(Exact("RichMediaSettings")),
            "Activation": Entry(Class("richmedia_activation")),
            "Deactivation": Entry(Class("richmedia_deactivation")),
        }
    ),
    "richmedia_activation": ClassDef(
        {
            "Type": Entry(Exact("RichMediaActivation")),
            # explicit action | page open | page visible
            "Condition": Entry(
                OneOf((Exact("XA"), Exact("PO"), Exact("PV")))
            ),
            "Animation": Entry(DICT),
            "View": Entry(Class("threed_view")),
            "Presentation": Entry(Class("richmedia_presentation")),
            "Scripts": Entry(ArrayOf(Class("filespec"))),
        }
    ),
    "richmedia_deactivation": ClassDef(
        {
            "Type": Entry(Exact("RichMediaDeactivation")),
            # explicit action | page close | page invisible
            "Condition": Entry(
                OneOf((Exact("XD"), Exact("PC"), Exact("PI")))
            ),
        }
    ),
    "richmedia_presentation": ClassDef(
        {
            "Type": Entry(Exact("RichMediaPresentation")),
            "Style": Entry(OneOf((Exact("Embedded"), Exact("Windowed")))),
            "Window": Entry(DICT),
            "Transparent": Entry(BOOL),
            "NavigationPane": Entry(BOOL),
            "Toolbar": Entry(BOOL),
            "PassContextClick": Entry(BOOL),
        }
    ),
    # --- 3D artwork [PDF17 §13.6.3-13.6.5] ----------------------------------
    "threed_stream": ClassDef(
        {
            "Type": Entry(Exact("3D")),
            "Subtype": Entry(
                OneOf((Exact("U3D"), Exact("PRC"))), required=True
            ),
            "VA": Entry(ArrayOf(Class("threed_view"))),
            "DV": Entry(OneOf((INT, STRING, NAME, Class("threed_view")))),
            "Resources": Entry(Class("name_tree")),
            "OnInstantiate": Entry(STREAM),
            "AN": Entry(DICT),  # animation style
        },
        is_stream=True,
    ),
    "threed_ref": ClassDef(
        {
            "Type": Entry(Exact("3DRef")),
            "3DD": Entry(Class("threed_stream"), required=True),
        }
    ),
    "threed_view": ClassDef(
        {
            "Type": Entry(Exact("3DView")),
            "XN": Entry(STRING, required=True),  # external name
            "IN": Entry(STRING),                 # internal name
            "MS": Entry(OneOf((Exact("M"), Exact("U3D")))),
            "C2W": Entry(ArrayOf(NUMBER)),       # 12-number camera matrix
            "U3DPath": Entry(OneOf((STRING, ArrayOf(STRING)))),
            "CO": Entry(NUMBER),                 # center of orbit distance
            "P": Entry(DICT),                    # projection
            "O": Entry(STREAM),                  # overlay XObject
            "BG": Entry(DICT),                   # background
            "RM": Entry(DICT),                   # render mode
            "LS": Entry(DICT),                   # lighting scheme
            "SA": Entry(ARRAY),                  # node states
            "NA": Entry(ARRAY),
            "NR": Entry(BOOL),
        }
    ),
    "threed_activation": ClassDef(
        {
            "A": Entry(NAME),    # activation circumstance PO|PV|XA
            "AIS": Entry(NAME),  # artwork instantiation state I|L
            "D": Entry(NAME),    # deactivation PC|PI|XD
            "DIS": Entry(NAME),  # deactivation state U|I|L
            "TB": Entry(BOOL),   # toolbar
            "NP": Entry(BOOL),   # navigation panel
        }
    ),
    # --- sound object [PDF17 §13.3] ------------------------------------------
    "sound_stream": ClassDef(
        {
            "Type": Entry(Exact("Sound")),
            "R": Entry(NUMBER, required=True),  # sampling rate
            "C": Entry(INT),                    # channels
            "B": Entry(INT),                    # bits per sample
            "E": Entry(NAME),                   # encoding format
            "CO": Entry(NAME),
            "CP": Entry(ANY),
        }
    ),
    # --- movie activation [PDF17 §13.4 table 296] ----------------------------
    "movie_activation": ClassDef(
        {
            "Start": Entry(OneOf((INT, STRING, ARRAY))),
            "Duration": Entry(OneOf((INT, STRING, ARRAY))),
            "Rate": Entry(NUMBER),
            "Volume": Entry(NUMBER),
            "ShowControls": Entry(BOOL),
            "Mode": Entry(NAME),
            "Synchronous": Entry(BOOL),
            "FWScale": Entry(Tuple((INT, INT))),
            "FWPosition": Entry(Tuple((NUMBER, NUMBER))),
        }
    ),
    # --- Type 3 (user-defined glyph procedure) fonts [PDF17 §9.6.5] ----------
    "font_type3": ClassDef(
        {
            "Type": Entry(Exact("Font"), required=True),
            "Subtype": Entry(Exact("Type3"), required=True),
            "Name": Entry(NAME),
            "FontBBox": Entry(RECT, required=True),
            "Matrix": Entry(Tuple((NUMBER,) * 6)),
            "FontMatrix": Entry(Tuple((NUMBER,) * 6), required=True),
            "CharProcs": Entry(DictOf(STREAM), required=True),
            "Encoding": Entry(
                OneOf((NAME, Class("encoding"))), required=True
            ),
            "FirstChar": Entry(INT, required=True),
            "LastChar": Entry(INT, required=True),
            "Widths": Entry(ArrayOf(NUMBER), required=True),
            "FontDescriptor": Entry(Class("fontdescriptor")),
            "Resources": Entry(Class("resources")),
            "ToUnicode": Entry(STREAM),
        }
    ),
    # --- page-piece data [PDF17 §14.5] ---------------------------------------
    "piece_entry": ClassDef(
        {
            "LastModified": Entry(STRING, required=True),
            "Private": Entry(ANY),
        }
    ),
    # --- embedded go-to target [PDF17 §12.6.4.4 table 202] -------------------
    "gotoe_target": ClassDef(
        {
            "R": Entry(OneOf((Exact("P"), Exact("C"))), required=True),
            "N": Entry(STRING),
            "P": Entry(OneOf((INT, STRING))),
            "A": Entry(OneOf((INT, STRING))),
            "T": Entry(Class("gotoe_target")),  # recursive chain
        }
    ),
    # --- article-thread information dictionary [PDF17 §12.4.3] ---------------
    "thread_info": ClassDef(
        {
            "Title": Entry(STRING),
            "Author": Entry(STRING),
            "Subject": Entry(STRING),
            "Keywords": Entry(STRING),
            "CreationDate": Entry(STRING),
            "ModDate": Entry(STRING),
        }
    ),
    # --- optional-content usage [PDF17 §8.11.4.4 table 102] ------------------
    "ocg_usage": ClassDef(
        {
            "CreatorInfo": Entry(DICT),
            "Language": Entry(DICT),
            "Export": Entry(DICT),
            "Zoom": Entry(DICT),
            "Print": Entry(DICT),
            "View": Entry(Class("ocg_usage_view")),
            "User": Entry(DICT),
            "PageElement": Entry(DICT),
        }
    ),
    "ocg_usage_view": ClassDef(
        {
            "ViewState": Entry(NAME, required=True),
        }
    ),
    # --- document security store [PDF 2.0 §12.8.4.3] -------------------------
    "dss": ClassDef(
        {
            "Type": Entry(Exact("DSS")),
            "VRI": Entry(DictOf(Class("vri"))),
            "Certs": Entry(ArrayOf(STREAM)),
            "OCSPs": Entry(ArrayOf(STREAM)),
            "CRLs": Entry(ArrayOf(STREAM)),
        }
    ),
    "vri": ClassDef(
        {
            "Type": Entry(Exact("VRI")),
            "Cert": Entry(ArrayOf(STREAM)),
            "OCSP": Entry(ArrayOf(STREAM)),
            "CRL": Entry(ArrayOf(STREAM)),
            "TU": Entry(STRING),
            "TS": Entry(STREAM),
        }
    ),
    # --- OPI proxy [PDF17 §14.11.7] -------------------------------------------
    "opi": ClassDef(
        {
            "1.3": Entry(DICT),
            "2.0": Entry(Class("opi20")),
        }
    ),
    "opi20": ClassDef(
        {
            "Type": Entry(Exact("OPI")),
            "Version": Entry(NUMBER, required=True),
            "F": Entry(OneOf((STRING, Class("filespec"))), required=True),
            "MainImage": Entry(STRING),
            "CropRect": Entry(Tuple((INT,) * 4)),
            "Overprint": Entry(BOOL),
            "Inks": Entry(OneOf((NAME, ARRAY))),
            "Size": Entry(Tuple((NUMBER, NUMBER))),
        }
    ),
    # --- signature reference dictionaries [PDF17 §12.8.2 table 253] ----------
    # /Reference in a signature is an array of these; the transform method
    # discriminates which params class applies (caradoc types each MDP
    # variant's params separately — an /Action-less FieldMDP is an error).
    "sig_ref": ClassDef(
        {
            "Type": Entry(Exact("SigRef")),
            "TransformMethod": Entry(
                OneOf((Exact("DocMDP"), Exact("UR"), Exact("FieldMDP"))),
                required=True,
            ),
            "TransformParams": Entry(
                OneOf(
                    (
                        Class("transform_docmdp"),
                        Class("transform_ur"),
                        Class("transform_fieldmdp"),
                    )
                )
            ),
            "Data": Entry(ANY),
            "DigestMethod": Entry(NAME),
        }
    ),
    # The spec discriminates params by the SIBLING /TransformMethod, which
    # the per-value DSL cannot see; closing the three classes lets the
    # union probe discriminate by key-set instead (closed = exhaustive).
    # DocMDP params [table 254]: /P access level is exactly 1, 2 or 3
    "transform_docmdp": ClassDef(
        {
            "Type": Entry(Exact("TransformParams")),
            "P": Entry(OneOf((ExactInt(1), ExactInt(2), ExactInt(3)))),
            "V": Entry(NAME),
        },
        closed=True,
    ),
    # usage-rights params [table 255]
    "transform_ur": ClassDef(
        {
            "Type": Entry(Exact("TransformParams")),
            "Document": Entry(ArrayOf(NAME)),
            "Msg": Entry(STRING),
            "V": Entry(NAME),
            "Annots": Entry(ArrayOf(NAME)),
            "Form": Entry(ArrayOf(NAME)),
            "Signature": Entry(ArrayOf(NAME)),
            "EF": Entry(ArrayOf(NAME)),
            "P": Entry(BOOL),
        },
        closed=True,
    ),
    # FieldMDP params [table 256]: /Action required; Include/Exclude need
    # the field-name list
    "transform_fieldmdp": ClassDef(
        {
            "Type": Entry(Exact("TransformParams")),
            "Action": Entry(
                OneOf((Exact("All"), Exact("Include"), Exact("Exclude"))),
                required=True,
            ),
            "Fields": Entry(ArrayOf(STRING)),
            "V": Entry(NAME),
        },
        closed=True,
    ),
    # --- embedded CMap streams [PDF17 §9.7.5.3 table 120] --------------------
    # a Type0 font's /Encoding may be a predefined CMap NAME or an embedded
    # CMap stream; the stream form requires its own name + CIDSystemInfo
    "cmap_stream": ClassDef(
        {
            "Type": Entry(Exact("CMap")),
            "CMapName": Entry(NAME, required=True),
            "CIDSystemInfo": Entry(Class("cid_system_info"), required=True),
            "WMode": Entry(OneOf((ExactInt(0), ExactInt(1)))),
            "UseCMap": Entry(OneOf((NAME, Class("cmap_stream")))),
        },
        is_stream=True,
    ),
    # --- halftones [PDF17 §10.5 tables 128-132] -------------------------------
    # discriminated by exact /HalftoneType with per-type REQUIRED entries;
    # types 2/3/4 don't exist, so a dict matching no alternative is a type
    # error by construction (same exhaustive posture as shading/function)
    "halftone_type1": ClassDef(
        {
            "Type": Entry(Exact("Halftone")),
            "HalftoneType": Entry(ExactInt(1), required=True),
            "HalftoneName": Entry(STRING),
            "Frequency": Entry(NUMBER, required=True),
            "Angle": Entry(NUMBER, required=True),
            "SpotFunction": Entry(
                OneOf((NAME,) + _FUNC_ALTS), required=True
            ),
            "AccurateScreens": Entry(BOOL),
            "TransferFunction": Entry(OneOf((Exact("Identity"),) + _FUNC_ALTS)),
        }
    ),
    # type 5: one sub-halftone per colorant (open class — colorant names are
    # arbitrary keys) plus a REQUIRED /Default
    "halftone_type5": ClassDef(
        {
            "Type": Entry(Exact("Halftone")),
            "HalftoneType": Entry(ExactInt(5), required=True),
            "HalftoneName": Entry(STRING),
            "Default": Entry(
                OneOf(
                    (
                        Class("halftone_type1"),
                        Class("halftone_type6"),
                        Class("halftone_type10"),
                        Class("halftone_type16"),
                    )
                ),
                required=True,
            ),
        }
    ),
    "halftone_type6": ClassDef(
        {
            "Type": Entry(Exact("Halftone")),
            "HalftoneType": Entry(ExactInt(6), required=True),
            "HalftoneName": Entry(STRING),
            "Width": Entry(INT, required=True),
            "Height": Entry(INT, required=True),
            "TransferFunction": Entry(OneOf((Exact("Identity"),) + _FUNC_ALTS)),
        },
        is_stream=True,
    ),
    "halftone_type10": ClassDef(
        {
            "Type": Entry(Exact("Halftone")),
            "HalftoneType": Entry(ExactInt(10), required=True),
            "HalftoneName": Entry(STRING),
            "Xsquare": Entry(INT, required=True),
            "Ysquare": Entry(INT, required=True),
            "TransferFunction": Entry(OneOf((Exact("Identity"),) + _FUNC_ALTS)),
        },
        is_stream=True,
    ),
    "halftone_type16": ClassDef(
        {
            "Type": Entry(Exact("Halftone")),
            "HalftoneType": Entry(ExactInt(16), required=True),
            "HalftoneName": Entry(STRING),
            "Width": Entry(INT, required=True),
            "Height": Entry(INT, required=True),
            "Width2": Entry(INT),
            "Height2": Entry(INT),
            "TransferFunction": Entry(OneOf((Exact("Identity"),) + _FUNC_ALTS)),
        },
        is_stream=True,
    ),
    # --- media play parameters [PDF17 §13.2.5 tables 275-276] -----------------
    "media_play_params": ClassDef(
        {
            "Type": Entry(Exact("MediaPlayParams")),
            "PL": Entry(Class("media_players")),  # [table 273]
            "MH": Entry(Class("media_play_be")),
            "BE": Entry(Class("media_play_be")),
        }
    ),
    "media_play_be": ClassDef(
        {
            "V": Entry(INT),  # volume 0..100
            "C": Entry(BOOL),  # show controls
            "F": Entry(INT),  # fit style 0..5
            "D": Entry(Class("media_duration")),
            "A": Entry(BOOL),  # autoplay
            "RC": Entry(NUMBER),  # repeat count
        }
    ),
    # --- media players [PDF17 §13.2.7] --------------------------------------
    "media_players": ClassDef(
        {
            "Type": Entry(Exact("MediaPlayers")),
            "MU": Entry(ArrayOf(Class("media_player_info"))),  # must-use
            "A": Entry(ArrayOf(Class("media_player_info"))),   # may-use
            "NU": Entry(ArrayOf(Class("media_player_info"))),  # never-use
        }
    ),
    "media_player_info": ClassDef(
        {
            "Type": Entry(Exact("MediaPlayerInfo")),
            "PID": Entry(Class("software_identifier"), required=True),
            "MH": Entry(DICT),
            "BE": Entry(DICT),
        }
    ),
    "software_identifier": ClassDef(
        {
            "Type": Entry(Exact("SoftwareIdentifier")),
            "U": Entry(STRING, required=True),  # URI identifying the software
            "L": Entry(ARRAY),                  # lower version bound
            "LI": Entry(BOOL),
            "H": Entry(ARRAY),                  # upper version bound
            "HI": Entry(BOOL),
            "OS": Entry(ArrayOf(STRING)),       # operating systems
        }
    ),
    # --- web capture commands [PDF17 §14.10.5.2] ----------------------------
    "webcapture_command": ClassDef(
        {
            "URL": Entry(STRING, required=True),
            "L": Entry(INT),   # level
            "F": Entry(INT),   # flags
            "P": Entry(OneOf((STRING, STREAM))),  # POST data
            "CT": Entry(STRING),
            "H": Entry(STRING),  # additional headers
            "S": Entry(DICT),    # command settings
        }
    ),
    # --- alternate images [PDF17 §8.9.5.4] ----------------------------------
    "alternate_image": ClassDef(
        {
            "Image": Entry(Class("xobject_image"), required=True),
            "DefaultForPrinting": Entry(BOOL),
            "OC": Entry(DICT),
        }
    ),
    # --- media selection criteria [PDF17 §13.2.4.2, tables 268-270] ---------
    "media_criteria": ClassDef(
        {
            "Type": Entry(Exact("MediaCriteria")),
            "A": Entry(BOOL),  # audio descriptions required
            "C": Entry(BOOL),  # text captions required
            "O": Entry(BOOL),  # audio overdubs required
            "S": Entry(BOOL),  # subtitles required
            "R": Entry(INT),   # minimum bit rate (bits/s)
            "D": Entry(Class("min_bit_depth")),
            "Z": Entry(Class("min_screen_size")),
            "V": Entry(ArrayOf(Class("software_identifier"))),  # viewers
            # PDF version range: [min] or [min max]
            "P": Entry(OneOf((Tuple((NAME,)), Tuple((NAME, NAME))))),
            "L": Entry(ArrayOf(STRING)),  # languages (RFC 3066)
        }
    ),
    "min_bit_depth": ClassDef(
        {
            "Type": Entry(Exact("MinBitDepth")),
            "V": Entry(INT, required=True),  # ≥0; 0 = no constraint
            "M": Entry(INT),                 # monitor index
        }
    ),
    "min_screen_size": ClassDef(
        {
            "Type": Entry(Exact("MinScreenSize")),
            "V": Entry(Tuple((INT, INT)), required=True),
            "M": Entry(INT),
        }
    ),
    # --- media permissions / durations / offsets [PDF17 §13.2.5-13.2.6] ----
    "media_permissions": ClassDef(
        {
            "Type": Entry(Exact("MediaPermissions")),
            # TEMPNEVER | TEMPEXTRACT | TEMPACCESS | TEMPALWAYS (string,
            # not name — table 275)
            "TF": Entry(STRING),
        }
    ),
    "media_duration": ClassDef(
        {
            "Type": Entry(Exact("MediaDuration")),
            "S": Entry(
                OneOf((Exact("I"), Exact("F"), Exact("T"))), required=True
            ),
            "T": Entry(Class("timespan")),  # required when /S /T
        }
    ),
    "timespan": ClassDef(
        {
            "Type": Entry(Exact("Timespan")),
            "S": Entry(Exact("S"), required=True),
            "V": Entry(NUMBER, required=True),  # seconds
        }
    ),
    # tables 276-279 merged: /S discriminates time (/T timespan), frame
    # (/F int ≥0) and marker (/M string) offsets — same union-with-
    # discriminator shape the action family uses
    "media_offset": ClassDef(
        {
            "Type": Entry(Exact("MediaOffset")),
            "S": Entry(
                OneOf((Exact("T"), Exact("F"), Exact("M"))), required=True
            ),
            "T": Entry(Class("timespan")),
            "F": Entry(INT),
            "M": Entry(STRING),
        }
    ),
    # --- media screen parameters [PDF17 §13.2.8, tables 284-286] -----------
    "media_screen_params": ClassDef(
        {
            "Type": Entry(Exact("MediaScreenParams")),
            "MH": Entry(Class("media_screen_be")),
            "BE": Entry(Class("media_screen_be")),
        }
    ),
    "media_screen_be": ClassDef(
        {
            "W": Entry(INT),  # window type 0-3 (floating/fullscreen/...)
            "B": Entry(Tuple((NUMBER, NUMBER, NUMBER))),  # background RGB
            "O": Entry(NUMBER),  # opacity 0.0-1.0
            "M": Entry(INT),     # monitor specifier
            "F": Entry(Class("floating_window")),
        }
    ),
    "floating_window": ClassDef(
        {
            "Type": Entry(Exact("FWParams")),
            "D": Entry(Tuple((INT, INT)), required=True),  # [width height]
            "RT": Entry(INT),  # relative-to 0-3
            "P": Entry(INT),   # position 0-8
            "O": Entry(INT),   # off-screen policy 0-2
            "T": Entry(BOOL),  # title bar
            "UC": Entry(BOOL),  # user-closeable
            "R": Entry(INT),   # resize policy 0-2
            "TT": Entry(ArrayOf(STRING)),  # multilanguage titles
        }
    ),
    # per-rendition MH/BE holder [PDF17 table 272]: the only entry is the
    # selection-criteria dict
    "rendition_be": ClassDef(
        {
            "C": Entry(Class("media_criteria")),
        }
    ),
    # media-clip MH/BE holder: MCD carries /BU (base URL, table 266), MCS
    # carries /B and /E section offsets (table 267) — merged like the clip
    # class itself
    "media_clip_be": ClassDef(
        {
            "BU": Entry(STRING),
            "B": Entry(Class("media_offset")),
            "E": Entry(Class("media_offset")),
        }
    ),
    # --- annotation border dictionaries [PDF17 §12.5.4, tables 166-167] ----
    "border_style": ClassDef(
        {
            "Type": Entry(Exact("Border")),
            "W": Entry(NUMBER),
            # S | D | B | I | U; other names shall be treated as /S, so
            # the entry stays an open NAME (per table 166 note)
            "S": Entry(NAME),
            "D": Entry(ArrayOf(NUMBER)),  # dash array
        }
    ),
    "border_effect": ClassDef(
        {
            "S": Entry(OneOf((Exact("S"), Exact("C")))),  # solid | cloudy
            "I": Entry(NUMBER),  # cloud intensity 0-2
        }
    ),
    # --- reference XObjects [PDF17 §8.10.4, table 98] -----------------------
    "ref_xobject": ClassDef(
        {
            "F": Entry(
                OneOf((STRING, Class("filespec"))), required=True
            ),
            "Page": Entry(OneOf((INT, STRING)), required=True),
            "ID": Entry(Tuple((STRING, STRING))),
        }
    ),
    # --- collection items [PDF17 §7.11.6, tables 57-58]: keys other than
    # /Type are the collection schema's field names; values are typed via
    # ``rest`` (string/number data or a subitem carrying a sort prefix)
    "collection_item": ClassDef(
        {
            "Type": Entry(Exact("CollectionItem")),
        },
        rest=OneOf((STRING, NUMBER, Class("collection_subitem"))),
    ),
    "collection_subitem": ClassDef(
        {
            "Type": Entry(Exact("CollectionSubitem")),
            "D": Entry(OneOf((STRING, NUMBER))),  # the data value
            "P": Entry(STRING),                   # display prefix
        }
    ),
    # --- web capture content sets [PDF17 §14.10.4, tables 349-352] ----------
    # page sets (SPS) and image sets (SIS) discriminate on /S exactly like
    # the shading/action families; they are the values of the catalog's
    # /Names /IDS and /URLS name trees
    "webcapture_pageset": ClassDef(
        {
            "Type": Entry(Exact("SpiderContentSet")),
            "S": Entry(Exact("SPS"), required=True),
            "ID": Entry(STRING, required=True),  # MD5 digest string
            "O": Entry(ArrayOf(Class("page")), required=True),
            "SI": Entry(
                OneOf((
                    Class("webcapture_sourceinfo"),
                    ArrayOf(Class("webcapture_sourceinfo")),
                )),
                required=True,
            ),
            "CT": Entry(STRING),
            "TS": Entry(STRING),  # timestamp (date string)
            "T": Entry(STRING),   # title
            "TID": Entry(STRING),  # thumbnail-digest
        }
    ),
    "webcapture_imageset": ClassDef(
        {
            "Type": Entry(Exact("SpiderContentSet")),
            "S": Entry(Exact("SIS"), required=True),
            "ID": Entry(STRING, required=True),
            "O": Entry(ArrayOf(Class("xobject_image")), required=True),
            "SI": Entry(
                OneOf((
                    Class("webcapture_sourceinfo"),
                    ArrayOf(Class("webcapture_sourceinfo")),
                )),
                required=True,
            ),
            "CT": Entry(STRING),
            "TS": Entry(STRING),
            "R": Entry(OneOf((INT, ArrayOf(INT))), required=True),
        }
    ),
    "webcapture_sourceinfo": ClassDef(
        {
            "AU": Entry(
                OneOf((STRING, Class("url_alias"))), required=True
            ),
            "TS": Entry(STRING),  # last-change timestamp
            "E": Entry(STRING),   # expiration
            "S": Entry(INT),      # submission form type 0-2
            "C": Entry(Class("webcapture_command")),
        }
    ),
    "url_alias": ClassDef(
        {
            "U": Entry(STRING, required=True),
            # chains of URLs that redirected/aliased to /U
            "C": Entry(ArrayOf(ArrayOf(STRING))),
        }
    ),
    # value-typed name tree for /IDS and /URLS: alternating [key STRING,
    # content set] — same shape as name_tree_files for /EmbeddedFiles
    "name_tree_capture": ClassDef(
        {
            "Kids": Entry(ArrayOf(Class("name_tree_capture"))),
            "Names": Entry(ArrayOf(OneOf((
                STRING,
                Class("webcapture_pageset"),
                Class("webcapture_imageset"),
            )))),
            "Limits": Entry(Tuple((STRING, STRING))),
        }
    ),
}


@dataclass(slots=True)
class TypeResult:
    assignments: dict = dc_field(default_factory=dict)  # (num,gen) → class name
    errors: list = dc_field(default_factory=list)
    strict_ok: bool = True


def _render(parent, seg) -> str:
    """A lazy path as text: ``_render(((None, "trailer/Root"), "Kids"), 0)``
    is ``"trailer/Root/Kids[0]"``."""
    segs = []
    while parent is not None:
        segs.append(f"[{seg}]" if seg.__class__ is int else f"/{seg}")
        parent, seg = parent
    return seg + "".join(reversed(segs))


class _Run:
    """One ``check_types`` run: what compiled checks report into."""

    __slots__ = ("objects", "strict", "res", "worklist", "enqueued")

    def __init__(self, objects, strict):
        self.objects, self.strict, self.res = objects, strict, TypeResult()
        self.worklist, self.enqueued = deque(), set()

    def enqueue(self, key, check, cls, path):
        if (key, check) not in self.enqueued:  # one check per type expression
            self.enqueued.add((key, check))
            self.worklist.append((key, check, cls, path))

    def err(self, code, parent, seg, key, msg):
        path = _render(parent, seg)
        self.res.errors.append(PdfError(code, obj=key, path=path, msg=msg))
        self.res.strict_ok = False

    def miss(self, v, check, cls, parent, seg, key, msg):
        """Off shape: a Ref is enqueued under this check, anything else mismatches."""
        if v.__class__ is Ref:
            self.enqueue((v.num, v.gen), check, cls, (parent, seg))
        else:
            self.err("type.mismatch", parent, seg, key, msg)


class _AllButRef(frozenset):
    def __contains__(self, cls):
        return cls is not Ref


# value classes per primitive kind; parsed values are exactly these classes
# (no subclasses, and bool is not int), so a class test stands in for isinstance
_PRIM_TYPES = {
    "any": _AllButRef(), "bool": {bool}, "int": {int}, "number": {int, Real},
    "string": {bytes}, "name": {Name}, "null": {type(None)},
    "dict": {dict, Stream}, "array": {list}, "stream": {Stream},
}
_COMPILED: dict = {}  # type expression → (fits, check)


def _compiled(t) -> tuple:
    return _COMPILED[t] if t in _COMPILED else _COMPILED.setdefault(t, _compile(t))


def _consts(alts):
    """Is a value one of these ``Exact``/``ExactInt`` constants?"""
    names = {a.name for a in alts if isinstance(a, Exact)}
    ints = {a.n for a in alts if isinstance(a, ExactInt)}
    return lambda v: (
        v.v in names if v.__class__ is Name else v.__class__ is int and v in ints
    )


def _compile(t) -> tuple:
    """``t`` as (fits, check): ``fits(v)`` is the pure shape predicate a union
    probes its alternatives with (a Ref fits a class, primitive or union and
    nothing else); ``check(v, parent, seg, objkey, run)`` checks ``v`` fully."""
    if isinstance(t, Prim):
        types, msg = _PRIM_TYPES.get(t.kind, ()), f"expected {t}"

        def check(v, parent, seg, key, run):
            if v.__class__ not in types:
                run.miss(v, check, None, parent, seg, key, msg)
        return (lambda v: v.__class__ in types or v.__class__ is Ref), check
    if isinstance(t, (Exact, ExactInt)):
        ok, msg = _consts((t,)), f"expected {t}"

        def check(v, parent, seg, key, run):
            if not ok(v):
                run.miss(v, check, None, parent, seg, key, msg)
        return ok, check
    if isinstance(t, (ArrayOf, DictOf)):
        efits, echeck = _compiled(t.elem)
        shape = list if isinstance(t, ArrayOf) else dict
        msg = "expected array" if shape is list else "expected dict"

        def check(v, parent, seg, key, run):
            body = v.d if v.__class__ is Stream else v
            if body.__class__ is not shape:
                return run.miss(v, check, None, parent, seg, key, msg)
            path = (parent, seg)
            for k, x in enumerate(body) if shape is list else body.items():
                echeck(x, path, k, key, run)
        if shape is list:
            return (lambda v: v.__class__ is list and all(map(efits, v))), check
        return (lambda v: v.__class__ in (dict, Stream)), check
    if isinstance(t, Tuple):
        fs, cs = zip(*map(_compiled, t.elems))
        n, msg = len(cs), f"expected {len(cs)}-tuple"

        def check(v, parent, seg, key, run):
            if v.__class__ is not list or len(v) != n:
                return run.miss(v, check, None, parent, seg, key, msg)
            path = (parent, seg)
            for i, (c, x) in enumerate(zip(cs, v)):
                c(x, path, i, key, run)
        return (lambda v: v.__class__ is list and len(v) == n
                and all(f(x) for f, x in zip(fs, v))), check
    if isinstance(t, OneOf):
        alts = [_compiled(a) for a in t.alts]

        def check(v, parent, seg, key, run):
            # a Ref waits for the worklist; else the first alternative that fits
            if v.__class__ is Ref:
                return run.miss(v, check, None, parent, seg, key, "")
            for f, c in alts:
                if f(v):
                    return c(v, parent, seg, key, run)
            run.err("type.mismatch", parent, seg, key, "no union alternative matched")
        return (lambda v: v.__class__ is Ref or any(f(v) for f, _ in alts)), check
    if isinstance(t, Class):
        return _compile_class(t.name)
    raise TypeError(f"not a type expression: {t!r}")


def _compile_class(name: str) -> tuple:
    cd = TYPEDEFS[name]
    names, closed, is_stream = set(cd.entries), cd.closed, cd.is_stream
    # its constant entries (/Type, /Subtype, /PatternType, …; a union of
    # constants like mesh /ShadingType {4,6,7}): how a union of classes
    # picks its alternative without backtracking
    discs = []
    for k, e in cd.entries.items():
        alts = e.t.alts if isinstance(e.t, OneOf) else (e.t,)
        if alts and all(isinstance(a, (Exact, ExactInt)) for a in alts):
            discs.append((k, e.required, _consts(alts)))

    def fits(v):
        if v.__class__ is Ref:
            return True
        body = v.d if v.__class__ is Stream else v
        if body.__class__ is not dict or (is_stream and v.__class__ is not Stream):
            return False
        # a closed class declares its entries exhaustively, so an
        # undeclared key rules the alternative out — this lets unions of
        # same-shape param dicts (signature transform params) discriminate
        # by key set when no constant entry distinguishes them
        if closed and not names.issuperset(body):
            return False
        for k, required, const in discs:
            if (required or k in body) and not const(body.get(k)):
                return False
        return True

    def check(v, parent, seg, key, run):
        body = v.d if v.__class__ is Stream else v
        if body.__class__ is not dict:
            return run.miss(v, check, name, parent, seg, key, f"expected {name} dict")
        # record the assignment when v is the root of an indirect object
        if key is not None and run.objects.get(key) is v:
            prev = run.res.assignments.setdefault(key, name)
            if prev != name and not _class_compatible(prev, name):
                return run.err("type.conflict", parent, seg, key, f"{prev} vs {name}")
        if is_stream and v.__class__ is not Stream:
            run.err("type.mismatch", parent, seg, key, f"{name} must be a stream")
        path = (parent, seg)
        missing = required and not body.keys() >= required
        for k, c in checks.items():
            if k in body:
                c(body[k], path, k, key, run)
            elif missing and k in required:
                run.err("type.missing_required", path, k, key, name)
        if rest is not None or (closed and run.strict):
            for k in [k for k in body if k not in names]:
                if rest is not None:
                    rest(body[k], path, k, key, run)
                else:
                    run.err("type.unknown_entry", path, k, key, name)

    # memoised before its entries compile: classes refer to each other
    _COMPILED[Class(name)] = fits, check
    checks = {k: _compiled(e.t)[1] for k, e in cd.entries.items()}
    required = {k for k, e in cd.entries.items() if e.required}
    rest = None if cd.rest is None else _compiled(cd.rest)[1]
    return fits, check


_CHECK = {name: _compiled(Class(name))[1] for name in TYPEDEFS}
_ID_CHECK = _compiled(Tuple((STRING, STRING)))[1]
# a structural object's class and the root of its path, by what marks it
_STRUCTURAL = {
    "XRef": ("xref_stream", "xref/XRef"), "ObjStm": ("objstm", "xref/ObjStm"),
    "Linearized": ("linearized", "linearized"),
}


def check_types(doc, strict: bool = False) -> TypeResult:
    """Worklist BFS from the trailer; see module docstring."""
    run = _Run(doc.objects, strict)
    # seed from the trailer (the virtual root, as in caradoc's checker)
    trailer = doc.trailer
    for k, cls in (("Root", "catalog"), ("Info", "info"), ("Encrypt", "encrypt")):
        v = trailer.get(k)
        if v.__class__ is Ref:
            run.enqueue((v.num, v.gen), _CHECK[cls], cls, (None, f"trailer/{k}"))
        elif k == "Root":
            run.err("type.missing_required", None, "trailer/Root", None, "catalog")
        elif k == "Encrypt" and v.__class__ is dict:
            _CHECK[cls](v, None, "trailer/Encrypt", None, run)
    if trailer.get("ID") is not None:
        _ID_CHECK(trailer["ID"], None, "trailer/ID", None, run)
    _drain(run)

    # structural stream dicts (xref streams, object streams) are reached
    # through the xref machinery, not the object graph — the BFS never
    # visits them, but caradoc types them all the same
    for key in sorted(doc.structural):
        if key not in run.res.assignments:
            cls, root = _STRUCTURAL[doc.structural[key]]
            run.enqueue(key, _CHECK[cls], cls, (None, root))
    _drain(run)
    return run.res


def _drain(run) -> None:
    worklist, objects, assignments = run.worklist, run.objects, run.res.assignments
    guard = 0
    while worklist and guard < 1_000_000:
        guard += 1
        key, check, cls, (parent, seg) = worklist.popleft()
        obj = objects.get(key)
        if obj is None:
            # dangling refs are already reported by the graph pass
            continue
        if cls is not None:
            prev = assignments.get(key)
            if prev is not None and prev != cls:
                # two referrers disagree — caradoc intersects; we report
                if not _class_compatible(prev, cls):
                    run.err("type.conflict", parent, seg, key, f"{prev} vs {cls}")
                continue
            assignments[key] = cls
        check(obj, parent, seg, key, run)


_COMPATIBLE = {
    ("pages", "page"), ("page", "pages"),
    # a merged field+widget dict is legitimately referenced from both
    # AcroForm /Fields and the page's /Annots [PDF17 §12.7.1]
    ("field", "annot_widget"), ("annot_widget", "field"),
    ("annot", "annot_widget"), ("annot_widget", "annot"),
    # composite-font dispatch: generic referrers may still say "font"
    ("font", "font_type0"), ("font_type0", "font"),
    ("font", "font_cid"), ("font_cid", "font"),
}


def _class_compatible(a: str, b: str) -> bool:
    return (a, b) in _COMPATIBLE or (
        a.startswith("annot") and b.startswith("annot")
    )
