"""Engine unit + golden + property tests (SURVEY.md §5.2 layers 1–3).

No Spark session needed here — per-document functions on raw bytes.
"""

from __future__ import annotations

import json
import pathlib
import random

import pytest
from hypothesis import given, settings, strategies as st

from caraspark.pdfengine import process_document
from caraspark.pdfengine.lexer import KIND_NAMES, tokens
from caraspark.pdfengine.model import Name, Real, Ref, canonical_json, from_canonical, to_canonical
from caraspark.pdfengine.parser import parse_object
from caraspark.pdfengine.filters import _run_length, decode_stream
from caraspark.synth import HTML_RECIPES, PDF_RECIPES
from oracle import oracle_extract

GOLDEN = pathlib.Path(__file__).parent / "golden"


def _blob(name: str) -> bytes:
    if name in HTML_RECIPES:
        return HTML_RECIPES[name](random.Random("42:0"))
    return PDF_RECIPES[name]()


ALL_RECIPES = sorted(list(PDF_RECIPES) + list(HTML_RECIPES))


# --- layer 2: committed byte goldens ---------------------------------------


@pytest.mark.parametrize("name", ALL_RECIPES)
def test_golden_text_bytes(name):
    r = process_document(_blob(name))
    golden = (GOLDEN / name / "text.bin").read_bytes()
    assert r.text == golden, f"{name}: engine text diverged from golden"


@pytest.mark.parametrize("name", ALL_RECIPES)
def test_golden_verdict(name):
    r = process_document(_blob(name))
    v = json.loads((GOLDEN / name / "verdict.json").read_text())
    assert r.valid == v["valid"]
    assert r.strict == v["strict"]
    assert sorted({e.code for e in r.errors}) == sorted(
        {e["code"] for e in v["errors"]}
    )
    assert r.n_objects == v["n_objects"]
    assert r.n_updates == v["n_updates"]
    assert r.n_holes == v["n_holes"]
    assert r.type_assignments == v["types"]


@pytest.mark.parametrize("name", ALL_RECIPES)
def test_oracle_second_witness(name):
    """For every relaxed-VALID doc the independent oracle must reproduce the
    golden bytes — the north_rule byte-identity invariant, doubly witnessed."""
    blob = _blob(name)
    r = process_document(blob)
    if not r.valid:
        pytest.skip("oracle's xref-free scan is only faithful on valid docs")
    if r.encrypted:
        pytest.skip("the oracle witnesses plaintext extraction only")
    assert oracle_extract(blob) == (GOLDEN / name / "text.bin").read_bytes()


# --- expected taxonomy anchors (FIXTURES.md §3.1 table) ---------------------

EXPECTED_CODES = {
    "pdf_bad_xref_offset": "xref.bad_offset",
    "pdf_len_mismatch": "stream.length_mismatch",
    "pdf_dangling_ref": "graph.dangling_ref",
    "pdf_pages_cycle": "graph.cycle",
    "pdf_overlap": "file.overlap",
    "pdf_junk_header": "file.junk_before_header",
    "pdf_prev_loop": "xref.prev_cycle",
    "pdf_int_overflow": "lex.int_overflow",
    "pdf_deep_nest": "resource.depth_limit",
    "pdf_type_err": "type.mismatch",
    "pdf_truncated": "xref.no_startxref",
    "pdf_bad_a85": "filter.ascii85_error",
}


@pytest.mark.parametrize("name,code", sorted(EXPECTED_CODES.items()))
def test_taxonomy_anchor(name, code):
    r = process_document(_blob(name))
    assert code in {e.code for e in r.errors}


def test_valid_docs_are_valid():
    for name in ("pdf_minimal", "pdf_flate", "pdf_xrefstream", "pdf_objstm",
                 "pdf_updated", "pdf_hybrid", "pdf_holes"):
        r = process_document(_blob(name))
        assert r.valid, f"{name} should be relaxed-valid: {r.errors[:3]}"


# --- layer 1: unit ----------------------------------------------------------


def _lex_all(data: bytes, strict: bool = False):
    """Every token as (kind name, value, start), plus the lex errors."""
    errors: list = []
    out = [
        (KIND_NAMES[kind], v, start)
        for kind, v, start, _ in tokens(data, strict=strict, errors=errors)
    ]
    return out, errors


def test_lexer_tokens():
    toks, errs = _lex_all(
        rb"/Name#20x 42 -3.5 (lit\)eral) <48656C6C6F> [ ] << >> true null R"
    )
    kinds = [t[0] for t in toks]
    assert kinds == ["name", "int", "real", "str", "hexstr", "[", "]",
                     "<<", ">>", "kw", "kw", "kw"]
    assert toks[0][1] == "Name x"
    assert toks[3][1] == b"lit)eral"
    assert toks[4][1] == b"Hello"
    assert not errs


def test_lexer_string_escapes():
    toks, _ = _lex_all(rb"(a\nb\053c\(d\) e\
f)")
    assert toks[0][1] == b"a\nb+c(d) e" + b"f"


def test_lexer_int_overflow():
    toks, errs = _lex_all(b"99999999999999999999")
    assert toks[0][0] == "real"
    assert errs and errs[0].code == "lex.int_overflow"


def test_parse_nested():
    errors = []
    obj, _ = parse_object(b"<< /A [1 2 (x)] /B << /C 3 0 R >> /D null >>", 0, errors)
    assert obj == {
        "A": [1, 2, b"x"],
        "B": {"C": Ref(3, 0)},
        "D": None,
    }
    assert not errors


def test_lexer_nested_and_escaped_strings_fold_eols():
    toks, errs = _lex_all(b"(a(b)c) (x\\)y) (l1\rl2\r\nl3\nl4) (p\\\r\nq)")
    assert [t[1] for t in toks] == [b"a(b)c", b"x)y", b"l1\nl2\nl3\nl4", b"pq"]
    assert [t[0] for t in toks] == ["str"] * 4
    assert [t[2] for t in toks] == [0, 8, 15, 30]
    assert not errs


def test_lexer_odd_hex_with_whitespace_is_strict_only_error():
    for data in (b"<48 6\n>", b"<486>"):
        toks, errs = _lex_all(data, strict=True)
        assert toks == [("hexstr", b"\x48\x60", 0)]
        assert [(e.code, e.pos) for e in errs] == [("lex.hexstring_odd", 0)]
        assert _lex_all(data)[1] == []
    toks, errs = _lex_all(b"<4z8>")
    assert toks == [("hexstr", b"\x48", 0)]
    assert [(e.code, e.pos) for e in errs] == [("lex.hexstring_bad_char", 2)]


def test_lexer_stray_paren_and_gt_are_keywords():
    toks, errs = _lex_all(b") > >>")
    assert toks == [("kw", b")", 0), ("kw", b">", 2), (">>", None, 4)]
    assert [(e.code, e.pos) for e in errs] == [
        ("lex.unbalanced_paren", 0),
        ("lex.stray_gt", 2),
    ]


def test_int_int_r_split_by_comments():
    obj, end = parse_object(b"[1 % one\n0 %zero\n R 7]", 0, [])
    assert obj == [Ref(1, 0), 7]
    assert end == 22


def test_name_hex_escapes():
    toks, errs = _lex_all(b"/A#42C /Sp#20ace /Bad#zz /End#")
    assert [t[1] for t in toks] == ["ABC", "Sp ace", "Bad#zz", "End#"]
    # a bad escape is kept literally; a final '#' is no escape at all
    assert [(e.code, e.pos) for e in errs] == [("lex.name_bad_escape", 21)]


def test_object_ends_at_its_endobj_not_at_the_lookahead():
    """``int int R`` lookahead must neither extend the object past
    ``endobj`` nor record lex errors for bytes outside it."""
    from caraspark.pdfengine.parser import parse_indirect_object

    errors = []
    num, gen, body, end = parse_indirect_object(b"1 0 obj 5 endobj\n)junk", 0, errors)
    assert (num, gen, body, end) == (1, 0, 5, 16)
    assert errors == []


@pytest.mark.parametrize("length_last", [True, False])
def test_integer_length_object_is_no_overlap(length_last):
    """A stream whose /Length is an indirect integer object: valid and
    strict, whether that object comes last or before another object."""
    from caraspark.synth import _assemble, _obj

    content = b"BT (Hello World) Tj ET"
    length_num, stream_num = (5, 4) if length_last else (4, 5)
    bodies = {
        1: _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        2: _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        3: _obj(
            3,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R >>" % stream_num,
        ),
        stream_num: b"%d 0 obj\n<< /Length %d 0 R >>\nstream\n%s\nendstream\nendobj\n"
        % (stream_num, length_num, content),
        length_num: _obj(length_num, b"%d" % len(content)),
    }
    r = process_document(_assemble(bodies))
    assert not any(e.code == "file.overlap" for e in r.errors), r.errors_as_rows()
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.text == b"Hello World"


def test_missing_endobj_lexes_only_to_the_next_header(monkeypatch):
    """Tokenizing stops at the first keyword the body grammar cannot
    consume: an object without ``endobj`` reads up to the next header,
    not through the 10^4 objects after it."""
    from caraspark.pdfengine import lexer
    from caraspark.pdfengine.parser import parse_indirect_object

    class CountingRegex:
        def __init__(self, rx):
            self.rx, self.n = rx, 0

        def match(self, *args):
            self.n += 1
            return self.rx.match(*args)

    data = b"1 0 obj << /A 1 >>\n" + b"".join(
        b"%d 0 obj << /B %d >> endobj\n" % (k, k) for k in range(2, 10_002)
    )
    counting = CountingRegex(lexer.TOKEN_RE)
    monkeypatch.setattr(lexer, "TOKEN_RE", counting)
    errors = []
    num, gen, body, end = parse_indirect_object(data, 0, errors)
    assert (num, gen, body) == (1, 0, {"A": 1})
    assert end == data.index(b"2 0 obj")
    assert [e.code for e in errors] == ["obj.missing_endobj"]
    assert counting.n <= 10


_INLINE_IMAGE_CONTENT = (
    b"BT (before) Tj ET\n"
    b"BI /W 4 /H 1 /BPC 8 /CS /G ID \x01(Tj) Tj)EIx EI\n"
    b"BT (after) Tj ET"
)


def test_inline_image_bytes_skipped_by_text_machine():
    from caraspark.pdfengine.textextract import extract_page_text
    from oracle.text_oracle import _page_text

    text = extract_page_text(_INLINE_IMAGE_CONTENT, [])
    assert text == "before\nafter"
    assert text == _page_text(_INLINE_IMAGE_CONTENT)


def test_inline_image_bytes_skipped_by_op_histogram():
    from caraspark.pdfengine.document import load_document
    from caraspark.pdfengine.textextract import content_op_histogram
    from caraspark.synth import _assemble, _base_objects

    doc = load_document(_assemble(_base_objects(_INLINE_IMAGE_CONTENT)))
    hist = {row["op"]: row["n"] for row in content_op_histogram(doc)}
    assert hist == {"BT": 2, "ET": 2, "Tj": 2, "BI": 1, "ID": 1, "EI": 1}


def test_real_tj_kern_is_a_space():
    """A real-valued TJ kern past the threshold opens a space like an
    integer one (SPEC: "a numeric kern element")."""
    from caraspark.pdfengine.textextract import extract_page_text
    from oracle.text_oracle import _page_text

    content = b"BT [(a) -250.5 (b) -250 (c) -.5 (d)] TJ ET"
    assert extract_page_text(content, []) == "a b cd"
    assert _page_text(content) == "a b cd"


def test_canonical_roundtrip():
    obj = {"A": [1, Real("-.5"), b"\x00\xff", Name("N"), Ref(7, 0)], "Z": True}
    j = canonical_json(obj)
    assert from_canonical(json.loads(j)) == obj


def test_runlength_protocol():
    # literal(3) 'abc', repeat 'z' x4, EOD
    data = bytes([2]) + b"abc" + bytes([253]) + b"z" + bytes([128])
    assert _run_length(data) == b"abczzzz"


def test_lzw_decode_basic():
    from caraspark.pdfengine.filters import _lzw
    from caraspark.synth import _lzw_encode

    assert _lzw(_lzw_encode(b"Hello World")) == b"Hello World"
    assert _lzw(_lzw_encode(b"")) == b""
    assert _lzw(_lzw_encode(b"aaaaaaaaaa")) == b"aaaaaaaaaa"  # KwKwK path


def test_lzw_earlychange_is_live():
    """The wide fixture crosses the 9->10-bit width boundary; decoding with
    the wrong EarlyChange must NOT reproduce the input (proves the width
    logic actually fires, not just dead config)."""
    from caraspark.pdfengine.filters import _lzw
    from caraspark.synth import _lzw_encode

    content = (" ".join(f"w{i:03d}" for i in range(300))).encode()
    enc = _lzw_encode(content, early=1)
    assert _lzw(enc, early=1) == content
    try:
        assert _lzw(enc, early=0) != content
    except ValueError:
        pass  # desync may also surface as a bad code — equally fine


def test_lzw_decodeparms_earlychange_zero():
    from caraspark.pdfengine.filters import decode_stream
    from caraspark.synth import _lzw_encode

    content = (" ".join(f"t{i}" for i in range(400))).encode()
    errors = []
    out = decode_stream(
        _lzw_encode(content, early=0),
        {"Filter": Name("LZWDecode"), "DecodeParms": {"EarlyChange": 0}},
        errors,
    )
    assert out == content and not errors


@settings(max_examples=80, deadline=None)
@given(st.binary(min_size=0, max_size=6000))
def test_lzw_engine_oracle_differential(data):
    """Two independent decoders (engine: 3-byte window per code + list
    table; oracle: bit-by-bit cursor + dict table) agree on every encoder
    output."""
    from caraspark.pdfengine.filters import _lzw
    from caraspark.synth import _lzw_encode
    from oracle.text_oracle import _decode as oracle_decode

    enc = _lzw_encode(data)
    assert _lzw(enc) == data
    assert oracle_decode(enc, {"Filter": "LZWDecode"}, {}) == data


def test_filter_chain_error_is_taxonomy_not_exception():
    errors = []
    out = decode_stream(b"not-zlib", {"Filter": Name("FlateDecode")}, errors)
    assert out is None
    assert errors and errors[0].code.startswith("filter.")


@pytest.mark.parametrize("want", [(), None], ids=["stats", "all"])
@pytest.mark.parametrize(
    "entries,flate",
    [
        (b"/Filter 5", False),
        (b"/Filter 1.5", False),
        (b"/Filter true", False),
        (b"/Filter /FlateDecode /DecodeParms 7", True),
    ],
)
def test_non_name_filter_or_parms_is_data_not_exception(entries, flate, want):
    """A /Filter that is neither a name nor an array is a taxonomy error; a
    /DecodeParms that is neither a dict nor an array applies to every filter
    and, not being a dict, sets no predictor."""
    import zlib

    from caraspark.synth import CONTENT_HELLO, _assemble, _base_objects

    content = zlib.compress(CONTENT_HELLO) if flate else CONTENT_HELLO
    r = process_document(_assemble(_base_objects(content, entries)), want=want)
    codes = {e.code for e in r.errors}
    if flate:
        assert not codes and r.strict
        assert want == () or r.text == b"Hello World"
    else:
        assert "filter.bad_filter_entry" in codes and not r.strict
        assert want == () or "extract.content_undecoded" in codes


# --- layer 3: property-based ------------------------------------------------


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_lexer_total_on_garbage(data):
    """Caradoc's termination guarantee, ported: any bytes lex to EOF."""
    toks, _ = _lex_all(data)
    assert isinstance(toks, list)


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 2**32 - 1))
def test_process_total_on_mutations(seed):
    """Random byte mutations of a valid PDF never raise or hang."""
    rng = random.Random(seed)
    blob = bytearray(PDF_RECIPES["pdf_minimal"]())
    for _ in range(rng.randrange(1, 12)):
        blob[rng.randrange(len(blob))] = rng.randrange(256)
    r = process_document(bytes(blob))
    assert r.kind in ("pdf", "html")
    # errors must be deterministically ordered
    keys = [e.sort_key() for e in r.errors]
    assert keys == sorted(keys)


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=300))
def test_html_total_on_garbage(data):
    r = process_document(b"<html>" + data)
    assert r.kind == "html"


def test_time_budget_degrades_not_hangs():
    """SURVEY.md §4.3 straggler guard: a zero budget yields a
    resource.time_limit verdict quickly instead of a long parse."""
    import time as _t

    from caraspark.synth import pdf_giant

    blob = pdf_giant(50_000)
    t0 = _t.perf_counter()
    r = process_document(blob, time_budget_s=0.0001)
    assert _t.perf_counter() - t0 < 2.0
    assert not r.valid
    assert "resource.time_limit" in {e.code for e in r.errors}
    # and with the default budget the same doc parses fine
    assert process_document(blob).valid


def test_multimodal_fake_codec_roundtrip():
    from caraspark.multimodal import encode_media, media_params, parse_header

    for mid in range(24):
        p = media_params(mid)
        h = parse_header(encode_media(mid))
        assert h["kind"] == p["kind"]
        if p["kind"] == "image":
            assert (h["width"], h["height"]) == (p["width"], p["height"])
        elif p["kind"] == "audio":
            assert (h["rate"], h["n_samples"]) == (p["rate"], p["n_samples"])
        else:
            assert h["n_frames"] == p["n_frames"]


def test_multimodal_real_codec_is_marked_stub():
    import pytest as _pytest

    from caraspark.multimodal import decode_real

    with _pytest.raises(NotImplementedError):
        decode_real("image", b"\x89PNG")


# --- ToUnicode CMap (C26 tier-2) -------------------------------------------


def test_cmap_bfrange_consecutive_and_array():
    from caraspark.pdfengine.cmap import parse_tounicode

    cm = parse_tounicode(
        b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"1 beginbfrange <0001> <0003> <0061> endbfrange\n"
        b"1 beginbfrange <0010> <0011> [<0058> <0059>] endbfrange\n"
        b"1 beginbfchar <0041> <00410042> endbfchar"
    )
    assert cm.decode(b"\x00\x01\x00\x02\x00\x03") == "abc"
    assert cm.decode(b"\x00\x10\x00\x11") == "XY"
    assert cm.decode(b"\x00\x41") == "AB"       # one code, two chars
    assert cm.decode(b"\x09\x99") == "�"   # unmapped


def test_cmap_mixed_code_widths():
    from caraspark.pdfengine.cmap import parse_tounicode

    # 1-byte codespace 00–7F plus 2-byte 8000–FFFF (CJK-style layout)
    cm = parse_tounicode(
        b"2 begincodespacerange <00> <7F> <8000> <FFFF> endcodespacerange\n"
        b"1 beginbfchar <41> <0041> endbfchar\n"
        b"1 beginbfrange <8001> <8002> <0048> endbfrange"
    )
    assert cm.decode(b"\x41\x80\x01\x80\x02\x41") == "AHIA"


def test_cmap_without_codespace_defaults_to_single_bytes():
    from caraspark.pdfengine.cmap import parse_tounicode

    cm = parse_tounicode(b"1 beginbfchar <41> <0058> endbfchar")
    assert cm.decode(b"\x41\x41") == "XX"


@settings(max_examples=120, deadline=None)
@given(st.binary(min_size=0, max_size=300))
def test_cmap_parse_total_on_garbage(data):
    from caraspark.pdfengine.cmap import parse_tounicode

    cm = parse_tounicode(data)
    assert isinstance(cm.decode(data[:32]), str)


def test_tounicode_engine_oracle_agree():
    blob = PDF_RECIPES["pdf_tounicode"]()
    assert process_document(blob).text == oracle_extract(blob)


def test_inline_image_bytes_never_reach_text_ops():
    blob = PDF_RECIPES["pdf_inline_image"]()
    r = process_document(blob)
    assert r.text == b"before image\nafter image"
    assert r.text == oracle_extract(blob)


def test_inline_image_without_ei_skips_rest_of_stream():
    from caraspark.pdfengine.textextract import extract_page_text

    content = b"BT (kept) Tj ET BI /W 1 ID \x00\x01garbage (lost) Tj"
    assert extract_page_text(content, []) == "kept"


def test_form_xobject_text_and_cycle_guard():
    blob = PDF_RECIPES["pdf_form_xobject"]()
    r = process_document(blob)
    assert r.text == b"page before\ninside form one\nnested form two\npage after"
    assert r.text == oracle_extract(blob)


# --- AES-256 (R6) ----------------------------------------------------------


def test_aes256_r6_decrypts():
    r = process_document(PDF_RECIPES["pdf_encrypted_aes256"]())
    assert r.encrypted and r.valid and r.strict, r.errors_as_rows()
    assert r.text == b"Hello AES-256"


def test_aes256_wrong_password_hash_is_auth_failure():
    blob = PDF_RECIPES["pdf_encrypted_aes256"]()
    # corrupt the /U validation hash (first hex digits after '/U <')
    at = blob.find(b"/U <") + 4
    bad = blob[:at] + (b"00" if blob[at:at+2] != b"00" else b"11") + blob[at+2:]
    r = process_document(bad)
    assert any(e["code"] == "crypt.auth_failed" for e in r.errors_as_rows())


def test_legacy_u_validation_still_accepts_fixtures():
    for name in ("pdf_encrypted_rc4", "pdf_encrypted_aes"):
        r = process_document(PDF_RECIPES[name]())
        assert not any(
            e["code"] == "crypt.auth_failed" for e in r.errors_as_rows()
        ), name


# --- differential property: engine vs oracle on random content streams -----


# a show string as (serialization, bytes): octal-escaped (any bytes), a
# plain literal (no paren, backslash or EOL inside) or a hex string
_show_strategy = st.one_of(
    st.tuples(st.just("octal"), st.binary(max_size=8)),
    st.tuples(
        st.just("literal"),
        st.binary(max_size=8).map(lambda b: b.translate(None, b"()\\\r\n")),
    ),
    st.tuples(st.just("hex"), st.binary(max_size=8)),
)
# a TJ kern lexeme: an integer, or a real in PDF's forms (-250.5 -.5 250.)
_kern_strategy = st.one_of(
    st.integers(-500, 100).map(str),
    st.tuples(st.integers(-500, 100), st.integers(0, 9)).map(
        lambda t: f"{t[0]}.{t[1]}"
    ),
    st.integers(0, 9).map(lambda d: f"-.{d}"),
    st.integers(-500, 100).map(lambda k: f"{k}."),
)

_ops_strategy = st.lists(
    st.one_of(
        st.tuples(st.just("Tj"), _show_strategy),
        st.tuples(st.just("'"), _show_strategy),
        st.tuples(st.just("TJ"), st.lists(
            st.one_of(_show_strategy, _kern_strategy),
            max_size=5,
        )),
        st.tuples(st.just("Td"), st.tuples(st.integers(-5, 5), st.integers(-5, 5))),
        st.tuples(st.just("T*"), st.none()),
        st.tuples(st.just("BT"), st.none()),
        st.tuples(st.just("ET"), st.none()),
    ),
    max_size=30,
)


def _ser_str(show) -> bytes:
    form, b = show
    if form == "octal":  # valid for any byte content
        return b"(" + "".join(f"\\{c:03o}" for c in b).encode() + b")"
    if form == "literal":
        return b"(" + b + b")"
    return b"<" + b.hex().encode() + b">"


@settings(max_examples=200, deadline=None)
@given(_ops_strategy)
def test_engine_and_oracle_agree_on_random_content_streams(ops):
    """The frozen SPEC is implemented twice; random operator sequences must
    extract identically through both (SURVEY.md §5.2 double-witness)."""
    from caraspark.pdfengine.textextract import extract_page_text
    from oracle.text_oracle import _page_text

    parts = []
    for op, arg in ops:
        if op in ("Tj", "'"):
            parts.append(_ser_str(arg) + b" " + op.encode())
        elif op == "TJ":
            el = b" ".join(
                x.encode() if isinstance(x, str) else _ser_str(x) for x in arg
            )
            parts.append(b"[" + el + b"] TJ")
        elif op == "Td":
            parts.append(b"%d %d Td" % arg)
        else:
            parts.append(op.encode())
    content = b"\n".join(parts)
    assert extract_page_text(content, []) == _page_text(content)


def test_multipage_order_and_form_feeds():
    blob = PDF_RECIPES["pdf_multipage"]()
    r = process_document(blob)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.text == b"page one\x0cpage two\x0cpage three"
    assert r.text == oracle_extract(blob)


def test_justified_horizontal_td_is_space_not_newline():
    blob = PDF_RECIPES["pdf_justified"]()
    r = process_document(blob)
    assert r.text == b"Justified text line.\nSecond line, appended."
    assert r.text == oracle_extract(blob)


def test_truncated_ue_is_taxonomy_not_crash():
    """A corrupt /UE shorter than the 32-byte wrapped key must surface as
    crypt.bad_encrypt_dict, not an AES block-alignment exception (found by
    mutation fuzzing)."""
    from caraspark.pdfengine.crypto import _file_key_v5

    errors = []
    out = _file_key_v5(
        {"U": b"\x00" * 48, "UE": b"\x00" * 17}, 6, errors
    )
    assert out is None
    assert errors and errors[0].code == "crypt.bad_encrypt_dict"


def test_container_in_dict_key_position_is_taxonomy():
    """<< [1 2] /X 1 >> — a container landing in key position must record
    cos.dict_key_not_name and never store a None key (hypothesis find:
    None keys later crashed sorted() in graph building)."""
    errors = []
    obj, _ = parse_object(b"<< [1 2] /X 1 >>", 0, errors)
    assert None not in obj
    assert obj.get("X") == 1
    assert any(e.code == "cos.dict_key_not_name" for e in errors)


def test_corrupt_length_aes_key_is_taxonomy_not_crash():
    """Mutation find #2: a corrupted /Length (e.g. 80) derives a short
    file key that AES rejects with a raise; it must surface as a
    crypt.* taxonomy code instead."""
    from caraspark.synth import pdf_encrypted_aes

    # same byte width so xref offsets stay valid; 48 bits → 6-byte key
    blob = pdf_encrypted_aes().replace(b"/Length 128", b"/Length 048")
    r = process_document(blob)
    assert r.kind == "pdf"
    assert any(e.code.startswith("crypt.") for e in r.errors)


def test_linearization_cross_checks():
    """PDF17 Annex F cross-checks: a consistent linearized file is strict;
    the all-wrong variant flags every inconsistency without going invalid
    (viewers ignore broken hints, so none of these codes is FATAL)."""
    good = process_document(PDF_RECIPES["pdf_linearized"]())
    assert good.linearized and good.valid and good.strict, (
        good.errors_as_rows()
    )

    bad = process_document(PDF_RECIPES["pdf_linearized_bad"]())
    codes = {e.code for e in bad.errors}
    assert {
        "linear.bad_length",
        "linear.bad_first_page",
        "linear.bad_offset",
        "linear.not_first",
    } <= codes
    assert bad.linearized and bad.valid and not bad.strict


def test_rep_width_fold_rules():
    """SPEC "font metrics": the /W fold handles both item formats, skips
    malformed items by one element, falls back to /DW then 1000, and
    simple fonts average /Widths."""
    from caraspark.pdfengine.textextract import _rep_width

    class _Doc:  # no indirect objects needed for inline values
        objects: dict = {}
        trailer: dict = {}

    d = _Doc()

    def t0(cid):
        return {
            "Subtype": Name("Type0"),
            "DescendantFonts": [cid],
        }

    # c [w...] format
    assert _rep_width(d, t0({"W": [1, [400, 600]]})) == 500.0
    # c1 c2 w range format (no materialization: wide ranges are O(1))
    assert _rep_width(d, t0({"W": [0, 9_999_999, 250]})) == 250.0
    # mixed, in document order
    assert _rep_width(d, t0({"W": [1, [400, 600], 16, 31, 500]})) == 500.0
    # malformed leading junk resyncs by one element
    assert _rep_width(d, t0({"W": [Name("x"), 1, [300]]})) == 300.0
    # empty/absent /W -> /DW -> 1000
    assert _rep_width(d, t0({"W": [], "DW": 750})) == 750.0
    assert _rep_width(d, t0({})) == 1000.0
    # inverted range contributes nothing
    assert _rep_width(d, t0({"W": [5, 1, 900], "DW": 640})) == 640.0
    # simple font: mean of numeric /Widths entries
    assert _rep_width(d, {"Widths": [250, 333, 500]}) == 361.0
    assert _rep_width(d, {"Widths": [Name("j"), 200, 400]}) == 300.0
    assert _rep_width(d, {"Widths": []}) == 1000.0
    assert _rep_width(d, {}) == 1000.0
    # threshold backward compatibility at full width
    assert -0.18 * _rep_width(d, {}) == -180.0


def test_cid_widths_scaled_kern_goldens():
    """pdf_cid_widths end-to-end: narrow CID font opens a space at -120,
    wide /DW font refuses one at -200, simple /Widths font at -70."""
    r = process_document(PDF_RECIPES["pdf_cid_widths"]())
    assert r.valid and r.strict
    assert r.text == b"H IX Y\nHI X\nA BC"


# ---------------------------------------------------------------------------
# HTML SPEC v2: charset sniff + attribute boilerplate drop
# ---------------------------------------------------------------------------


def test_charset_sniff_rules():
    """Every DECODE branch of the v2 spec, engine-side."""
    from caraspark.htmlengine import decode_html

    # 1: utf-8 BOM stripped
    assert decode_html(b"\xef\xbb\xbfabc") == "abc"
    # 2: utf-16 BOMs (the -le/-be codecs don't write one; prepend)
    assert decode_html(b"\xff\xfe" + "x漢".encode("utf-16-le")) == "x漢"
    assert decode_html(b"\xfe\xff" + "x漢".encode("utf-16-be")) == "x漢"
    # 3: declared charsets, both meta forms, case-insensitive, quoted or not
    assert decode_html(b"<meta charset='windows-1252'>caf\xe9") == (
        "<meta charset='windows-1252'>café"
    )
    assert "café" in decode_html(
        b"<meta http-equiv=Content-Type content='text/html; CHARSET=Latin-1'>"
        b"caf\xe9"
    )
    sj = "<meta charset=shift_jis>日本".encode("shift_jis")
    assert decode_html(sj).endswith("日本")
    # unknown label -> utf-8
    assert decode_html(b"<meta charset='x-klingon'>ok").endswith("ok")
    # declaration only honored within the first 1024 bytes
    far = b"<p>" + b" " * 1100 + b"<meta charset='utf-16'>caf\xe9"
    assert "café" in decode_html(far)  # falls to rule 4 -> cp1252
    # 4: strict utf-8 default, cp1252 fallback
    assert decode_html("ünï".encode("utf-8")) == "ünï"
    assert decode_html(b"caf\xe9 plain") == "café plain"


def test_attr_drop_regions():
    from caraspark.htmlengine import extract_html_text as x

    # nested same-tag inside the region must not end it early
    h = (b"<body><div class='sidebar'><div><p>junk</p></div><p>junk2</p>"
         b"</div><p>keep</p></body>")
    assert x(h) == b"keep"
    # unclosed region drops to EOF
    assert x(b"<body><p>keep</p><div id='advert-1'><p>a</p><p>b</p>") == b"keep"
    # DROP tag precedence: nav with boiler class still counts as tag-drop
    assert x(b"<body><nav class='menu'>n</nav><p>keep</p></body>") == b"keep"
    # self-closing tags never open a region
    assert x(b"<body><br class='sidebar'/><p>keep</p></body>") == b"keep"
    # 'nav' is deliberately NOT a token (class='unavailable' must survive)
    assert x(b"<body><p class='unavailable'>keep</p></body>") == b"keep"
    # id matches too; value match is substring, case-insensitive
    assert x(b"<body><span id='PopupBox'>z</span><p>keep</p></body>") == b"keep"


_ATTR_ST = st.sampled_from(
    ["", " class='sidebar'", " class='x'", " id='user-comments'",
     " id='main'", " class='Ad-Banner'", " class='unavailable'"]
)
_TAG_ST = st.sampled_from(["div", "p", "span", "section", "ul", "nav"])
_TXT_ST = st.text(
    alphabet="ab é漢 \n<>&;", min_size=0, max_size=12
)


@settings(max_examples=120, deadline=None)
@given(st.lists(st.tuples(_TAG_ST, _ATTR_ST, _TXT_ST), max_size=8),
       st.sampled_from(["utf-8", "cp1252-decl", "fallback"]))
def test_html_v2_engine_oracle_agree(frags, enc):
    """Property differential: random nested fragments with boilerplate
    attrs under each decode path — the two independent witnesses must
    emit identical bytes."""
    from caraspark.htmlengine import extract_html_text

    inner = "".join(f"<{t}{a}>{txt}" for t, a, txt in frags)
    doc = f"<html><body>{inner}</body></html>"
    if enc == "utf-8":
        blob = doc.encode("utf-8")
    elif enc == "cp1252-decl":
        blob = ("<meta charset='windows-1252'>" + doc).encode(
            "cp1252", "replace"
        )
    else:
        blob = doc.encode("cp1252", "replace")  # é -> invalid utf-8 byte
    assert extract_html_text(blob) == oracle_extract(blob)


# --- v3 SPANS (north_rule "extracted text/spans per document") -------------


def _check_span_tiling(text: bytes, spans):
    """Structural invariants every span list must satisfy: spans tile the
    payload exactly, separated by single 1-byte joiners, labels indexed."""
    if not text:
        assert spans == []
        return
    assert spans, "non-empty text must carry spans"
    assert spans[0][0] == 0
    for i, (start, end, label) in enumerate(spans):
        assert 0 <= start <= end <= len(text)
        assert label.endswith(f":{i}")
        if i:
            assert start == spans[i - 1][1] + 1
    assert spans[-1][1] == len(text)


@pytest.mark.parametrize("name", ALL_RECIPES)
def test_spans_second_witness(name):
    """Engine spans == independent-oracle spans on every witnessed doc,
    plus the tiling invariants on all docs (including unwitnessed ones)."""
    from oracle import oracle_extract_spans

    blob = _blob(name)
    r = process_document(blob)
    _check_span_tiling(r.text, r.spans)
    if not r.valid or r.encrypted:
        pytest.skip("oracle witnesses valid/plaintext docs only")
    otext, ospans = oracle_extract_spans(blob)
    assert r.text == otext
    assert r.spans == ospans


def test_spans_multipage_offsets():
    from caraspark.synth import pdf_multipage

    r = process_document(pdf_multipage())
    assert r.text == b"page one\x0cpage two\x0cpage three"
    assert r.spans == [
        (0, 8, "page:0"),
        (9, 17, "page:1"),
        (18, 28, "page:2"),
    ]


def test_spans_formfeed_inside_page_text():
    """A literal form feed INSIDE one page's string must not split the
    span — spans are authoritative page boundaries, not derivable by
    splitting the payload on \\x0c."""
    from caraspark.synth import _assemble, _base_objects

    blob = _assemble(_base_objects(b"BT (a\x0cb) Tj ET"))
    r = process_document(blob)
    assert r.text == b"a\x0cb"
    assert r.spans == [(0, 3, "page:0")]


def test_spans_html_multibyte_are_octets():
    from caraspark.htmlengine import extract_html_text_spans

    text, spans = extract_html_text_spans(
        "<body><p>café</p><p>漢字 x</p></body>".encode("utf-8")
    )
    # "café" = 5 octets / 4 chars; "漢字 x" = 8 octets / 4 chars
    assert text == "café\n漢字 x".encode("utf-8")
    assert spans == [(0, 5, "block:0"), (6, 14, "block:1")]


@pytest.mark.parametrize("name", ["pdf_minimal", sorted(HTML_RECIPES)[0]])
def test_spans_stats_mode_is_null(name):
    r = process_document(_blob(name), want=())
    assert r.text is None and r.spans is None


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(_TAG_ST, _ATTR_ST, _TXT_ST), max_size=8))
def test_html_spans_engine_oracle_agree(frags):
    """Property differential for spans over random nested fragments."""
    from caraspark.htmlengine import extract_html_text_spans
    from oracle import oracle_extract_spans

    inner = "".join(f"<{t}{a}>{txt}" for t, a, txt in frags)
    blob = f"<html><body>{inner}</body></html>".encode("utf-8")
    assert extract_html_text_spans(blob) == oracle_extract_spans(blob)


# --- v4 OUTLINKS (crawl-frontier feed) --------------------------------------


def test_outlinks_rules():
    from caraspark.htmlengine import extract_html

    links = lambda b: extract_html(b)[2]  # noqa: E731
    # order + first-occurrence dedup; trim; first href attr wins
    assert links(
        b"<body><a href=' /a '>1</a><a href='/b'>2</a>"
        b"<a href='/a'>3</a><a href='/c' href='/d'>4</a></body>"
    ) == ["/a", "/b", "/c"]
    # fragments, empty, and non-crawlable schemes skipped (case-insensitive)
    assert links(
        b"<body><a href='#x'>f</a><a href=''>e</a>"
        b"<a href='JavaScript:void(0)'>j</a><a href='MAILTO:a@b'>m</a>"
        b"<a href='data:text/plain,x'>d</a><a href='/ok#frag'>k</a></body>"
    ) == ["/ok#frag"]
    # drop regions (nav/script/...) and boiler regions exclude links
    assert links(
        b"<body><nav><a href='/nav'>n</a></nav>"
        b"<script>var a='<a href=/s>';</script>"
        b"<div class='sidebar'><a href='/boiler'>b</a></div>"
        b"<a class='advert' href='/self-boiler'>x</a>"
        b"<a href='/keep'>k</a></body>"
    ) == ["/keep"]
    # link-density discard of the BLOCK must not suppress its links,
    # and empty extracted text still reports links (hub page)
    r = extract_html(b"<body><p><a href='/hub1'>x</a> <a href='/hub2'>y</a></p></body>")
    assert r[0] == b"" and r[2] == ["/hub1", "/hub2"]


def test_outlinks_pdf_and_stats_mode():
    r = process_document(_blob("pdf_minimal"))
    assert r.outlinks == []
    r = process_document(_blob(sorted(HTML_RECIPES)[0]), want=())
    assert r.outlinks is None


@pytest.mark.parametrize("name", ALL_RECIPES)
def test_outlinks_second_witness(name):
    """Engine outlinks == independent-oracle outlinks on every recipe."""
    from oracle.text_oracle import oracle_extract_full

    blob = _blob(name)
    r = process_document(blob)
    if not r.valid or r.encrypted:
        pytest.skip("oracle witnesses valid/plaintext docs only")
    olinks = oracle_extract_full(blob)[2]
    assert r.outlinks == olinks


_HREF_ST = st.sampled_from(
    ["", "#top", "/a", " /a ", "/b?q=1", "javascript:x", "mailto:a@b",
     "https://e.x/y", "rel/p.html", "DATA:,x"]
)


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.tuples(_TAG_ST, _ATTR_ST, _TXT_ST, _HREF_ST), max_size=8
    )
)
def test_html_outlinks_engine_oracle_agree(frags):
    """Property differential for outlinks: anchors interleaved with random
    nested fragments and boiler attrs — both witnesses must agree."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    inner = "".join(
        f"<{t}{a}>{txt}<a{a} href='{h}'>L</a>" for t, a, txt, h in frags
    )
    blob = f"<html><body>{inner}</body></html>".encode("utf-8")
    assert extract_html(blob) == oracle_extract_full(blob)


# --- v5 TITLE (document metadata) -------------------------------------------


def test_title_rules():
    from caraspark.htmlengine import extract_html

    title = lambda b: extract_html(b)[3]  # noqa: E731
    # first title wins; normalization collapses whitespace; entities decode
    assert title(
        b"<head><title>  A &amp;\n B </title><title>z</title></head>"
    ) == "A & B"
    # whitespace-only / absent -> None
    assert title(b"<head><title> \t </title></head><p>x</p>") is None
    assert title(b"<p>x</p>") is None
    # title inside a boiler attr-region is opaque
    assert (
        title(b"<div class='sidebar'><title>hidden</title></div><p>x</p>")
        is None
    )
    # unclosed title collects to EOF (both witnesses by construction)
    assert title(b"<title>to the end of input") == "to the end of input"
    # title text never leaks into the text payload
    r = extract_html(
        b"<head><title>Me</title></head><body><p>body</p></body>"
    )
    text, t = r[0], r[3]
    assert text == b"body" and t == "Me"


def test_title_pdf_info():
    from caraspark.synth import pdf_info_title

    r = process_document(pdf_info_title())
    assert r.title == "Tïtle — 漢字"
    assert r.valid and r.strict
    # stats mode: title rides the text parse
    r2 = process_document(pdf_info_title(), want=())
    assert r2.title is None
    # no /Info -> None
    assert process_document(_blob("pdf_minimal")).title is None


def test_pdf_string_decode_twins_agree():
    """PDFDocEncoding + UTF-16BE text-string decode: engine vs oracle on
    every byte value and on BOM strings."""
    import random

    from caraspark.pdfengine.textextract import decode_pdf_string
    from oracle.text_oracle import _pdf_string_text

    assert decode_pdf_string(bytes(range(256))) == _pdf_string_text(
        bytes(range(256))
    )
    rng = random.Random(13)
    for _ in range(200):
        b = bytes(rng.randrange(256) for _ in range(rng.randrange(24)))
        assert decode_pdf_string(b) == _pdf_string_text(b)
        assert decode_pdf_string(b"\xfe\xff" + b) == _pdf_string_text(
            b"\xfe\xff" + b
        )


@pytest.mark.parametrize("name", ALL_RECIPES)
def test_title_second_witness(name):
    from oracle.text_oracle import oracle_extract_full

    blob = _blob(name)
    r = process_document(blob)
    if not r.valid or r.encrypted:
        pytest.skip("oracle witnesses valid/plaintext docs only")
    assert r.title == oracle_extract_full(blob)[3]


# --- v6 HEADMETA (canonical link + meta description) ------------------------


def test_headmeta_rules():
    from caraspark.htmlengine import extract_html

    hm = lambda b: extract_html(b)[4:6]  # noqa: E731
    # rel list matching, trim, first-wins
    assert hm(
        b'<head><link rel="alternate CANONICAL" href=" /c ">'
        b'<link rel="canonical" href="/later"></head><p>t</p>'
    ) == ("/c", None)
    # decoys don't consume the slot; empty content doesn't either
    assert hm(
        b'<head><link rel="alternate" href="/no">'
        b'<meta name="description" content="   ">'
        b'<link rel="canonical" href="/yes">'
        b'<meta name="description" content=" a  b "></head><p>t</p>'
    ) == ("/yes", "a b")
    # name match is trimmed + case-insensitive; missing attrs are safe
    assert hm(
        b'<head><meta name=" Description " content="d"><link rel="canonical">'
        b"<link href=/x><meta content=zzz></head><p>t</p>"
    ) == (None, "d")
    # collected from inside <head> (a DROP region), like title
    assert hm(
        b"<head><link rel=canonical href=/in-head></head><p>t</p>"
    ) == ("/in-head", None)
    # opaque inside boiler attr-regions
    assert hm(
        b'<div class="sidebar"><link rel=canonical href=/no>'
        b'<meta name=description content=no></div><p>t</p>'
    ) == (None, None)


def test_headmeta_pdf_subject_and_stats_mode():
    from caraspark.synth import pdf_info_title

    r = process_document(pdf_info_title())
    assert r.canonical is None
    assert r.description == "A subject–with dashes"  # 0x85 → en dash
    r2 = process_document(pdf_info_title(), want=())
    assert r2.canonical is None and r2.description is None


@pytest.mark.parametrize("name", ALL_RECIPES)
def test_headmeta_second_witness(name):
    from oracle.text_oracle import oracle_extract_full

    blob = _blob(name)
    r = process_document(blob)
    if not r.valid or r.encrypted:
        pytest.skip("oracle witnesses valid/plaintext docs only")
    o = oracle_extract_full(blob)
    assert (r.canonical, r.description) == (o[4], o[5])


_META_ST = st.sampled_from(
    ["", '<link rel="canonical" href="/c1">',
     '<link rel="alternate canonical" href=" /c2 ">',
     '<link rel="alternate" href="/no">',
     '<meta name="description" content="d1">',
     '<meta name=" DESCRIPTION " content=" d  2 ">',
     '<meta name="description" content="">',
     '<link rel="canonical" href="">',
     '<meta name="keywords" content="k">',
     '<meta property="og:title" content="OT 1">',
     '<meta property=" OG:TITLE " content=" OT  2 ">',
     '<meta property="og:title" content="  ">',
     '<meta property="og:description" content=" od ">',
     '<meta property="og:image" content=" /i.png ">',
     '<meta property="og:image" content="">',
     '<meta property="og:video" content="/v.mp4">']
)


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.tuples(_TAG_ST, _ATTR_ST, _TXT_ST, _META_ST), max_size=8
    )
)
def test_html_headmeta_engine_oracle_agree(frags):
    """Property differential for v6: head metadata interleaved with random
    nested fragments and boiler attrs — both witnesses must agree on the
    FULL 6-tuple."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    inner = "".join(f"<{t}{a}>{txt}{m}" for t, a, txt, m in frags)
    blob = f"<html><body>{inner}</body></html>".encode("utf-8")
    assert extract_html(blob) == oracle_extract_full(blob)


def test_unclosed_title_does_not_eat_body_text():
    """Regression (fuzz-found): an unclosed <title> whose drop region is
    reset by an unbalanced close (</style>, </head>) must not suppress
    body blocks — title collection is a parallel pass, and both witnesses
    must agree on the full 6-tuple."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    m = (
        b"<html><head><title>style>p{x}</style></head>"
        b"<body><main><p>Body text.</p></main>"
    )
    e = extract_html(m)
    assert e[0] == b"Body text."
    assert e[3] is not None and e[3].startswith("style>")
    assert e == oracle_extract_full(m)


@settings(max_examples=120, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            ["<title>", "</title>", "</style>", "</head>", "<p>", "</p>",
             "<div class='sidebar'>", "</div>", "text ", "<a href='/x'>y</a>",
             "<a href='/y'>w ", "</a>", "<a href='/x'>again ",
             "<link rel=canonical href=/c>", "<meta name=description content=d>",
             "<meta property=og:title content=ot>",
             "<meta property=og:image content=/i.png>",
             "<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>",
             "<th>", "</th>", "<td/>", "<table class='sidebar'>", "cell ",
             "<ul>", "</ul>", "<ol>", "</ol>", "<li>", "</li>", "<li/>",
             "<ul/>", "<ol class='menu'>", "item ",
             "<img src='/a.png' alt='x y'>", "<img src=' /b '/>", "<img>",
             "</img>", "<img class='advert' src='/r'>",
             "<img src='/a.png' src='/2nd' alt=''>",
             '<script type="application/ld+json">{"a":1}</script>',
             '<script type="application/ld+json">', "</script>",
             '<script type="application/ld+json"/>', "<script>junk()",
             '<script type=" LD+JSON ">no</script>',
             "<meta name='robots' content='NOINDEX, nofollow'>",
             "<meta name=' Robots ' content='all'>",
             "<meta name='robots' content=''>",
             "<meta http-equiv='refresh' content='0; URL=/next'>",
             "<meta http-equiv=' Refresh ' content='5'>",
             "<meta http-equiv='refresh' content=''>",
             "<base href=' /B/dir/ '>", "<base target='x'>",
             "<base href='../Up/'/>",
             "<form method='POST' action='/x'>", "</form>",
             "<form action='q.php'/>", "<form class='promo' action='/a'>",
             "<link rel='next' href='/p2'>", "<link rel='next' href=''>",
             "<link rel=' NEXT alternate ' href=' /P3 '/>",
             "<link rel='Previous' href='?p=1'>",
             "<link rel='prev next' href='/both'>"]
        ),
        max_size=16,
    )
)
def test_html_pathological_nesting_engine_oracle_agree(parts):
    """Property differential over adversarial open/close sequences — the
    unbalanced-close + parallel-pass corner the fuzz campaign hit."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    blob = "".join(parts).encode()
    assert extract_html(blob) == oracle_extract_full(blob)


# --- embedded-file attachments [PDF17 §7.11] --------------------------------


def test_attachments_walk_and_decode():
    from caraspark.pdfengine.document import extract_attachments, load_document
    from caraspark.synth import ATTACH_A, ATTACH_Z, pdf_attachments

    atts = extract_attachments(load_document(pdf_attachments()))
    assert [(a["name"], a["size"]) for a in atts] == [
        ("a.txt", len(ATTACH_A)),
        ("z.bin", len(ATTACH_Z)),
    ]
    assert atts[0]["payload"] == ATTACH_A  # plain stream
    assert atts[1]["payload"] == ATTACH_Z  # FlateDecode stream
    # the recipe is strict-valid: the name tree satisfies the typedefs
    r = process_document(_blob("pdf_attachments"))
    assert r.valid and r.strict


def test_attachments_absent_and_degenerate():
    from caraspark.pdfengine.document import extract_attachments, load_document
    from caraspark.synth import pdf_minimal

    assert extract_attachments(load_document(pdf_minimal())) == []
    # degenerate tree shapes must not raise: odd Names arity, non-dict
    # filespec, missing EF, self-referential Kids (cycle-capped)
    from caraspark.synth import _assemble, _base_objects, _obj

    bodies = _base_objects(b"BT (x) Tj ET")
    bodies[1] = _obj(1, b"<< /Type /Catalog /Pages 2 0 R /Names 5 0 R >>")
    bodies[5] = _obj(5, b"<< /EmbeddedFiles 6 0 R >>")
    bodies[6] = _obj(
        6,
        b"<< /Kids [6 0 R] /Names [(odd) (lone) 7 0 R (nofs) null] >>",
    )
    bodies[7] = _obj(7, b"<< /Type /Filespec /F (no-ef) >>")
    atts = extract_attachments(load_document(_assemble(bodies)))
    assert atts == []


def test_outline_walk():
    from caraspark.pdfengine.document import extract_outline, load_document
    from caraspark.synth import pdf_outline

    o = extract_outline(load_document(pdf_outline()))
    assert [(x["pos"], x["level"], x["title"]) for x in o] == [
        (0, 0, "Intro — 概要"),
        (1, 1, "Background notes"),
        (2, 1, "Methods"),
        (3, 0, "Conclusion"),
    ]
    r = process_document(_blob("pdf_outline"))
    assert r.valid and r.strict


def test_outline_cycles_and_missing_titles_are_tolerated():
    from caraspark.pdfengine.document import extract_outline, load_document
    from caraspark.synth import _assemble, _base_objects, _obj

    bodies = _base_objects(b"BT (x) Tj ET")
    bodies[1] = _obj(1, b"<< /Type /Catalog /Pages 2 0 R /Outlines 5 0 R >>")
    bodies[5] = _obj(5, b"<< /Type /Outlines /First 6 0 R /Last 7 0 R >>")
    # 6 -> 7 -> 6 sibling cycle; 7 has no /Title
    bodies[6] = _obj(6, b"<< /Title (A) /Parent 5 0 R /Next 7 0 R >>")
    bodies[7] = _obj(7, b"<< /Parent 5 0 R /Next 6 0 R >>")
    o = extract_outline(load_document(_assemble(bodies)))
    assert [(x["level"], x["title"]) for x in o] == [(0, "A"), (0, None)]


def test_form_fields_walk():
    from caraspark.pdfengine.document import (
        extract_form_fields,
        load_document,
    )
    from caraspark.synth import pdf_acroform

    ff = extract_form_fields(load_document(pdf_acroform()))
    assert [(x["name"], x["ft"], x["value"]) for x in ff] == [
        ("name", "Tx", "Jürgen"),
        ("subscribed", "Btn", "Yes"),
        ("color.opt1", "Btn", "Red"),  # /V + /FT inherited from the group
        ("color.opt2", "Btn", "Red"),
    ]
    r = process_document(_blob("pdf_acroform"))
    assert r.valid and r.strict


def test_form_fields_absent_and_cycles():
    from caraspark.pdfengine.document import (
        extract_form_fields,
        load_document,
    )
    from caraspark.synth import _assemble, _base_objects, _obj, pdf_minimal

    assert extract_form_fields(load_document(pdf_minimal())) == []
    bodies = _base_objects(b"BT (x) Tj ET")
    bodies[1] = _obj(1, b"<< /Type /Catalog /Pages 2 0 R /AcroForm 5 0 R >>")
    bodies[5] = _obj(5, b"<< /Fields [6 0 R] >>")
    bodies[6] = _obj(6, b"<< /T (a) /Kids [6 0 R 7 0 R] >>")  # self-kid
    bodies[7] = _obj(7, b"<< /Parent 6 0 R /T (b) /V (v) >>")
    ff = extract_form_fields(load_document(_assemble(bodies)))
    assert [(x["name"], x["value"]) for x in ff] == [("a.b", "v")]


# --- v7 HEADINGS (document structure) ----------------------------------------


def test_headings_rules():
    from caraspark.htmlengine import extract_html

    r = extract_html(
        b"<body><h1>Top</h1><p>para</p><h2>Sub</h2>"
        b"<h3 class='sidebar'>boiler</h3><h2>  </h2>"
        b"<h2><a href=/x>ff gg</a></h2><p>tail</p></body>"
    )
    # blocks: Top(0) para(1) Sub(2) tail(3); boiler/empty/linkfarm h's drop
    assert r[0] == b"Top\npara\nSub\ntail"
    assert r[6] == [(0, 1), (2, 2)]
    # heading block index matches the spans index (payload slice = title)
    s0 = r[1][0]
    assert r[0][s0[0] : s0[1]] == b"Top"


def test_headings_pdf_outline_levels_and_stats_mode():
    from caraspark.synth import pdf_outline

    r = process_document(pdf_outline())
    assert r.headings == [(0, 1), (1, 2), (2, 2), (3, 1)]
    assert process_document(pdf_outline(), want=()).headings is None
    assert process_document(_blob("pdf_minimal")).headings == []


@pytest.mark.parametrize("name", ALL_RECIPES)
def test_headings_second_witness(name):
    from oracle.text_oracle import oracle_extract_full

    blob = _blob(name)
    r = process_document(blob)
    if not r.valid or r.encrypted:
        pytest.skip("oracle witnesses valid/plaintext docs only")
    assert r.headings == oracle_extract_full(blob)[6]


def test_html_ogmeta_first_wins_and_decoys():
    """v8 OGMETA decoy matrix: empty content doesn't consume the slot,
    boiler-region og is opaque, first non-empty wins per property,
    og:image is trimmed not normalized, unknown og:* ignored."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    blob = (
        b"<html><head>"
        b"<meta property='og:title' content='   '>"
        b"<meta property=' OG:Title ' content=' A  B '>"
        b"<meta property='og:title' content='loses'>"
        b"<meta property='og:video' content='/v.mp4'>"
        b"<meta property='og:image' content=' /i.png '>"
        b"</head><body>"
        b"<div class='sidebar'><meta property='og:description'"
        b" content='hidden'></div>"
        b"<meta property='og:description' content=' d  1 '>"
        b"<p>body</p></body></html>"
    )
    e = extract_html(blob)
    assert e[7] == ("A B", "d 1", "/i.png")
    assert e == oracle_extract_full(blob)


def test_ogmeta_none_for_pdfs_and_stats_mode():
    from caraspark.synth import PDF_RECIPES

    r = process_document(PDF_RECIPES["pdf_minimal"]())
    assert (r.og_title, r.og_description, r.og_image) == (None, None, None)
    r2 = process_document(
        b"<html><head><meta property='og:title' content='x'></head>"
        b"<body><p>t</p></body></html>",
        want=(),
    )
    assert (r2.og_title, r2.og_description, r2.og_image) == (None, None, None)
    r3 = process_document(
        b"<html><head><meta property='og:title' content='x'></head>"
        b"<body><p>t</p></body></html>",
        want=("ogmeta",),
    )
    assert r3.og_title == "x" and r3.text is None


# --- v9 ANCHORS (per-outlink anchor text) ------------------------------------


def test_anchor_rules():
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    blob = (
        b"<body><p><a href='/x'>First <b>bold</b>  text </a>"
        b"<a href='/x'>dup loses</a> <a href='#f'>frag</a>"
        b"<a href='/y'></a> <a href='/z'>outer <a href='/w'>inner</a>"
        b" tail</a><div class='promo'><a href='/b'>no</a></div>"
        b"<a href='/open'>to eof"
    )
    e = extract_html(blob)
    assert e[2] == ["/x", "/y", "/z", "/w", "/open"]
    assert e[8] == [
        "First bold text", "", "outer tail", "inner", "to eof",
    ]
    assert e == oracle_extract_full(blob)


def test_anchor_text_skips_drop_and_boiler_regions_inside_anchor():
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    blob = (
        b"<body><p><a href='/x'>keep <script>skip()</script>"
        b"<span class='sidebar'>skip too</span> end</a></p></body>"
    )
    e = extract_html(blob)
    assert e[8] == ["keep end"]
    assert e == oracle_extract_full(blob)


def test_anchor_stats_mode_and_pdf_contract():
    from caraspark.pdfengine import process_document
    from caraspark.synth import PDF_RECIPES

    html = b"<body><p>real text here <a href='/x'>y</a></p></body>"
    full = process_document(html)
    assert full.anchors == ["y"]
    stats = process_document(html, want=())
    assert stats.anchors is None
    no_anchor = process_document(html, want={"text"})
    assert no_anchor.anchors is None and no_anchor.text
    pdf = process_document(PDF_RECIPES["pdf_minimal"]())
    assert pdf.anchors == [] and pdf.outlinks == []


def test_html_v10_tables_semantics():
    """v10 TABLES: the spec's edge matrix — header cells, implicit row 0,
    nested-table suspension, self-closing cells, boiler/drop exclusion,
    EOF close — engine and oracle byte-agree on every tuple."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    b = (b"<body><table><tr><th>h</th><td>a<b>b</b></td></tr>"
         b"<tr><td>c<table><tr><td>i</td></tr></table>d</td></tr></table>"
         b"<div class='promo'><table><tr><td>no</td></tr></table></div>"
         b"<script><table><tr><td>no2</td></tr></table></script>"
         b"<table/><table><td/>"
         b"<td>eof cell")
    e = extract_html(b)
    assert e == oracle_extract_full(b)
    assert e[9] == [
        (0, 0, 0, True, "h"),
        (0, 0, 1, False, "ab"),
        (1, 0, 0, False, "i"),     # inner emits before the outer resumes
        (0, 1, 0, False, "cd"),
        # boiler + dropped tables emit nothing and take no index;
        # the self-closing <table/> takes index 2 with no cells
        (3, 0, 0, False, ""),      # self-closing cell, implicit row 0
        (3, 0, 1, False, "eof cell"),
    ]


def test_html_v10_tables_want_projection():
    """tables obeys the want= projection like every other surface."""
    from caraspark.pdfengine.api import process_document

    b = b"<table><tr><td>x</td></tr></table><p>body text</p>"
    full = process_document(b)
    assert full.tables == [(0, 0, 0, False, "x")]
    only = process_document(b, want=("tables",))
    assert only.tables == full.tables and only.text is None
    none = process_document(b, want=("text",))
    assert none.tables is None and none.text == b"x\nbody text"
    stats = process_document(b, want=())
    assert stats.tables is None
    pdf = process_document(b"%PDF-1.4\n1 0 obj null endobj")
    assert pdf.tables == []


def test_html_v12_images_semantics():
    """v12 IMAGES: the spec's edge matrix — trim/normalize, index per
    element (empty src/alt still count), data: kept, duplicates kept,
    first attr occurrence wins, boiler/drop exclusion, boiler-classed
    <img> opens an attr-region — engine and oracle byte-agree."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    b = (b"<body><p>t <img src='/a.png' alt=' hero  shot '> u</p>"
         b"<img src=' /b.jpg '/><img alt='only'><img>"
         b"<img src='data:image/gif;base64,R0' alt='inline'>"
         b"<img src='/a.png' alt='dup'>"
         b"<img src='/first.png' src='/second.png'>"
         b"<div class='sidebar'><img src='/no1'></div>"
         b"<nav><img src='/no2'></nav>"
         b"<img class='advert' src='/root'><img src='/inside'></img></img>"
         b"<img src='/after' alt='tail'></body>")
    e = extract_html(b)
    assert e == oracle_extract_full(b)
    assert e[11] == [
        ("/a.png", "hero shot"),
        ("/b.jpg", ""),
        ("", "only"),
        ("", ""),
        ("data:image/gif;base64,R0", "inline"),
        ("/a.png", "dup"),
        ("/first.png", ""),
        ("/after", "tail"),
    ]


def test_html_v12_images_want_projection():
    """images obeys the want= projection like every other surface."""
    from caraspark.pdfengine import process_document
    from caraspark.synth import PDF_RECIPES

    html = b"<body><p>real text</p><img src='/x.png' alt='a'></body>"
    full = process_document(html)
    assert full.images == [("/x.png", "a")]
    only = process_document(html, want={"images"})
    assert only.images == [("/x.png", "a")] and only.text is None
    none = process_document(html, want={"text"})
    assert none.images is None and none.text
    stats = process_document(html, want=())
    assert stats.images is None
    pdf = process_document(PDF_RECIPES["pdf_minimal"]())
    assert pdf.images == []
    pdf_stats = process_document(
        PDF_RECIPES["pdf_minimal"](), want=()
    )
    assert pdf_stats.images is None


def test_html_v13_jsonld_semantics():
    """v13 JSONLD: the spec's edge matrix — internal whitespace
    preserved / ends stripped, case-insensitive padded type attr, first
    attr occurrence wins, plain scripts ignored, self-closing and empty
    matches emit "", boiler regions excluded, tag-drop regions NOT
    excluded (like TITLE), unclosed match at EOF emits "" (html.parser
    never flushes unterminated CDATA) — engine and oracle byte-agree."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    b = (b'<body><p>t u v</p>'
         b'<script type="application/ld+json">\n {"a": 1,\n "b": 2} \n'
         b'</script>'
         b'<script type=" APPLICATION/LD+JSON ">{"pad":1}</script>'
         b'<script type="application/ld+json" type="text/plain">'
         b'{"first":1}</script>'
         b'<script>var x;</script>'
         b'<script type="application/ld+json"/>'
         b'<script type="application/ld+json"></script>'
         b'<div class="sidebar">'
         b'<script type="application/ld+json">{"no":1}</script></div>'
         b'<nav><script type="application/ld+json">{"nav":1}</script></nav>'
         b'<script type="application/ld+json">{"tail":1')
    e = extract_html(b)
    assert e == oracle_extract_full(b)
    assert e[12] == [
        '{"a": 1,\n "b": 2}',
        '{"pad":1}',
        '{"first":1}',
        "",
        "",
        '{"nav":1}',
        "",  # unclosed at EOF: entry emitted, CDATA never flushed
    ]


def test_html_v13_jsonld_want_projection():
    from caraspark.pdfengine import process_document
    from caraspark.synth import PDF_RECIPES

    html = (b'<body><p>real text</p>'
            b'<script type="application/ld+json">{"x":1}</script></body>')
    full = process_document(html)
    assert full.jsonld == ['{"x":1}']
    only = process_document(html, want={"jsonld"})
    assert only.jsonld == ['{"x":1}'] and only.text is None
    none = process_document(html, want={"text"})
    assert none.jsonld is None and none.text
    stats = process_document(html, want=())
    assert stats.jsonld is None
    pdf = process_document(PDF_RECIPES["pdf_minimal"]())
    assert pdf.jsonld == []


def test_html_v14_robots_meta_semantics():
    """v14 ROBOTSMETA: first-wins with empty-content decoys skipped,
    trimmed+lowercased name match, lowercased+normalized capture,
    boiler regions opaque, tag-drop regions transparent — engine and
    oracle byte-agree."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    b = (b"<head><meta name='robots' content='   '>"
         b"<meta name=' ROBOTS ' content=' NOINDEX,  NoFollow '>"
         b"<meta name='robots' content='loses'></head>"
         b"<body><div class='sidebar'>"
         b"<meta name='robots' content='hidden'></div><p>t</p></body>")
    e = extract_html(b)
    assert e == oracle_extract_full(b)
    assert e[13] == "noindex, nofollow"


def test_html_v14_robots_want_projection():
    from caraspark.pdfengine import process_document
    from caraspark.synth import PDF_RECIPES

    html = (b"<head><meta name='robots' content='noindex'></head>"
            b"<body><p>real text</p></body>")
    full = process_document(html)
    assert full.robots_meta == "noindex"
    only = process_document(html, want={"robots"})
    assert only.robots_meta == "noindex" and only.text is None
    none = process_document(html, want={"text"})
    assert none.robots_meta is None and none.text
    stats = process_document(html, want=())
    assert stats.robots_meta is None
    assert process_document(PDF_RECIPES["pdf_minimal"]()).robots_meta is None


def test_javascript_inventory_walks_every_hook():
    import hashlib

    from caraspark.pdfengine.document import extract_javascript, load_document
    from caraspark.synth import pdf_javascript

    rows = extract_javascript(load_document(pdf_javascript()))
    assert [(r["pos"], r["source"]) for r in rows] == [
        (0, "OpenAction"),
        (1, "OpenAction"),        # /Next chain
        (2, "AA:WC"),
        (3, "Names:init"),
        (4, "Names:setup"),       # stream-backed /JS (FlateDecode)
        (5, "Annot:0.0:A"),
        (6, "Annot:0.0:AA:K"),
    ]
    setup = rows[4]
    assert setup["js_len"] == len("function setup() { return 42; }")
    assert setup["js_head"] == "function setup() { return 42; }"
    assert (
        setup["js_md5"]
        == hashlib.md5(b"function setup() { return 42; }").hexdigest()
    )
    # strict-valid: action dicts + name tree satisfy the typedefs
    r = process_document(_blob("pdf_javascript"))
    assert r.valid and r.strict


def test_javascript_inventory_degenerate_shapes():
    from caraspark.pdfengine.document import extract_javascript, load_document
    from caraspark.synth import _assemble, _base_objects, _obj, pdf_minimal

    assert extract_javascript(load_document(pdf_minimal())) == []
    # cyclic /Next chain, non-string /JS, self-referential name tree —
    # must terminate and skip, never raise
    bodies = _base_objects(b"BT (x) Tj ET")
    bodies[1] = _obj(
        1,
        b"<< /Type /Catalog /Pages 2 0 R /OpenAction 5 0 R "
        b"/Names << /JavaScript 6 0 R >> >>",
    )
    bodies[5] = _obj(
        5, b"<< /S /JavaScript /JS 99 0 R /Next 5 0 R >>"
    )
    bodies[6] = _obj(6, b"<< /Kids [6 0 R] /Names [(a) null (b)] >>")
    rows = extract_javascript(load_document(_assemble(bodies)))
    assert rows == []  # /JS unresolvable -> no row; cycles capped


def test_html_v15_alternates_semantics():
    """v15 ALTERNATES: per-element triples in document order, lowercased
    hreflang/type, trimmed href, multi-token rel match, bare alternate
    counts as an empty triple, stylesheet excluded, boiler regions
    opaque, tag-drop (nav) regions transparent — engine and oracle
    byte-agree."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    b = (b"<head>"
         b"<link rel='alternate' hreflang=' FR-fr ' href=' /fr '>"
         b"<link rel='ALTERNATE stylesheet' type=' Application/RSS+XML '"
         b" href='/feed.xml'>"
         b"<link rel='alternate'>"
         b"<link rel='stylesheet' href='/css'>"
         b"<link rel='canonical' href='/c'></head>"
         b"<body><nav><link rel='alternate' hreflang='es' href='/es'>"
         b"</nav><div class='promo'>"
         b"<link rel='alternate' hreflang='de' href='/de'></div>"
         b"<p>real body text</p></body>")
    e = extract_html(b)
    assert e == oracle_extract_full(b)
    assert e[14] == [
        ("fr-fr", "", "/fr"),
        ("", "application/rss+xml", "/feed.xml"),
        ("", "", ""),
        ("es", "", "/es"),
    ]
    assert e[4] == "/c"  # canonical untouched by the shared link branch


def test_html_v15_alternates_want_projection():
    from caraspark.pdfengine import process_document
    from caraspark.synth import PDF_RECIPES

    html = (b"<head><link rel='alternate' hreflang='de' href='/de'></head>"
            b"<body><p>real text</p></body>")
    full = process_document(html)
    assert full.alternates == [("de", "", "/de")]
    only = process_document(html, want={"alternates"})
    assert only.alternates == [("de", "", "/de")] and only.text is None
    none = process_document(html, want={"text"})
    assert none.alternates is None and none.text
    stats = process_document(html, want=())
    assert stats.alternates is None
    assert process_document(PDF_RECIPES["pdf_minimal"]()).alternates == []


def test_javascript_prune_keeps_escaped_names():
    """The sidetable's byte-level prune (skip when neither b"/J" nor b"#"
    appears) must be SOUND: a doc whose /JavaScript name is #-escaped has
    no literal "/J" but does carry "#", so it survives the prune and the
    lexer's escape normalization still finds the action."""
    from caraspark.pdfengine.document import extract_javascript, load_document
    from caraspark.synth import _assemble, _base_objects, _obj

    bodies = _base_objects(b"BT (x) Tj ET")
    bodies[1] = _obj(
        1,
        b"<< /Type /Catalog /Pages 2 0 R "
        b"/OpenAction << /S /#4Aava#53cript /#4AS (app.alert(1);) >> >>",
    )
    blob = _assemble(bodies)
    assert b"/J" not in blob  # the #-escape is load-bearing for the prune
    assert b"#" in blob
    rows = extract_javascript(load_document(blob))
    assert len(rows) == 1 and rows[0]["source"] == "OpenAction"


def test_prune_skip_never_drops_objstm_or_escaped_docs():
    """_prune_skip must be SOUND: a doc whose marker name could hide
    inside a compressed object stream (any /ObjStm present) or behind a
    #-escape is never skipped, regardless of token; a plain doc without
    the marker is."""
    from caraspark.sidetables import _prune_skip
    from caraspark.synth import PDF_RECIPES, pdf_minimal

    # object streams present → never skip (marker may be compressed)
    objstm = PDF_RECIPES["pdf_objstm"]()
    assert b"/ObjStm" in objstm
    assert not _prune_skip(objstm, b"/NoSuchNameAnywhere")
    # escape byte present → never skip
    assert not _prune_skip(b"%PDF-1.4 /X#4A", b"/NoSuchNameAnywhere")
    # plain doc without the marker → skip; with it → keep
    plain = pdf_minimal()
    assert b"#" not in plain and b"/ObjStm" not in plain
    assert _prune_skip(plain, b"/EmbeddedFiles")
    assert not _prune_skip(plain, b"/Catalog")


def test_html_v16_refresh_meta_semantics():
    """v16 REFRESH: first-wins with empty-content decoys skipped,
    trimmed+lowercased http-equiv match, lowercased+normalized capture,
    boiler regions opaque — engine and oracle byte-agree."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    b = (b"<head><meta http-equiv='refresh' content='  '>"
         b"<meta HTTP-EQUIV=' Refresh ' content=' 0;   URL=/Next '>"
         b"<meta http-equiv='refresh' content='9;url=/loses'></head>"
         b"<body><div class='sidebar'>"
         b"<meta http-equiv='refresh' content='1;url=/hidden'></div>"
         b"<p>t</p></body>")
    e = extract_html(b)
    assert e == oracle_extract_full(b)
    assert e[15] == "0; url=/next"


def test_html_v16_refresh_want_projection():
    from caraspark.pdfengine import process_document
    from caraspark.synth import PDF_RECIPES

    html = (b"<head><meta http-equiv='refresh' content='0;url=/n'></head>"
            b"<body><p>real text</p></body>")
    full = process_document(html)
    assert full.refresh_meta == "0;url=/n"
    only = process_document(html, want={"refresh"})
    assert only.refresh_meta == "0;url=/n" and only.text is None
    none = process_document(html, want={"text"})
    assert none.refresh_meta is None and none.text
    stats = process_document(html, want=())
    assert stats.refresh_meta is None
    assert process_document(PDF_RECIPES["pdf_minimal"]()).refresh_meta is None


def test_html_v17_base_href_semantics():
    """v17 BASEHREF: first-wins with href-less decoys skipped, trimmed
    but case-preserved, drop regions transparent (head contract), boiler
    regions opaque — engine and oracle byte-agree."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    b = (b"<head><base target='_blank'>"
         b"<base href=' /Docs/Sub/ '>"
         b"<base href='/loses/'></head>"
         b"<body><div class='sidebar'><base href='/hidden/'></div>"
         b"<p>t</p></body>")
    e = extract_html(b)
    assert e == oracle_extract_full(b)
    assert e[16] == "/Docs/Sub/"
    # drop-region (nav) base IS collected; boiler stays opaque
    b2 = (b"<nav><base href='https://CDN.example/A/'></nav><p>t</p>")
    e2 = extract_html(b2)
    assert e2 == oracle_extract_full(b2)
    assert e2[16] == "https://CDN.example/A/"


def test_html_v17_base_want_projection():
    from caraspark.pdfengine import process_document
    from caraspark.synth import PDF_RECIPES

    html = (b"<head><base href='/b/'></head><body><p>real text</p></body>")
    full = process_document(html)
    assert full.base_href == "/b/"
    only = process_document(html, want={"base"})
    assert only.base_href == "/b/" and only.text is None
    none = process_document(html, want={"text"})
    assert none.base_href is None and none.text
    stats = process_document(html, want=())
    assert stats.base_href is None
    assert process_document(PDF_RECIPES["pdf_minimal"]()).base_href is None


def test_action_census_covers_every_hook():
    """extract_actions must see OpenAction /Next chains, catalog /AA,
    annotation /A, and outline-item /A, with per-subtype targets."""
    from caraspark.pdfengine.document import extract_actions, load_document
    from caraspark.synth import _assemble, _base_objects, _obj

    bodies = _base_objects(b"BT (x) Tj ET")
    bodies[1] = _obj(
        1,
        b"<< /Type /Catalog /Pages 2 0 R /Outlines 6 0 R"
        b" /OpenAction << /S /Launch /F (evil.exe)"
        b" /Next << /S /Named /N /NextPage >> >>"
        b" /AA << /WC << /S /URI /URI (https://exfil.example/x) >> >> >>",
    )
    bodies[3] = _obj(
        3,
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Contents 4 0 R /Annots [5 0 R] >>",
    )
    bodies[5] = _obj(
        5,
        b"<< /Type /Annot /Subtype /Link /Rect [0 0 9 9]"
        b" /A << /S /GoToR /F (other.pdf) /D (sec1) >> >>",
    )
    bodies[6] = _obj(6, b"<< /Type /Outlines /First 7 0 R /Count 1 >>")
    bodies[7] = _obj(
        7,
        b"<< /Title (chap) /Parent 6 0 R"
        b" /A << /S /SubmitForm /F << /FS /URL"
        b" /F (https://collect.example/p) >> >> >>",
    )
    rows = extract_actions(load_document(_assemble(bodies)))
    got = {(r["source"], r["s"]): r["target"] for r in rows}
    assert got[("OpenAction", "Launch")] == "evil.exe"
    assert got[("OpenAction", "Named")] == "NextPage"
    assert got[("AA:WC", "URI")] == "https://exfil.example/x"
    assert got[("Annot:0.0:A", "GoToR")] == "other.pdf"
    assert got[("Outline:0:A", "SubmitForm")] == "https://collect.example/p"
    assert [r["pos"] for r in rows] == list(range(len(rows)))


def test_html_v18_forms_semantics():
    """v18 FORMS: element collected despite its own tag-drop, method
    lowercased with 'get' default, action trimmed case-preserved, nav/
    boiler/self-boiler/nested forms excluded — engine and oracle agree."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    b = (b"<body><form method=' POST ' action=' /Login '><input></form>"
         b"<form action='q.php'></form><form></form>"
         b"<nav><form action='/n'></form></nav>"
         b"<div class='sidebar'><form action='/b'></form></div>"
         b"<form class='promo' action='/ad'></form>"
         b"<form action='/outer'><form action='/inner'></form></form>"
         b"<p>t</p></body>")
    e = extract_html(b)
    assert e == oracle_extract_full(b)
    assert e[17] == [("post", "/Login"), ("get", "q.php"), ("get", ""),
                     ("get", "/outer")]
    # form subtree text stays dropped
    b2 = b"<body><form action='/x'><p>chrome text</p></form><p>real</p></body>"
    e2 = extract_html(b2)
    assert e2 == oracle_extract_full(b2)
    assert e2[0] == b"real" and e2[17] == [("get", "/x")]


def test_html_v18_forms_want_projection():
    from caraspark.pdfengine import process_document
    from caraspark.synth import PDF_RECIPES

    html = b"<body><form action='/s'></form><p>real text</p></body>"
    full = process_document(html)
    assert full.forms == [("get", "/s")]
    only = process_document(html, want={"forms"})
    assert only.forms == [("get", "/s")] and only.text is None
    none = process_document(html, want={"text"})
    assert none.forms is None and none.text
    stats = process_document(html, want=())
    assert stats.forms is None
    assert process_document(PDF_RECIPES["pdf_minimal"]()).forms == []


def test_html_v19_pagination_semantics():
    """v19 PAGINATION: first-wins per slot, empty-href decoys skipped,
    rel token contract with the 'previous' synonym, nav-wrapped links
    collected (HEADMETA despite tag-drop), boiler regions opaque —
    engine and oracle agree."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    b = (b"<html><head><link rel='next' href=''>"
         b"<link rel=' NEXT alternate ' href=' /Page2 '>"
         b"<link rel='next' href='/next-loses'>"
         b"<nav><link rel='Previous' href='?p=0'></nav>"
         b"<link rel='prev' href='/prev-loses'>"
         b"</head><body>"
         b"<div class='sidebar'><link rel='next' href='/hid'></div>"
         b"<p>t</p></body></html>")
    e = extract_html(b)
    assert e == oracle_extract_full(b)
    assert e[18] == "/Page2" and e[19] == "?p=0"
    # the multi-token winner also feeds v15 ALTERNATES (rel holds both)
    assert ("", "", "/Page2") in e[14]
    # boiler region opaque: hidden link BEFORE the real one must not win
    b2 = (b"<body><div class='promo'><link rel='next' href='/hid'></div>"
          b"<link rel='next' href='/real'><p>x</p></body>")
    e2 = extract_html(b2)
    assert e2 == oracle_extract_full(b2)
    assert e2[18] == "/real" and e2[19] is None
    # one element can win both slots
    b3 = b"<link rel='next prev' href='/both'><p>x</p>"
    e3 = extract_html(b3)
    assert e3 == oracle_extract_full(b3)
    assert e3[18] == e3[19] == "/both"


def test_html_v19_pagination_want_projection():
    from caraspark.pdfengine import process_document
    from caraspark.synth import PDF_RECIPES

    html = (b"<body><link rel='next' href='/n'>"
            b"<link rel='prev' href='/p'><p>real text</p></body>")
    full = process_document(html)
    assert full.next_href == "/n" and full.prev_href == "/p"
    only = process_document(html, want={"pagination"})
    assert only.next_href == "/n" and only.prev_href == "/p"
    assert only.text is None
    none = process_document(html, want={"text"})
    assert none.next_href is None and none.prev_href is None and none.text
    stats = process_document(html, want=())
    assert stats.next_href is None and stats.prev_href is None
    pdf = process_document(PDF_RECIPES["pdf_minimal"]())
    assert pdf.next_href is None and pdf.prev_href is None


def test_extract_revisions_update_chain():
    """Per-revision forensics: the incremental-update recipe shows the
    newest save owning exactly the objects it rewrote, classic vs
    xref-stream trailer kinds discriminate, and the hybrid flag rides
    the /XRefStm bridge."""
    from caraspark.pdfengine.document import extract_revisions, load_document
    from caraspark.synth import PDF_RECIPES

    upd = extract_revisions(load_document(PDF_RECIPES["pdf_updated"]()))
    assert [r["rev"] for r in upd] == [0, 1]
    assert upd[0]["has_prev"] and not upd[1]["has_prev"]
    assert upd[0]["n_won"] >= 1  # the rewritten object belongs to rev 0
    assert all(r["kind"] == "classic" for r in upd)

    xs = extract_revisions(load_document(PDF_RECIPES["pdf_xrefstream"]()))
    assert xs[0]["kind"] == "stream" and not xs[0]["has_xrefstm"]

    hy = extract_revisions(load_document(PDF_RECIPES["pdf_hybrid"]()))
    assert hy[0]["kind"] == "classic" and hy[0]["has_xrefstm"]

    # totality: revisions of garbage = no trailers, empty list
    assert extract_revisions(load_document(b"%PDF-1.4\ngarbage")) == []


def test_extract_pages_agrees_with_document_spans():
    """Per-page facts must agree with the whole-document extraction on
    every PDF recipe: same page count as the page:<i> spans, and each
    span's byte length equals that page's text_len (the form-feed join
    is the only difference between the two views)."""
    from caraspark.pdfengine.document import load_document
    from caraspark.pdfengine.textextract import (
        extract_pages,
        extract_text_spans,
    )
    from caraspark.synth import PDF_RECIPES

    checked = 0
    for name, fn in PDF_RECIPES.items():
        doc = load_document(fn())
        rows = extract_pages(doc)
        _, spans = extract_text_spans(doc, [])
        if not spans:
            continue
        assert len(spans) == len(rows), name
        for (s, e, lbl), r in zip(spans, rows):
            assert lbl == f"page:{r['page']}", name
            assert e - s == r["text_len"], (name, lbl)
        checked += 1
    assert checked >= 30  # most recipes produce text


def test_extract_fonts_embedding_discrimination():
    """Font census: the embedded-font recipe discriminates all three
    embedding shapes — Type1 with descriptor /FontFile (embedded),
    standard-14 fallback (not), and Type0 embedded THROUGH its
    descendant CIDFont's /FontFile2."""
    from caraspark.pdfengine.document import extract_fonts, load_document
    from caraspark.synth import PDF_RECIPES

    rows = {
        r["base_font"]: r
        for r in extract_fonts(
            load_document(PDF_RECIPES["pdf_embedded_font"]())
        )
    }
    assert rows["SynthEmbedded"]["embedded"] is True
    assert rows["SynthEmbedded"]["subtype"] == "Type1"
    assert rows["Helvetica"]["embedded"] is False
    t0 = rows["SynthCID-Emb"]
    assert t0["embedded"] is True  # via descendant descriptor
    # garbage-totality: no fonts, no crash
    assert extract_fonts(load_document(b"%PDF-1.4\njunk")) == []


def test_extract_signatures_coverage_shapes():
    """Signature forensics: the intact recipe's ByteRange covers the
    whole file (unsigned_tail 0, starts at byte 0, two ranges); the
    incrementally-updated twin leaves every appended byte unsigned —
    exactly the update appendix length; garbage-totality on unsigned
    and non-PDF inputs."""
    from caraspark.pdfengine.document import (
        extract_signatures,
        load_document,
    )
    from caraspark.synth import PDF_RECIPES

    intact = PDF_RECIPES["pdf_signed"]()
    rows = extract_signatures(load_document(intact), len(intact))
    assert len(rows) == 1
    r = rows[0]
    assert (r["filter"], r["subfilter"]) == (
        "Adobe.PPKLite", "adbe.pkcs7.detached"
    )
    assert r["n_ranges"] == 2 and r["starts_at_zero"] is True
    assert r["unsigned_tail"] == 0

    upd = PDF_RECIPES["pdf_signed_updated"]()
    rows = extract_signatures(load_document(upd), len(upd))
    assert rows[0]["unsigned_tail"] == len(upd) - len(intact)
    assert rows[0]["unsigned_tail"] > 0

    plain = PDF_RECIPES["pdf_minimal"]()
    assert extract_signatures(load_document(plain), len(plain)) == []
    assert extract_signatures(load_document(b"%PDF-1.4\njunk"), 13) == []


def test_extract_xmp_dual_metadata_crosscheck():
    """XMP harvest: agreeing packet+Info → title_match True; planted
    disagreement → False; packet without dc fields (the catalog-extras
    recipe's empty xmpmeta) → all-None row with None match; no-packet
    and garbage inputs → no rows."""
    from caraspark.pdfengine.document import extract_xmp, load_document
    from caraspark.synth import PDF_RECIPES

    rows = extract_xmp(load_document(PDF_RECIPES["pdf_xmp"]()))
    assert len(rows) == 1 and rows[0]["title_match"] is True
    assert rows[0]["xmp_title"] == "Synth XMP Title"
    assert rows[0]["create_date"] == "2026-01-02T03:04:05Z"

    rows = extract_xmp(load_document(PDF_RECIPES["pdf_xmp_mismatch"]()))
    assert rows[0]["title_match"] is False
    assert rows[0]["info_title"] == "Original Title"

    plain = extract_xmp(load_document(PDF_RECIPES["pdf_minimal"]()))
    assert plain == []
    assert extract_xmp(load_document(b"%PDF-1.4\njunk")) == []


def test_html_v20_microdata_semantics():
    """v20 MICRODATA: one tuple per itemprop token in element-OPEN
    order; itemscope indices per element; nested item pointer-valued on
    its parent; WHATWG attribute value table (meta content normalized,
    href/src/datetime/value trimmed); text captures innermost-bound and
    filled at close (EOF included); NORMAL-path placement — tag-drop
    (nav/head) subtrees and boiler regions opaque, unlike v13 — engine
    and oracle byte-agree."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    b = (b"<html><head><meta itemprop='inhead' content='never'></head>"
         b"<body><div itemscope itemtype=' T1 '>"
         b"<h1 itemprop='name headline'>Big <b>Story</b></h1>"
         b"<a itemprop='url' href=' /s '>go</a>"
         b"<meta itemprop='count' content=' 4  2 '>"
         b"<time itemprop='when' datetime='2026-01-02'>Jan</time>"
         b"<time itemprop='nodate'>Jan</time>"
         b"<data itemprop='sku' value='S9'>x</data>"
         b"<div itemprop='author' itemscope itemtype='T2'>"
         b"<span itemprop='who'>Ada  L</span></div>"
         b"<span itemprop='about'>out <span itemprop='in'>nest</span>"
         b" tail</span>"
         b"<div class='sidebar'><span itemprop='boiler'>no</span></div>"
         b"<nav><span itemprop='chrome'>no</span></nav>"
         b"<span itemprop='flag'/>"
         b"<span itemprop=''>empty prop, no tuple</span>"
         b"</div><p itemprop='stray'>orphan</p>"
         b"<div itemscope itemtype='T3'><p itemprop='open'>to eof")
    e = extract_html(b)
    assert e == oracle_extract_full(b)
    assert e[20] == [
        (0, "T1", "name", "Big Story"),
        (0, "T1", "headline", "Big Story"),
        (0, "T1", "url", "/s"),
        (0, "T1", "count", "4 2"),
        (0, "T1", "when", "2026-01-02"),
        (0, "T1", "nodate", ""),
        (0, "T1", "sku", "S9"),
        (0, "T1", "author", "item:1"),
        (1, "T2", "who", "Ada L"),
        (0, "T1", "about", "out tail"),
        (0, "T1", "in", "nest"),
        (0, "T1", "flag", ""),
        (-1, "", "stray", "orphan"),
        (2, "T3", "open", "to eof"),
    ]


def test_html_v20_microdata_region_and_nesting_edges():
    """v20 edge semantics both witnesses must share: a same-tag nested
    plain element inside an item keeps the item open across its close;
    a boiler-classed itemscope never becomes an item (index not
    consumed); an itemscope+itemprop element with no open parent points
    from item -1; closing a container force-closes the items stacked
    above it (unbalanced close)."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    b = (b"<body>"
         b"<div class='promo' itemscope itemtype='NO'>"
         b"<span itemprop='x'>hidden</span></div>"
         b"<div itemscope itemtype='A'>"
         b"<div><p itemprop='p1'>inner div survives</p></div>"
         b"<section itemscope itemtype='B' itemprop='child'>"
         b"</div>"  # closes A AND force-closes B stacked above it
         b"<p itemprop='after'>outside both</p>")
    e = extract_html(b)
    assert e == oracle_extract_full(b)
    assert e[20] == [
        (0, "A", "p1", "inner div survives"),
        (0, "A", "child", "item:1"),
        (-1, "", "after", "outside both"),
    ]


def test_html_v20_microdata_want_projection():
    from caraspark.pdfengine import process_document
    from caraspark.synth import PDF_RECIPES

    html = (b"<body><div itemscope itemtype='T'>"
            b"<span itemprop='n'>v</span></div>"
            b"<p>real text</p></body>")
    full = process_document(html)
    assert full.microdata == [(0, "T", "n", "v")]
    only = process_document(html, want={"microdata"})
    assert only.microdata == [(0, "T", "n", "v")] and only.text is None
    none = process_document(html, want={"text"})
    assert none.microdata is None and none.text
    stats = process_document(html, want=())
    assert stats.microdata is None
    assert process_document(PDF_RECIPES["pdf_minimal"]()).microdata == []


def test_html_v21_rdfa_semantics():
    """v21 RDFA: one tuple per property token in element-OPEN order;
    typeof subjects indexed per element; chained subject pointer-valued
    on its parent; vocab regions apply to the element itself and reset
    on vocab=""; RDFa-Lite value precedence (content on any tag beats
    resource beats href/src/datetime); text captures innermost-bound
    and filled at close (EOF included); NORMAL-path placement — engine
    and oracle byte-agree."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    b = (b"<html><head><meta property='inhead' content='never'></head>"
         b"<body vocab=' V1 '><div typeof=' T1 '>"
         b"<h1 property='name headline'>Big <b>Story</b></h1>"
         b"<a property='url' href=' /s '>go</a>"
         b"<a property='curl' href='/h' content=' c  1 '>t</a>"
         b"<span property='res' resource=' R '>ignored</span>"
         b"<meta property='count' content=' 4  2 '>"
         b"<time property='when' datetime='2026-01-02'>Jan</time>"
         b"<time property='nodate'>Jan</time>"
         b"<div property='author' typeof='T2'>"
         b"<span property='who'>Ada  L</span></div>"
         b"<div vocab=''><span property='reset'>bare</span></div>"
         b"<span property='about'>out <span property='in'>nest</span>"
         b" tail</span>"
         b"<div class='sidebar'><span property='boiler'>no</span></div>"
         b"<nav><span property='chrome'>no</span></nav>"
         b"<span property='flag'/>"
         b"<link property='voidflag'>"
         b"<span property=''>empty prop, no tuple</span>"
         b"</div><p property='stray'>orphan</p>"
         b"<div typeof='T3'><p property='open'>to eof")
    e = extract_html(b)
    assert e == oracle_extract_full(b)
    assert e[21] == [
        (0, "V1", "T1", "name", "Big Story"),
        (0, "V1", "T1", "headline", "Big Story"),
        (0, "V1", "T1", "url", "/s"),
        (0, "V1", "T1", "curl", "c 1"),
        (0, "V1", "T1", "res", "R"),
        (0, "V1", "T1", "count", "4 2"),
        (0, "V1", "T1", "when", "2026-01-02"),
        # unlike v20's attribute-pure time, v21 is presence-tested:
        # a time with no datetime falls through to text capture
        (0, "V1", "T1", "nodate", "Jan"),
        (0, "V1", "T1", "author", "item:1"),
        (1, "V1", "T2", "who", "Ada L"),
        (0, "", "T1", "reset", "bare"),
        (0, "V1", "T1", "about", "out tail"),
        (0, "V1", "T1", "in", "nest"),
        (0, "V1", "T1", "flag", ""),
        (0, "V1", "T1", "voidflag", ""),
        (-1, "V1", "", "stray", "orphan"),
        (2, "V1", "T3", "open", "to eof"),
    ]


def test_html_v21_rdfa_region_and_void_edges():
    """v21 edge semantics both witnesses must share: a same-tag nested
    plain element inside a subject keeps it open across its close; a
    boiler-classed typeof never becomes a subject (index not consumed);
    a typeof+property element with no open parent points from item -1;
    closing a container force-closes subjects stacked above it; void
    elements (meta typeof, img property) never root regions; a
    vocab-only element must not suspend an enclosing text capture."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    b = (b"<body>"
         b"<div class='promo' typeof='NO'>"
         b"<span property='x'>hidden</span></div>"
         b"<div typeof='A'>"
         b"<div><p property='p1'>inner div survives</p></div>"
         b"<meta typeof='M'><img property='im'>"
         b"<span property='cap'>a <span vocab='W'>b</span> c</span>"
         b"<section typeof='B' property='child'>"
         b"</div>"
         b"<p property='after'>outside both</p>")
    e = extract_html(b)
    assert e == oracle_extract_full(b)
    assert e[21] == [
        (0, "", "A", "p1", "inner div survives"),
        (0, "", "A", "im", ""),
        (0, "", "A", "cap", "a b c"),
        (0, "", "A", "child", "item:2"),
        (-1, "", "", "after", "outside both"),
    ]


def test_html_v21_rdfa_want_projection():
    from caraspark.pdfengine import process_document
    from caraspark.synth import PDF_RECIPES

    html = (b"<body><div vocab='V' typeof='T'>"
            b"<span property='n'>v</span></div>"
            b"<p>real text</p></body>")
    full = process_document(html)
    assert full.rdfa == [(0, "V", "T", "n", "v")]
    only = process_document(html, want={"rdfa"})
    assert only.rdfa == [(0, "V", "T", "n", "v")] and only.text is None
    none = process_document(html, want={"text"})
    assert none.rdfa is None and none.text
    stats = process_document(html, want=())
    assert stats.rdfa is None
    assert process_document(PDF_RECIPES["pdf_minimal"]()).rdfa == []


_SD_ATTR_ST = st.sampled_from(
    ["", " itemscope", " itemscope itemtype='T'", " itemprop='a'",
     " itemprop='a b'", " itemscope itemprop='k'", " typeof='T'",
     " property='p'", " property='p q'", " typeof='T' property='k'",
     " vocab='V'", " vocab=''", " vocab='V' typeof='T'",
     " content=' c  c '", " resource=' r '", " href='/h'",
     " class='sidebar' itemprop='x'", " class='sidebar' property='x'"]
)
_SD_TAG_ST = st.sampled_from(
    ["div", "p", "span", "section", "a", "meta", "time", "nav", "li"]
)


@settings(max_examples=120, deadline=None)
@given(
    st.lists(
        st.tuples(
            _SD_TAG_ST, _SD_ATTR_ST,
            st.sampled_from(["open", "self", "close"]),
            st.text(alphabet="ab x\n", min_size=0, max_size=6),
        ),
        max_size=10,
    )
)
def test_html_v20_v21_structured_data_fuzz(frags):
    """Property differential for BOTH structured-data tuple surfaces:
    random microdata/RDFa attribute soup over arbitrarily unbalanced
    open/self-closing/close event streams — the two independent
    witnesses must emit identical v20 and v21 tuple lists (and agree on
    every other surface)."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    parts = []
    for tag, attrs, kind, txt in frags:
        if kind == "open":
            parts.append(f"<{tag}{attrs}>{txt}")
        elif kind == "self":
            parts.append(f"<{tag}{attrs}/>{txt}")
        else:
            parts.append(f"</{tag}>{txt}")
    blob = ("<html><body>" + "".join(parts)).encode("utf-8")
    assert extract_html(blob) == oracle_extract_full(blob)


# --- xref-free scavenging ----------------------------------------------------


def test_scavenge_recovers_when_xref_is_dead():
    """pdf_truncated has no startxref: the normal load resolves nothing,
    the scavenger still recovers every surviving object header."""
    from caraspark.pdfengine.document import scavenge_summary

    nm, np_, nc, ns, nx = scavenge_summary(PDF_RECIPES["pdf_truncated"]())
    assert nx == 0          # xref dead
    assert nm >= 3 and np_ == nm  # recovery still parses every header
    assert nc == 0 and ns == nm   # everything is shadow by definition


def test_scavenge_flags_the_tweaked_xref_offset():
    from caraspark.pdfengine.document import scavenge_summary

    nm, np_, nc, ns, nx = scavenge_summary(
        PDF_RECIPES["pdf_bad_xref_offset"]()
    )
    assert ns == 1 and nc == nm - 1  # exactly the mis-pointed entry


def test_scavenge_sees_superseded_revision():
    """Incremental update leaves the OLD object body in the file: the
    xref owns only the winner, the scavenger reports one shadow."""
    from caraspark.pdfengine.document import scavenge_summary

    nm, np_, nc, ns, nx = scavenge_summary(PDF_RECIPES["pdf_updated"]())
    assert ns == 1 and nm == nx + 1


def test_scavenge_clean_doc_all_confirmed():
    from caraspark.pdfengine.document import scavenge_summary

    nm, np_, nc, ns, nx = scavenge_summary(PDF_RECIPES["pdf_minimal"]())
    assert nm == np_ == nc == nx and ns == 0


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=400), st.integers(0, 3))
def test_scavenge_never_throws(junk, n):
    """Hostile bytes around (and instead of) object headers: the
    scavenger is throw-free, bounded, and monotone in header count."""
    from caraspark.pdfengine.document import scavenge_objects

    blob = junk + b"1 0 obj\n<< /A 1 >>\nendobj\n" * n + junk
    rows = scavenge_objects(blob)
    assert len(rows) >= n
    for r in rows:
        assert isinstance(r["parse_ok"], bool)
        assert 0 <= r["offset"] < len(blob)


def test_extract_annotations_census():
    """Annotation rows carry page order, subtypes, and the A/AA/AP
    flags; the acroform recipe's widgets and the link-annot recipes'
    links must both appear."""
    from caraspark.pdfengine.document import extract_annotations, load_document
    from caraspark.synth import PDF_RECIPES

    total = 0
    subtypes = set()
    for name, fn in sorted(PDF_RECIPES.items()):
        rows = extract_annotations(load_document(fn()))
        total += len(rows)
        for i, r in enumerate(rows):
            assert r["pos"] == i
            assert r["page_idx"] >= 0
            subtypes.add(r["subtype"])
    assert total >= 10
    # (the acroform recipe's fields live only under /AcroForm /Fields —
    # widgets here come from recipes that also link them on a page)
    assert "Widget" in subtypes and "Link" in subtypes


def test_annotation_pages_are_the_text_pages():
    """An inline page dict in /Kids is no page to the page walk, so the
    annotation and action censuses number pages as text extraction does:
    object 3 is page 0 for all three, and the inline page's Link is not
    counted."""
    from caraspark.pdfengine.document import (
        extract_actions,
        extract_annotations,
        load_document,
    )
    from caraspark.pdfengine.textextract import extract_pages
    from caraspark.synth import _assemble, _obj, _stream_obj

    blob = _assemble(
        {
            1: _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>"),
            2: _obj(
                2,
                b"<< /Type /Pages /Count 2 /Kids [<< /Type /Page /Parent 2 0 R "
                b"/MediaBox [0 0 612 792] /Annots [<< /Type /Annot /Subtype /Link "
                b"/Rect [0 0 9 9] >>] >> 3 0 R] >>",
            ),
            3: _obj(
                3,
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                b"/Contents 4 0 R /Annots [<< /Type /Annot /Subtype /Text "
                b"/Rect [0 0 9 9] /A << /S /URI /URI (https://a.example/) >> >>] >>",
            ),
            4: _stream_obj(4, b"", b"BT (Hello) Tj ET"),
        }
    )
    doc = load_document(blob)
    assert [p["obj"] for p in extract_pages(doc)] == ["3.0"]
    assert [(a["subtype"], a["page_idx"]) for a in extract_annotations(doc)] == [
        ("Text", 0)
    ]
    assert [a["source"] for a in extract_actions(doc)] == ["Annot:0.0:A"]


def test_overlap_between_equal_spans_names_the_later_label():
    """Two xref entries at one offset give two objects the same byte span:
    the owner whose label sorts first ("obj:10.0" < "obj:5.0") holds the
    span and the other is reported, whatever the fetch order."""
    from caraspark.synth import CONTENT_HELLO, _assemble, _base_objects, _obj

    bodies = _base_objects(CONTENT_HELLO)
    bodies[5] = _obj(5, b"<< /Shared true >>")
    bodies[10] = _obj(10, b"<< /Other true >>")
    plain = _assemble(bodies)
    off5, off10 = (plain.index(b"\n%d 0 obj" % n) for n in (5, 10))
    r = process_document(_assemble(bodies, offset_tweak={10: off5 - off10}))
    overlaps = [e for e in r.errors_as_rows() if e["code"] == "file.overlap"]
    assert [(e["pos"], e["msg"]) for e in overlaps] == [(off5 + 1, "obj:5.0")]


def test_content_op_histogram_text_ops_match_extraction():
    """Recipes whose extraction produces text must show text-show
    operators; inline-image payload bytes never lex into junk ops."""
    from caraspark.pdfengine.api import process_document
    from caraspark.pdfengine.document import load_document
    from caraspark.pdfengine.textextract import content_op_histogram
    from caraspark.synth import PDF_RECIPES

    saw_text_ops = False
    for name, fn in sorted(PDF_RECIPES.items()):
        blob = fn()
        hist = {r["op"]: r["n"] for r in content_op_histogram(load_document(blob))}
        res = process_document(blob)
        if res.text and len(res.text.strip()) > 0 and res.valid:
            if "Tj" in hist or "TJ" in hist:
                saw_text_ops = True
        # the PNG-signature byte of an inline image payload must not
        # appear as an operator (BI skip works)
        assert "\x89" not in hist, (name, hist)
    assert saw_text_ops


def test_stream_stats_separates_text_from_compressed():
    """Flate-compressed payloads must look dispersed (many distinct
    bytes) relative to plain text streams, and undecodable streams
    report decoded=False with raw-byte stats."""
    from caraspark.pdfengine.document import load_document, stream_stats
    from caraspark.synth import PDF_RECIPES

    saw_plain = saw_dispersed = saw_undecodable = False
    for name, fn in sorted(PDF_RECIPES.items()):
        for r in stream_stats(load_document(fn())):
            assert 0 <= r["n_distinct"] <= 256
            assert 0 <= r["top_permille"] <= 1000
            if r["n_bytes"] > 0:
                assert r["n_distinct"] >= 1 and r["top_permille"] >= 1
            if r["decoded"] and r["n_bytes"] > 20 and r["n_distinct"] < 64:
                saw_plain = True
            if r["n_bytes"] > 20 and r["n_distinct"] > 128:
                saw_dispersed = True
            if not r["decoded"]:
                saw_undecodable = True
    assert saw_plain and saw_undecodable


# --- broad-spectrum HTML differential fuzz -----------------------------------

_SOUP_TAG_ST = st.sampled_from(
    ["div", "p", "span", "a", "nav", "header", "footer", "aside", "script",
     "style", "pre", "h1", "h2", "h6", "ul", "ol", "li", "table", "tr",
     "td", "th", "img", "form", "meta", "link", "base", "title", "body",
     "html", "br", "noscript", "template", "blockquote"]
)
_SOUP_ATTR_ST = st.sampled_from(
    ["", " href='/x'", ' href="h ttp"', " href=bare", " src='i.png' alt='A'",
     " rel='canonical' href='/c'", " rel='alternate' hreflang='de' href='/d'",
     " rel='next' href='/2'", " name='description' content='D'",
     " name='robots' content='NOINDEX, nofollow'",
     " property='og:title' content='T'", " http-equiv='refresh'"
     " content='5; URL=/r'", " method='POST' action='/s'",
     " class='sidebar'", " class='content main'", " type='application/"
     "ld+json'", " charset='utf-8'", " href=''", " itemscope itemprop='z'"]
)
_SOUP_TEXT_ST = st.sampled_from(
    ["", "x", "a b", "&amp;", "&#65;", "&#x41;", "&bogus;", "&", "< 3",
     ">", "{\"a\":1}", "word " * 12, "\n\t ", "é中", "]]>", "--"]
)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            _SOUP_TAG_ST, _SOUP_ATTR_ST,
            st.sampled_from(["open", "self", "close", "comment", "decl"]),
            _SOUP_TEXT_ST,
        ),
        max_size=14,
    )
)
def test_html_full_surface_soup_differential(frags):
    """Broad-spectrum property differential over ALL 22 extraction
    surfaces at once: arbitrarily unbalanced soup spanning drop-subtree
    tags (nav/script/style), rawtext islands (pre, ld+json), head
    metadata (title/meta/link/base), structure harvests (tables, lists,
    headings, forms, images), entity edge cases, and comments/doctype
    noise — the engine and the frozen xref-free oracle must emit the
    IDENTICAL full tuple."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    parts = []
    for tag, attrs, kind, txt in frags:
        if kind == "open":
            parts.append(f"<{tag}{attrs}>{txt}")
        elif kind == "self":
            parts.append(f"<{tag}{attrs}/>{txt}")
        elif kind == "comment":
            parts.append(f"<!-- {txt} -->{txt}")
        elif kind == "decl":
            parts.append(f"<!DOCTYPE html>{txt}")
        else:
            parts.append(f"</{tag}>{txt}")
    blob = "".join(parts).encode("utf-8")
    assert extract_html(blob) == oracle_extract_full(blob)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=400))
def test_html_raw_bytes_total_and_identical(blob):
    """Both witnesses are TOTAL on arbitrary bytes (hostile encodings,
    truncated multi-byte sequences, NULs, stray brackets) and still
    agree byte-for-byte on every surface — the property that makes the
    extraction safe on a raw crawl column."""
    from caraspark.htmlengine import extract_html
    from oracle.text_oracle import oracle_extract_full

    assert extract_html(blob) == oracle_extract_full(blob)


def test_objstm_member_that_is_a_bare_keyword_stores_no_object():
    """An object-stream member that parses to nothing (here /Pages is
    overwritten in place by ``endobj``) is an ``objstm.empty_member``
    error and no object: the catalog's /Pages then dangles, and every
    entry point that serialises objects still returns."""
    from caraspark.sidetables import CLEANUP, OBJECTS, REPAIR
    from caraspark.synth import _xref_stream_pdf

    pages = b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
    blob = _xref_stream_pdf(objstm=True)
    assert blob.count(pages) == 1
    blob = blob.replace(pages, b"endobj".ljust(len(pages)))
    r = process_document(blob, want_objects=True)
    errs = {(e.code, e.obj) for e in r.errors}
    assert ("objstm.empty_member", (2, 0)) in errs
    assert ("graph.dangling_ref", (2, 0)) in errs
    assert not r.valid and "2.0" not in r.objects_json
    assert [row["num"] for row in OBJECTS.rows("u", blob)] == [1, 3, 4, 5, 6]
    assert len(CLEANUP.rows("u", blob)) == 1
    assert REPAIR.rows("u", blob)[0]["repaired_valid"] is False
