"""Stream-filter kernels against the independent decoders in
``oracle/text_oracle.py`` (no code shared with the engine), plus the exact
error text each kernel reports for malformed input."""

from __future__ import annotations

import base64
import binascii
import random
import re
import zlib

import pytest
from hypothesis import given, settings, strategies as st

from caraspark.pdfengine.filters import (
    _ascii_85,
    _ascii_hex,
    _lzw,
    _undo_predictor,
    decode_stream,
)
from caraspark.pdfengine.model import Name
from caraspark.synth import _lzw_encode
from oracle.text_oracle import _decode as oracle_decode
from oracle.text_oracle import _undo_png_predictor as oracle_png

WS = [b" ", b"\n", b"\r\n", b"\t", b"\x0c", b"\x00"]


def _png_stream(tags, rowlen, rng, tail=0):
    """PNG-predicted bytes: one tag byte plus ``rowlen`` random bytes per row,
    then ``tail`` bytes of a partial row."""
    body = bytearray()
    for t in tags:
        body.append(t)
        body += rng.randbytes(rowlen)
    return bytes(body + rng.randbytes(tail))


def _engine_png(data, columns, colors=1, bpc=8, predictor=12):
    errors = []
    parms = {"Predictor": predictor, "Columns": columns, "Colors": colors,
             "BitsPerComponent": bpc}
    out = _undo_predictor(data, parms, errors, (4, 0), None)
    return out, [e.code for e in errors]


def _geometry(columns, colors, bpc):
    return (columns * colors * bpc + 7) // 8, max(1, (colors * bpc + 7) // 8)


# --- PNG predictors ----------------------------------------------------------


@settings(max_examples=300, deadline=None)
@given(
    alphabet=st.sampled_from([(0, 1, 2), (2,), (1, 2), (0, 1, 2, 3, 4), (3, 4), (2, 4)]),
    picks=st.lists(st.integers(0, 99), max_size=14),
    columns=st.integers(0, 9),
    colors=st.sampled_from([1, 2, 3, 4]),
    bpc=st.sampled_from([1, 2, 4, 8, 16]),
    tail=st.integers(0, 3),
    seed=st.integers(0, 2**32 - 1),
)
def test_png_matches_oracle(alphabet, picks, columns, colors, bpc, tail, seed):
    """Any row-tag mix, pixel geometry and partial trailing row: the engine's
    row loop equals the oracle's byte-at-a-time decoder, and a partial row
    is reported."""
    rowlen, bpp = _geometry(columns, colors, bpc)
    tail = min(tail, rowlen)  # a tail of a whole stride is one more row
    data = _png_stream([alphabet[p % len(alphabet)] for p in picks], rowlen,
                       random.Random(seed), tail)
    out, codes = _engine_png(data, columns, colors, bpc)
    assert out == oracle_png(data, rowlen, bpp)
    assert codes == (["filter.predictor_len"] if tail else [])


CHAINS = {
    "up_on_row_0": dict(tags=[2, 2, 2], columns=5),
    "sub_then_up": dict(tags=[1, 2, 2, 1, 2], columns=6),
    "paeth_then_up": dict(tags=[4, 2, 2, 4, 2], columns=6),
    "average_then_up": dict(tags=[3, 2, 0, 3, 2], columns=4),
    "none_up_sub_mix": dict(tags=[0, 2, 1, 2, 0, 2, 2], columns=7),
    "rgb_paeth_up": dict(tags=[4, 2, 4, 2, 1], columns=5, colors=3),
    "rgb_sub_up": dict(tags=[1, 2, 2, 1], columns=5, colors=3),
    "bpc16_rgb": dict(tags=[1, 4, 2, 3, 2], columns=3, colors=3, bpc=16),
    "bpc16_up": dict(tags=[2, 2, 1, 2], columns=4, bpc=16),
    "bpc4_sub": dict(tags=[1, 1, 2, 4], columns=5, bpc=4),
    "columns_0": dict(tags=[0, 1, 2, 3, 4], columns=0),
    "partial_row": dict(tags=[2, 2], columns=5, tail=3),
    "partial_row_paeth": dict(tags=[4, 2], columns=5, tail=1),
    "xref_stream": dict(tags=[2] * 200, columns=5),
}


@pytest.mark.parametrize("name", sorted(CHAINS))
def test_png_chains_match_oracle(name):
    case = dict(CHAINS[name])
    tags, tail = case.pop("tags"), case.pop("tail", 0)
    rowlen, bpp = _geometry(case["columns"], case.get("colors", 1), case.get("bpc", 8))
    data = _png_stream(tags, rowlen, random.Random(name), tail)
    out, codes = _engine_png(data, **case)
    assert out == oracle_png(data, rowlen, bpp)
    assert len(out) == rowlen * len(tags)
    assert codes == (["filter.predictor_len"] if tail else [])


@pytest.mark.parametrize("predictor", [10, 11, 12, 13, 14, 15])
def test_png_predictor_number_does_not_pick_the_filter(predictor):
    """/Predictor 10–15 all mean 'per-row tags' [PDF17 Table 8]."""
    data = _png_stream([1, 2, 3, 4, 0], 6, random.Random(predictor))
    assert _engine_png(data, 6, predictor=predictor)[0] == oracle_png(data, 6, 1)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.binary(min_size=7, max_size=7), max_size=12))
def test_tiff_predictor_matches_oracle(rows):
    data = b"".join(rows)
    parms = {"Predictor": 2, "Columns": 7}
    assert _undo_predictor(data, parms, [], None, None) == oracle_decode(
        zlib.compress(data), {"Filter": "FlateDecode", "DecodeParms": parms}, {}
    )


# --- ASCIIHex, ASCII85, LZW --------------------------------------------------


def _sprinkle(enc: bytes, rng: random.Random) -> bytes:
    out = bytearray()
    for c in enc:
        out.append(c)
        if rng.random() < 0.15:
            out += rng.choice(WS)
    return bytes(out)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=300), st.integers(0, 2**32 - 1), st.sampled_from([b"", b">", b">tail"]))
def test_ascii_hex_matches_oracle(data, seed, end):
    rng = random.Random(seed)
    enc = _sprinkle(binascii.hexlify(data), rng)
    if rng.random() < 0.3:
        enc += b"a"  # odd digit count: the last nibble is padded with 0
    enc += end
    out = _ascii_hex(enc)
    assert out == oracle_decode(enc, {"Filter": "ASCIIHexDecode"}, {})
    assert out[: len(data)] == data


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.sampled_from([b"\0\0\0\0", b"\xff\xff\xff\xff", b"\x01"]) | st.binary(max_size=9),
             max_size=40),
    st.integers(0, 2**32 - 1),
    st.sampled_from([b"", b"~>", b"~>tail"]),
)
def test_ascii_85_matches_oracle(parts, seed, end):
    """Digit-only bodies take the matrix path; ``z`` groups take
    ``a85decode``; both must equal the oracle and round-trip."""
    data = b"".join(parts)
    enc = _sprinkle(base64.a85encode(data), random.Random(seed)) + end
    out = _ascii_85(enc)
    assert out == oracle_decode(enc, {"Filter": "ASCII85Decode"}, {}) == data
    if not enc.startswith(b">"):  # else "<~>" holds the "~>" end marker
        assert _ascii_85(b"<~" + enc) == data


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="!\"#$%&'()*+,-./0123456789:;<=>?@ABCDEFGHIJKLMNOPQRSTUVWXYZ"
                        "[\\]^_`abcdefghijklmnopqrstu", max_size=40))
def test_ascii_85_digit_bodies_match_a85decode(body):
    """Every digit-only body, valid or overflowing, gives a85decode's result
    or its exact error."""
    body = body.encode()
    try:
        want = base64.a85decode(body)
    except ValueError as e:
        with pytest.raises(ValueError, match=f"^{re.escape(str(e))}$"):
            _ascii_85(body)
    else:
        assert _ascii_85(body) == want


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=6000), st.sampled_from([0, 1]))
def test_lzw_matches_oracle(data, early):
    enc = _lzw_encode(data, early=early)
    assert _lzw(enc, early=early) == data
    parms = {"EarlyChange": early}
    assert oracle_decode(enc, {"Filter": "LZWDecode", "DecodeParms": parms}, {}) == data


def test_lzw_crosses_every_width_and_a_clear():
    """9→10→11→12-bit codes and the encoder's table reset at 4000 entries."""
    data = random.Random(7).randbytes(12000)
    for early in (0, 1):
        enc = _lzw_encode(data, early=early)
        assert _lzw(enc, early=early) == data


@pytest.mark.parametrize("body", ["clears_then_codes", "garbage"])
def test_lzw_long_clear_runs_and_garbage_match_oracle(body):
    """~100 KB bodies: 90,000 CLEAR codes (each resets the table) before two
    literals, and random bytes (decoded until the first bad code). The
    engine's result, or its failure, is the oracle's."""
    if body == "garbage":
        data = random.Random(3).randbytes(100_000)
    else:
        data = _codes(*[256] * 90_000, 65, 66, 257)
    want = oracle_decode(data, {"Filter": "LZWDecode"}, {})
    try:
        got = _lzw(data)
    except ValueError:
        got = None
    assert got == want
    assert body == "garbage" or got == b"AB"


# --- error text ----------------------------------------------------------------


def _codes(*codes, width=9) -> bytes:
    """Pack LZW codes MSB-first at a fixed width."""
    bits = "".join(format(c, f"0{width}b") for c in codes)
    bits += "0" * (-len(bits) % 8)
    return int(bits, 2).to_bytes(len(bits) // 8, "big") if bits else b""


def _decode_errors(data, filt, parms=None):
    errors = []
    out = decode_stream(data, {"Filter": Name(filt), "DecodeParms": parms}, errors, objkey=(4, 0))
    return out, [(e.code, e.msg) for e in errors]


@pytest.mark.parametrize(
    "filt,data,code,msg",
    [
        ("ASCII85Decode", b"uuuuu~>", "filter.ascii85_error", "Ascii85 overflow"),
        ("ASCII85Decode", b"!!!!!s~>", "filter.ascii85_error", "Ascii85 overflow"),
        ("ASCII85Decode", b"!!z!!!~>", "filter.ascii85_error", "z inside Ascii85 5-tuple"),
        ("ASCII85Decode", b"!!{!!~>", "filter.ascii85_error", "Non-Ascii85 digit found: {"),
        ("ASCII85Decode", b"!!~!!", "filter.ascii85_error", "Non-Ascii85 digit found: ~"),
        ("ASCIIHexDecode", b"4g>", "filter.asciihex_error", "Non-hexadecimal digit found"),
        ("LZWDecode", _codes(256, 65, 300, 257), "filter.lzw_error", "lzw: code beyond table"),
        ("LZWDecode", _codes(256, 258, 257), "filter.lzw_error", "lzw: bad initial code"),
    ],
)
def test_kernel_error_text_is_pinned(filt, data, code, msg):
    assert _decode_errors(data, filt) == (None, [(code, msg)])


def test_png_unknown_tag_is_pinned():
    data = zlib.compress(_png_stream([2, 1, 5, 4, 7], 3, random.Random(0)))
    parms = {"Predictor": 12, "Columns": 3}
    assert _decode_errors(data, "FlateDecode", parms) == (
        None, [("filter.flate_error", "png predictor tag 5")])
    assert _decode_errors(zlib.compress(b"\x09"), "FlateDecode", {"Predictor": 12, "Columns": 0}) == (
        None, [("filter.flate_error", "png predictor tag 9")])


def test_png_partial_row_then_bad_tag_reports_both():
    data = zlib.compress(_png_stream([0, 6], 2, random.Random(0), tail=1))
    assert _decode_errors(data, "FlateDecode", {"Predictor": 12, "Columns": 2})[1] == [
        ("filter.predictor_len", ""), ("filter.flate_error", "png predictor tag 6")]
