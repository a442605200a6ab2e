"""Stream filters (SURVEY.md C13–C16; ISO 32000-1 §7.4).

Capability parity: caradoc's ``src/stream/`` filter set [P?] — FlateDecode,
ASCIIHexDecode, ASCII85Decode, RunLengthDecode, plus TIFF/PNG predictor undo;
beyond it, LZWDecode [PDF17 §7.4.4] with /EarlyChange (the remaining
non-image filter family of the spec).
Implementation: per-byte work runs in C or NumPy wherever the format
allows. Flate is zlib; ASCIIHex strips white space with ``bytes.translate``
and decodes with binascii; ASCII85 decodes a digit-only body as one base-85
matrix product in NumPy and leaves anything else to ``base64.a85decode``;
LZW reads each code from a 3-byte window at a bit cursor, one step per
code. PNG predictors go row by row: None, Sub and Up rows are NumPy row
operations; Average and Paeth rows are inherently left-to-right and run as
plain-int loops, one per channel; TIFF 2 is the same running sum as PNG Sub.

A filter failure never throws past this module: it records a taxonomy error
and yields None, so one corrupt stream can't kill an Arrow batch.
"""

from __future__ import annotations

import base64
import binascii
import zlib

import numpy as np

from caraspark.pdfengine.model import Name, PdfError, Ref

_ALIASES = {  # PDF 1.1 short forms [PDF17 Table H.1]
    "Fl": "FlateDecode",
    "LZW": "LZWDecode",
    "AHx": "ASCIIHexDecode",
    "A85": "ASCII85Decode",
    "RL": "RunLengthDecode",
}


def decode_stream(
    raw: bytes,
    sdict: dict,
    errors: list,
    objkey: tuple[int, int] | None = None,
    resolver=None,
    max_decoded: int = 256 * 1024 * 1024,
) -> bytes | None:
    """Apply the full /Filter chain (with /DecodeParms) in order."""
    filters = sdict.get("Filter")
    if isinstance(filters, Ref) and resolver:
        filters = resolver(filters)
    if filters is None:
        return raw
    if isinstance(filters, Name):
        filters = [filters]
    if not isinstance(filters, list):
        errors.append(PdfError("filter.bad_filter_entry", obj=objkey))
        return None
    parms = sdict.get("DecodeParms", sdict.get("DP"))
    if isinstance(parms, Ref) and resolver:
        parms = resolver(parms)
    if not isinstance(parms, list):  # one entry for every filter
        parms = [parms] * len(filters)

    data = raw
    for i, f in enumerate(filters):
        if isinstance(f, Ref) and resolver:
            f = resolver(f)
        if not isinstance(f, Name):
            errors.append(PdfError("filter.bad_filter_entry", obj=objkey))
            return None
        name = _ALIASES.get(f.v, f.v)
        p = parms[i] if i < len(parms) else None
        if isinstance(p, Ref) and resolver:
            p = resolver(p)
        data = _apply_one(data, name, p, errors, objkey, resolver)
        if data is None:
            return None
        if len(data) > max_decoded:
            errors.append(PdfError("resource.decoded_too_large", obj=objkey))
            return None
    return data


def _apply_one(data, name, parms, errors, objkey, resolver):
    try:
        if name == "FlateDecode":
            out = zlib.decompress(data)
            return _undo_predictor(out, parms, errors, objkey, resolver)
        if name == "LZWDecode":
            early = _get_int(parms, "EarlyChange", 1, resolver)
            out = _lzw(data, early=1 if early else 0)
            return _undo_predictor(out, parms, errors, objkey, resolver)
        if name == "ASCIIHexDecode":
            return _ascii_hex(data)
        if name == "ASCII85Decode":
            return _ascii_85(data)
        if name == "RunLengthDecode":
            return _run_length(data)
        if name in ("Crypt",):
            # Identity crypt filter only (decryption happens upstream)
            return data
        errors.append(PdfError("filter.unsupported", obj=objkey, msg=name))
        return None
    except Exception as e:  # noqa: BLE001 — corrupt payloads are data, not bugs
        errors.append(
            PdfError(f"filter.{name.lower().replace('decode','')}_error",
                     obj=objkey, msg=str(e)[:80])
        )
        return None


_WS = b"\x00\t\n\x0c\r "  # PDF white-space [PDF17 §7.2.2]
_A85_DIGITS = bytes(range(ord("!"), ord("u") + 1))
_POW85 = 85 ** np.arange(4, -1, -1, dtype=np.uint64)


def _ascii_hex(data: bytes) -> bytes:
    end = data.find(b">")
    if end != -1:
        data = data[:end]
    compact = data.translate(None, _WS)
    if len(compact) % 2:
        compact += b"0"
    return binascii.unhexlify(compact)


def _ascii_85(data: bytes) -> bytes:
    """Digit-only bodies decode as one base-85 matrix product; anything else
    (``z``, stray bytes, overflow) goes to ``base64.a85decode``, whose
    errors are the reported ones. Like it, the tail is padded with ``u``."""
    end = data.find(b"~>")
    if end != -1:
        data = data[:end]
    compact = data.translate(None, _WS)
    if compact.startswith(b"<~"):
        compact = compact[2:]
    if compact.translate(None, _A85_DIGITS):
        return base64.a85decode(compact, adobe=False)
    groups, rest = divmod(len(compact) + 4, 5)
    digits = np.frombuffer(compact + b"uuuu", dtype=np.uint8)[: groups * 5]
    words = (digits.reshape(groups, 5) - np.uint8(33)).astype(np.uint64) @ _POW85
    if groups and words.max() > 0xFFFFFFFF:
        return base64.a85decode(compact, adobe=False)
    out = words.astype(">u4").tobytes()
    return out[: len(out) - (4 - rest)]


_LZW_CLEAR, _LZW_EOD = 256, 257
_LZW_BASE = [bytes([i]) for i in range(256)] + [b"", b""]  # + CLEAR, EOD


def _lzw(data: bytes, early: int = 1) -> bytes:
    """LZWDecode [PDF17 §7.4.4]: MSB-first variable-width codes (9→12 bits),
    256=clear-table, 257=EOD; /EarlyChange (default 1) widens the code one
    entry before the table fills, matching the TIFF-heritage encoders.
    Each code is read from the 3-byte window at its bit cursor (offset ≤ 7
    plus width ≤ 12 fits in 24 bits), one step per code."""
    table = list(_LZW_BASE)
    width = 9
    out = bytearray()
    prev: bytes | None = None
    buf = data + b"\0\0"
    nbits = len(data) * 8
    pos = 0
    while pos + width <= nbits:
        i = pos >> 3
        window = int.from_bytes(buf[i : i + 3], "big")
        code = (window >> (24 - (pos & 7) - width)) & ((1 << width) - 1)
        pos += width
        if code == _LZW_CLEAR:
            table = list(_LZW_BASE)
            width = 9
            prev = None
            continue
        if code == _LZW_EOD:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("lzw: bad initial code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK special case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("lzw: code beyond table")
        out += entry
        prev = entry
        if len(table) + early >= (1 << width) and width < 12:
            width += 1
    return bytes(out)


def _run_length(data: bytes) -> bytes:
    """Length-byte protocol [PDF17 §7.4.5]: l<128 copy l+1; l>128 repeat
    next byte 257-l times; l==128 EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        l = data[i]
        if l == 128:
            break
        if l < 128:
            out += data[i + 1 : i + 2 + l]
            i += 2 + l
        else:
            if i + 1 >= n:
                raise ValueError("runlength: truncated repeat")
            out += data[i + 1 : i + 2] * (257 - l)
            i += 2
    return bytes(out)


def _get_int(d, key, default, resolver):
    v = d.get(key, default) if isinstance(d, dict) else default
    if isinstance(v, Ref) and resolver:
        v = resolver(v)
    return v if isinstance(v, int) else default


def _undo_predictor(data, parms, errors, objkey, resolver):
    """TIFF predictor 2 and PNG predictors 10–15 [PDF17 §7.4.4.4]."""
    if not isinstance(parms, dict):
        return data
    pred = _get_int(parms, "Predictor", 1, resolver)
    if pred <= 1:
        return data
    colors = _get_int(parms, "Colors", 1, resolver)
    bpc = _get_int(parms, "BitsPerComponent", 8, resolver)
    columns = _get_int(parms, "Columns", 1, resolver)
    bpp = max(1, (colors * bpc + 7) // 8)  # bytes per pixel
    rowlen = (columns * colors * bpc + 7) // 8

    if pred == 2:  # TIFF horizontal differencing (8-bit path)
        if bpc != 8:
            errors.append(PdfError("filter.predictor_unsupported", obj=objkey,
                                   msg=f"tiff bpc={bpc}"))
            return None
        arr = np.frombuffer(data, dtype=np.uint8)
        nrows = len(arr) // rowlen
        arr = arr[: nrows * rowlen].reshape(nrows, rowlen)
        return _running_sum(arr, bpp).tobytes()

    if 10 <= pred <= 15:  # PNG: per-row tag byte then filtered bytes
        stride = rowlen + 1
        n = len(data) // stride
        if n * stride != len(data):
            errors.append(PdfError("filter.predictor_len", obj=objkey))
            data = data[: n * stride]
        raw = np.frombuffer(data, dtype=np.uint8).reshape(n, stride)
        return _undo_png(raw[:, 0], raw[:, 1:], bpp)

    errors.append(PdfError("filter.predictor_unsupported", obj=objkey, msg=str(pred)))
    return None


def _running_sum(rows, bpp):
    """Per-channel running sum along each row, mod 256 (undoes PNG Sub and
    TIFF 2). The row is zero-padded to whole pixels so that one cumsum over
    the pixel axis covers every channel."""
    k, w = rows.shape
    width = -(-w // bpp) * bpp
    padded = np.zeros((k, width), dtype=np.uint8)
    padded[:, :w] = rows
    pixels = padded.reshape(k, width // bpp, bpp)
    return np.cumsum(pixels, axis=1, dtype=np.uint8).reshape(k, width)[:, :w]


def _undo_png(tags, rows, bpp) -> bytes:
    """Undo PNG row filters row by row: ``tags`` holds each row's filter
    type, ``rows`` the (n, rowlen) filtered bytes. None, Sub and Up rows are
    a copy, a per-channel running sum and a vector add; Average and Paeth
    depend on the byte just decoded to their left, so they run as plain-int
    loops, one per channel."""
    rowlen = rows.shape[1]
    out = bytearray()
    prev = bytes(rowlen)
    for t, row in zip(tags.tolist(), rows):
        if t == 0:
            cur = row.tobytes()
        elif t == 1:  # Sub
            cur = _running_sum(row[None], bpp).tobytes()
        elif t == 2:  # Up
            cur = (row + np.frombuffer(prev, dtype=np.uint8)).tobytes()
        elif t <= 4:  # each channel's bytes form one left-to-right chain
            undo = _average if t == 3 else _paeth
            filtered, cur = row.tobytes(), bytearray(rowlen)
            for ch in range(min(bpp, rowlen)):
                cur[ch::bpp] = undo(filtered[ch::bpp], prev[ch::bpp])
        else:
            raise ValueError(f"png predictor tag {t}")
        out += cur
        prev = cur
    return bytes(out)


def _average(filtered, above):
    """One channel of an Average row: add the floor mean of the decoded
    byte to the left (``a``, 0 at the row start) and the byte above."""
    out, a = [], 0
    for x, b in zip(filtered, above):
        a = (x + ((a + b) >> 1)) & 0xFF
        out.append(a)
    return out


def _paeth(filtered, above):
    """One channel of a Paeth row: add whichever of left ``a``, above ``b``
    and upper-left ``c`` is nearest ``a + b - c`` (ties in that order)."""
    out, a, c = [], 0, 0
    for x, b in zip(filtered, above):
        pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - c - c)
        a = (x + (a if pa <= pb and pa <= pc else b if pb <= pc else c)) & 0xFF
        c = b
        out.append(a)
    return out
