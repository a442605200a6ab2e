"""Seeded input corpora for the benchmark workloads.

Every document's bytes depend on the seed, PDFs included: seeded PDFs are
built from ``caraspark.synth``'s own assembler and filter encoders with
seeded text, page count, filter chain and /Info dict, and stay inside
what the independent text oracle (``oracle``) reads. The fixed synth PDF
recipes ride along once each, so the engine's error paths stay covered
without repeating blobs. The program only ever sees the generated rows.
"""

from __future__ import annotations

import hashlib
import os
import random
import zlib
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from caraspark import synth

RAW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), True),
        pa.field("html", pa.large_binary(), True),
        pa.field("text", pa.string(), True),
        pa.field("lang", pa.string(), True),
    ]
)

# giants-mode routing threshold for these corpora: every seeded giant is
# above it, every other document (fixed recipes included) far below
GIANT_BYTES = 32 << 10


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    pdf_share: float  # all PDFs: seeded, fixed recipes and giants
    giant_share: float
    want: tuple | None  # extract(want=...); None = all surfaces


WORKLOADS = {
    w.name: w
    for w in (
        Workload("mixed_narrow", 2048, 0.75, 0.002, None),
        Workload("pdf_validate", 2048, 1.0, 0.0, ()),
    )
}

_WORDS = synth._WORDS + (
    "lexer parser xref trailer stream filter decode object catalog page "
    "font glyph kerning outline annotation signature encrypt cipher"
).split()


def _line(rng: random.Random) -> bytes:
    return " ".join(rng.choices(_WORDS, k=rng.randint(3, 10))).encode()


def _content(rng: random.Random, n_lines: int) -> bytes:
    """A text content stream mixing the common show operators."""
    ops = [b"BT", b"/F1 11 Tf", b"14 TL", b"72 740 Td"]
    for _ in range(n_lines):
        t = _line(rng)
        style = rng.randrange(4)
        if style == 0:
            ops.append(b"(" + t + b") Tj T*")
        elif style == 1:
            ops.append(b"(" + t + b") '")
        elif style == 2:
            words = t.split()
            parts = b" ".join(
                b"(" + w + b" )" + (b" -%d" % rng.randrange(50, 300)) for w in words
            )
            ops.append(b"[" + parts + b"] TJ T*")
        else:
            ops.append(b"<" + t.hex().encode() + b"> Tj 0 -14 Td")
    ops.append(b"ET")
    return b"\n".join(ops)


def _filter(rng: random.Random):
    """(encoder, filter dict entries) for one of synth's filter chains."""
    kind = rng.randrange(8)
    if kind == 0:
        return bytes, b""
    if kind == 1:
        return zlib.compress, b"/Filter /FlateDecode"
    if kind == 2:
        tag, cols = rng.randint(1, 4), rng.choice((8, 16, 32))
        return (
            lambda c: zlib.compress(synth._png_predict(c, cols, tag)),
            b"/Filter /FlateDecode /DecodeParms << /Predictor %d /Columns %d >>"
            % (10 + tag, cols),
        )
    if kind == 3:
        return synth._lzw_encode, b"/Filter /LZWDecode"
    if kind == 4:
        return synth._ahx_encode, b"/Filter /ASCIIHexDecode"
    if kind == 5:
        return synth._a85_encode, b"/Filter /ASCII85Decode"
    if kind == 6:
        return synth._rle_encode, b"/Filter /RunLengthDecode"
    return (
        lambda c: synth._ahx_encode(zlib.compress(c)),
        b"/Filter [/ASCIIHexDecode /FlateDecode]",
    )


def seeded_pdf(rng: random.Random, giant: bool = False) -> bytes:
    """A valid classic-xref PDF: 1–3 pages of seeded text, a seeded filter
    chain per content stream, and an /Info dict half the time. A giant is
    one Flate page of 5,000–6,000 lines."""
    n_pages = 1 if giant else rng.choice((1, 1, 1, 2, 3))
    bodies = {
        1: synth._obj(1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        3: synth._obj(3, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    }
    kids = []
    for p in range(n_pages):
        page, cont = 5 + 2 * p, 6 + 2 * p
        kids.append(b"%d 0 R" % page)
        if giant:
            content = _content(rng, rng.randint(5000, 6000))
            encode, filt = zlib.compress, b"/Filter /FlateDecode"
        else:
            content = _content(rng, rng.randint(3, 12))
            encode, filt = _filter(rng)
        payload = encode(content)
        # synth ends stream data with "\nendstream", so data ending in CR
        # reads as a CRLF end-of-line to the byte-scanning oracle the output
        # check trusts, which then cuts the data one byte short: pad the content
        while payload.endswith(b"\r"):
            content += b" "
            payload = encode(content)
        bodies[page] = synth._obj(
            page,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>" % cont,
        )
        bodies[cont] = synth._stream_obj(cont, filt, payload)
    bodies[2] = synth._obj(
        2, b"<< /Type /Pages /Kids [" + b" ".join(kids) + b"] /Count %d >>" % n_pages
    )
    extra = b""
    if rng.random() < 0.5:
        bodies[4] = synth._obj(
            4, b"<< /Title (" + _line(rng) + b") /Subject (" + _line(rng) + b") >>"
        )
        extra = b" /Info 4 0 R"
    return synth._assemble(bodies, trailer_extra=extra)


def seeded_html(rng: random.Random, tag: str) -> tuple[str, bytes]:
    name = rng.choice(sorted(synth.HTML_RECIPES))
    blob = synth.HTML_RECIPES[name](rng)
    if name == "html_empty":  # the one recipe that ignores its rng
        blob += f"<!-- {tag} -->".encode()
    return name, blob


def build(w: Workload, seed: int) -> pa.Table:
    """The workload's documents_raw rows for ``seed``, in writer order."""
    rng = random.Random(f"{w.name}:{seed}")
    n_pdf = round(w.n_docs * w.pdf_share)
    n_giant = round(w.n_docs * w.giant_share)
    fixed = sorted(synth.PDF_RECIPES) if n_pdf else []  # each fixed recipe once
    kinds = fixed + ["pdf_seeded"] * (n_pdf - n_giant - len(fixed)) + ["html"] * (
        w.n_docs - n_pdf
    )
    rng.shuffle(kinds)
    # giants evenly spaced in writer order, so every input split gets the
    # same share of them whatever the seed
    for k in range(n_giant):
        kinds.insert(k * w.n_docs // n_giant + w.n_docs // (2 * n_giant), "pdf_giant")
    base = datetime(2026, 1, 1, tzinfo=timezone.utc)
    urls, tss, blobs, langs = [], [], [], []
    for i, kind in enumerate(kinds):
        drng = random.Random(f"{seed}:{i}")
        if kind == "html":
            kind, blob = seeded_html(drng, f"{seed}/{i}")
        elif kind in ("pdf_seeded", "pdf_giant"):
            blob = seeded_pdf(drng, giant=kind == "pdf_giant")
        else:
            blob = synth.PDF_RECIPES[kind]()
        urls.append(f"https://bench.example/{w.name}/{seed}/{i}/{kind}")
        tss.append(base + timedelta(seconds=drng.randrange(2_592_000)))
        blobs.append(blob)
        langs.append(drng.choice(synth.LANGS))
    return pa.table(
        [urls, tss, blobs, [None] * len(urls), langs], schema=RAW_SCHEMA
    )


def recipe_of(url: str) -> str:
    return url.rsplit("/", 1)[1]


def properties(table: pa.Table) -> dict:
    """Input properties the workload's behaviour depends on."""
    blobs = table.column("html").to_pylist()
    kinds = [recipe_of(u) for u in table.column("url").to_pylist()]
    n = len(blobs)
    n_pdf = sum(k.startswith("pdf") for k in kinds)
    return {
        "docs": n,
        "pdf_share": n_pdf / n,
        "html_share": 1 - n_pdf / n,
        "giant_share": sum(k == "pdf_giant" for k in kinds) / n,
        "fixed_recipe_docs": sum(k in synth.PDF_RECIPES for k in kinds),
        "bytes": sum(map(len, blobs)),
        "distinct_share": len({hashlib.sha1(b).digest() for b in blobs}) / n,
    }


def write_raw(table: pa.Table, path: str, files: int) -> None:
    """Writer-order layout: ``files`` contiguous slices, one parquet file
    each. With one file per core, Spark's file packing gives each scan
    task one slice, so every task gets the same share of giants."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for k in range(files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))
