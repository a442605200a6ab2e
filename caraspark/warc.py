"""WARC 1.0 container source/sink (ISO 28500) — Common Crawl's on-disk
format, the delivery form of the north_rule's "Common-Crawl-style web
pages" before they're compacted into a documents_raw table.

Format (as Common Crawl ships it): a ``.warc.gz`` file is a CONCATENATION
OF GZIP MEMBERS, one member per WARC record, so a reader can seek to any
record boundary without decompressing the whole file. Each record is::

    WARC/1.0\r\n
    <header-name>: <value>\r\n ...          (WARC-Type, WARC-Target-URI,
    \r\n                                     WARC-Date, Content-Length, ...)
    <Content-Length payload bytes>\r\n\r\n

A ``response`` record's payload is a full HTTP response message; the
crawled page body follows the first blank line of the HTTP headers.

Scale shape (SURVEY.md S3 family): the WARC FILE is the unit of
parallelism — Common Crawl segments are ~1 GiB, so a 100 TB crawl is
~100k files = ~100k independent tasks. ``read_warc`` maps ``binaryFile``
rows through an Arrow batch parser: zero shuffle, per-task memory bounded
by one file, and the gzip members stream-decode (``zlib`` multi-member
loop, never a whole-file bytes copy per record). Everything downstream is
the same ``documents_raw`` schema the parquet and loose-file sources feed.

Spark side: every map from rows to rows is a row function plus its
Arrow schema, run by the shared mapper ``relational.map_rows`` — a reader
is a row function over the ``warc`` blob column that yields rows of
``parse_warc(blob)``, a per-document map one over the document's columns.
Every writer is ``_blobs(df, key, records, partitions, warcinfo)``: it
hash-partitions on ``key`` and folds each input batch into one blob of
gzip members, an optional ``warcinfo`` record and then ``records(*row)``
for each row.

Determinism: the writer emits zlib-generated gzip headers (MTIME=0) and
derives WARC-Record-IDs from md5(url, date) — byte-identical output for
identical input on any host, which is what lets the roundtrip qkey
hash-verify the whole writer→parser path against a closed-form oracle.
"""

from __future__ import annotations

import hashlib
import zlib
from datetime import datetime, timedelta
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from caraspark.corpus import RAW_ARROW
from caraspark.relational import (
    BIGINT,
    BOOLEAN,
    INT,
    STRING,
    Q,
    map_rows,
    registrar,
    spark_schema,
)
from caraspark.tables import load

REGISTRY: dict[str, Q] = {}
_q = registrar(REGISTRY)

_CRLF = b"\r\n"
_WARC_EPOCH = datetime(2026, 1, 1)


# ---------------------------------------------------------------------------
# record-level writer / parser (pure bytes — runs inside Arrow batch UDFs)
# ---------------------------------------------------------------------------


def _warc_date(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _record_id(url: str, date: str) -> str:
    h = hashlib.md5(f"{url}|{date}".encode()).hexdigest()
    return (
        f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"
    )


def http_response(body: bytes, content_type: str = "text/html") -> bytes:
    """Minimal deterministic HTTP/1.1 response message around ``body``."""
    head = (
        f"HTTP/1.1 200 OK\r\nContent-Type: {content_type};"
        f" charset=utf-8\r\nContent-Length: {len(body)}\r\n\r\n"
    )
    return head.encode("ascii") + body


def build_record(
    rec_type: str,
    payload: bytes,
    url: str | None = None,
    ts: datetime | None = None,
    content_type: str = "application/http; msgtype=response",
    extra_headers: list[str] | None = None,
) -> bytes:
    """One uncompressed WARC record, trailing CRLF CRLF included.
    ``extra_headers`` carries record-type-specific named fields (e.g. the
    WARC-Profile / WARC-Refers-To-* block of a ``revisit`` record)."""
    date = _warc_date(ts or _WARC_EPOCH)
    headers = [
        b"WARC/1.0",
        f"WARC-Type: {rec_type}".encode(),
        f"WARC-Record-ID: {_record_id(url or rec_type, date)}".encode(),
        f"WARC-Date: {date}".encode(),
    ]
    if url is not None:
        headers.append(f"WARC-Target-URI: {url}".encode())
    for h in extra_headers or []:
        headers.append(h.encode())
    headers += [
        f"Content-Type: {content_type}".encode(),
        f"Content-Length: {len(payload)}".encode(),
    ]
    return _CRLF.join(headers) + _CRLF * 2 + payload + _CRLF * 2


def _gzip_member(raw: bytes) -> bytes:
    """One gzip member with a zlib-written header (MTIME=0 → deterministic,
    unlike ``gzip.compress`` which stamps wall-clock time)."""
    c = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return c.compress(raw) + c.flush()


def _warcinfo_record(fields: str) -> bytes:
    return build_record(
        "warcinfo",
        fields.encode() + _CRLF,
        content_type="application/warc-fields",
    )


def build_warc(
    records: list[tuple[str, datetime, bytes]],
    gzip_members: bool = True,
    warcinfo: str = "software: caraspark-warc/1.0",
) -> bytes:
    """Serialize (url, ts, http_payload) triples into one WARC file's bytes:
    a leading ``warcinfo`` record, then one ``response`` record per input,
    each its own gzip member when ``gzip_members`` (the Common Crawl
    layout) else plain concatenation."""
    recs = [_warcinfo_record(warcinfo)]
    recs += [
        build_record("response", payload, url=url, ts=ts)
        for url, ts, payload in records
    ]
    if gzip_members:
        return b"".join(_gzip_member(r) for r in recs)
    return b"".join(recs)


def _iter_gunzip_members(blob: bytes) -> Iterator[bytes]:
    """Stream-decode a multi-member gzip blob (or yield plain bytes as-is).

    Degrade-don't-crash on corrupt members (routine in crawled archives):
    a member that fails to decompress is skipped and the scan RE-SYNCS on
    the next gzip magic, so one bad member can't take out the rest of the
    file — the same salvage posture parse_warc applies to junk between
    records."""
    if not blob.startswith(b"\x1f\x8b"):
        yield blob
        return
    data = blob
    while data:
        d = zlib.decompressobj(32 + zlib.MAX_WBITS)
        try:
            yield d.decompress(data)
            data = d.unused_data
        except zlib.error:
            # salvage and re-sync past the corrupt member's header
            nxt = data.find(b"\x1f\x8b\x08", 3)
            if nxt < 0:
                break
            data = data[nxt:]
            continue
        if not data.startswith(b"\x1f\x8b"):
            break


def parse_warc(blob: bytes) -> list[dict]:
    """All records of one WARC file: dicts with ``rec_type``, ``url``,
    ``ts`` (naive UTC datetime), ``payload`` (raw record payload), and for
    response records ``body`` (HTTP message body). Tolerant of plain or
    per-record-gzip layouts and of junk between records (re-syncs on the
    next ``WARC/`` magic, mirroring the PDF engine's recovery posture)."""
    out: list[dict] = []
    buf = b"".join(_iter_gunzip_members(blob))
    pos = 0
    n = len(buf)
    while pos < n:
        start = buf.find(b"WARC/", pos)
        if start < 0:
            break
        hdr_end = buf.find(_CRLF * 2, start)
        if hdr_end < 0:
            break
        headers: dict[str, str] = {}
        lines = buf[start:hdr_end].split(_CRLF)
        for line in lines[1:]:
            k, _, v = line.partition(b":")
            if _:
                headers[k.decode("latin-1").strip().lower()] = v.decode(
                    "latin-1"
                ).strip()
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            pos = hdr_end + 4
            continue
        if clen < 0:  # hostile/corrupt length must not move pos backwards
            pos = hdr_end + 4
            continue
        payload = buf[hdr_end + 4 : hdr_end + 4 + clen]
        # Guaranteed forward progress even on absurd lengths: never re-scan
        # bytes before the end of this record's header block.
        pos = max(hdr_end + 4 + clen + 4, hdr_end + 4)  # payload + CRLFCRLF
        ts_raw = headers.get("warc-date", "")
        try:
            ts = datetime.strptime(ts_raw, "%Y-%m-%dT%H:%M:%SZ")
        except ValueError:
            ts = None
        rec_type = headers.get("warc-type", "")
        rec = {
            "rec_type": rec_type,
            "url": headers.get("warc-target-uri"),
            "ts": ts,
            "payload": payload,
            "record_id": headers.get("warc-record-id"),
        }
        if rec_type == "response":
            split = payload.find(_CRLF * 2)
            rec["body"] = payload[split + 4 :] if split >= 0 else payload
            # Common Crawl cuts payloads at a byte budget and says so;
            # downstream quality filters need the flag (WARC 1.1 §5.13).
            rec["truncated"] = headers.get("warc-truncated")
        elif rec_type == "request":
            # WARC 1.1 §6.4: the capture's HTTP request message; the
            # Concurrent-To header names its sibling response record.
            rec["concurrent_to"] = headers.get("warc-concurrent-to")
        elif rec_type == "revisit":
            # WARC 1.1 §6.7.2 identical-payload-digest: no body is stored;
            # the record points at the capture that has the bytes.
            rec["refers_to"] = headers.get("warc-refers-to-target-uri")
            dg = headers.get("warc-payload-digest", "")
            rec["payload_digest"] = dg.partition(":")[2] or dg or None
        out.append(rec)
    return out


# ---------------------------------------------------------------------------
# Spark-side source / sink
# ---------------------------------------------------------------------------

_WARC_BLOB = pa.schema([("warc", pa.large_binary())])


def _doc_capture(doc_id: int) -> tuple[str, datetime]:
    """The synth url and fetch time of a documents row's capture."""
    return (
        f"https://synth.example/doc/{doc_id}",
        _WARC_EPOCH + timedelta(seconds=doc_id % 86400),
    )


def _blobs(
    df: DataFrame,
    key: str,
    records,
    partitions: int = 8,
    warcinfo: str | None = None,
) -> DataFrame:
    """WARC file blobs from ``df`` hash-partitioned on ``key``: each input
    batch becomes one blob, the gzip members of a ``warcinfo`` record
    (when named) and of ``records(*row)`` for each row, its values in
    ``df``'s column order. A batch with no records gives no blob."""
    info = [] if warcinfo is None else [_warcinfo_record(warcinfo)]

    def blobs(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            recs = [
                rec
                for row in zip(*(c.to_pylist() for c in batch.columns))
                for rec in records(*row)
            ]
            if recs:
                blob = b"".join(_gzip_member(r) for r in info + recs)
                yield pa.record_batch([[blob]], schema=_WARC_BLOB)

    return df.repartition(partitions, key).mapInArrow(
        blobs, spark_schema(_WARC_BLOB)
    )


def _raw_rows(blob: bytes):
    """documents_raw rows of a WARC file: its response records with a
    url."""
    return (
        {
            "url": r["url"],
            "warc_ts": r["ts"],
            "html": r["body"],
            "text": None,
            "lang": None,
        }
        for r in parse_warc(blob)
        if r["rec_type"] == "response" and r["url"] is not None
    )


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """documents_raw from a directory of ``.warc`` / ``.warc.gz`` files.

    One binaryFile row per file → one parse task per file (the Common
    Crawl unit of work); no shuffle anywhere. ``content`` is the only
    data column read, and only response records survive."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select(F.col("content").alias("warc"))
    )
    return map_rows(files, _raw_rows, RAW_ARROW)


def _response_records(doc_id: int, body: bytes) -> list[bytes]:
    url, ts = _doc_capture(doc_id)
    return [build_record("response", http_response(body), url=url, ts=ts)]


def warc_sink_df(docs: DataFrame, partitions: int = 8) -> DataFrame:
    """Serialize (doc_id, payload-bytes) rows into WARC file blobs, one
    blob per partition-batch — the in-plan form of writing ``part-N.warc.gz``
    files (tests write these blobs to disk and read them back through
    ``read_warc``). Input needs columns ``doc_id`` (bigint) and ``body``
    (binary); url/ts derive deterministically from doc_id."""
    return _blobs(
        docs.select("doc_id", "body"),
        "doc_id",
        _response_records,
        partitions,
        "software: caraspark-warc/1.0",
    )


def _conversion_records(url: str, text: bytes | None) -> list[bytes]:
    return [
        build_record(
            "conversion",
            text or b"",
            url=url,
            ts=_WARC_EPOCH,
            content_type="text/plain",
        )
    ]


def wet_sink_df(extracted: DataFrame, partitions: int = 8) -> DataFrame:
    """WET-style output (Common Crawl's extracted-text sidecar format):
    each extracted row becomes a WARC ``conversion`` record whose payload
    is the extracted text bytes, one file blob per partition-batch. The
    inverse of the crawl on-ramp: raw WARC in (``read_warc``), extracted
    WET out. Input needs columns ``url`` (string) and ``text`` (binary)."""
    return _blobs(
        extracted.select("url", "text"),
        "url",
        _conversion_records,
        partitions,
        "software: caraspark-warc/1.0 (WET)",
    )


# ---------------------------------------------------------------------------
# qkey — hash-verified writer→parser roundtrip over the documents table
# ---------------------------------------------------------------------------


@_q(
    "warc_roundtrip",
    """SELECT 'https://synth.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       CAST(epoch(TIMESTAMP '2026-01-01'
                  + INTERVAL (doc_id % 86400) SECOND) AS BIGINT) AS ts_epoch,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_octets,
       md5(text) AS payload_md5
FROM documents""",
)
def warc_roundtrip(spark, sf):
    """WARC writer→parser roundtrip, hash-verified: every documents row is
    serialized into per-record-gzip WARC blobs on the executors
    (``warc_sink_df``), parsed back through the same Arrow path
    ``read_warc`` uses, and the recovered (url, timestamp, body) must match
    a closed-form oracle — md5 over the body pins BYTE identity through the
    HTTP wrap, gzip member framing, and Content-Length slicing. Plan is
    narrow end-to-end: one repartition exchange, zero collect."""
    docs = load(spark, sf, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("body")
    )
    parsed = map_rows(warc_sink_df(docs), _raw_rows, RAW_ARROW)
    return parsed.select(
        "url",
        F.col("warc_ts").cast("timestamp").cast("long").alias("ts_epoch"),
        F.length("html").cast("long").alias("n_octets"),
        F.md5("html").alias("payload_md5"),
    )


# ---------------------------------------------------------------------------
# CDX index build (the Common Crawl cdx-*.gz sidecar)
# ---------------------------------------------------------------------------

# framing-arithmetic constants, derived from the REAL builders at import so
# the oracle's closed-form byte counts can never drift from the writer:
#   record_len = _CDX_REC_CONST + len(url) + digits(payload_len) + payload_len
#   payload_len = _CDX_HTTP_CONST + digits(body_len) + body_len
_CDX_WARCINFO_LEN = len(_warcinfo_record("software: caraspark-warc/1.0"))
_CDX_HTTP_CONST = len(http_response(b"")) - 1  # minus the '0' length digit
_CDX_REC_CONST = (
    len(build_record("response", b"", url="", ts=_WARC_EPOCH)) - 1
)


def _cdx_sql() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, source, octet_length(encode(text)) AS blen, md5(text) AS dg
  FROM documents
),
f AS (
  SELECT doc_id, source, dg,
         'https://synth.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
         strftime(TIMESTAMP '2026-01-01'
                  + INTERVAL (doc_id % 86400) SECOND, '%Y%m%d%H%M%S') AS ts14,
         {_CDX_HTTP_CONST} + length(CAST(blen AS VARCHAR)) + blen AS plen
  FROM d
),
g AS (
  SELECT *,
         {_CDX_REC_CONST} + length(url)
           + length(CAST(plen AS VARCHAR)) + plen AS rec_len
  FROM f
)
SELECT 'example,synth)/doc/' || CAST(doc_id AS VARCHAR) AS surt,
       ts14, url, 'text/html' AS mime, CAST(200 AS INTEGER) AS status,
       dg AS digest,
       CAST(rec_len AS BIGINT) AS rlen,
       CAST({_CDX_WARCINFO_LEN} + coalesce(sum(rec_len) OVER (
              PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS roffset,
       'crawl-' || source || '.warc' AS warc_file
FROM g
"""


_CDX_FRAMES = pa.schema(
    {
        "doc_id": BIGINT,
        "source": STRING,
        "url": STRING,
        "ts14": STRING,
        "rec_len": BIGINT,
        "digest": STRING,
    }
)


def _cdx_rows(doc_id: int, source: str, body: bytes):
    """A document's framing: its record's length and payload digest."""
    url, ts = _doc_capture(doc_id)
    (rec,) = _response_records(doc_id, body)
    yield {
        "doc_id": doc_id,
        "source": source,
        "url": url,
        "ts14": ts.strftime("%Y%m%d%H%M%S"),
        "rec_len": len(rec),
        "digest": hashlib.md5(body).hexdigest(),
    }


@_q("warc_cdx", _cdx_sql())
def warc_cdx(spark, sf):
    """CDX index build — the lookup sidecar a crawl archive ships beside
    its WARC files (SURT key, 14-digit timestamp, payload digest, and the
    (file, offset, length) triple a replayer seeks to).  Documents are
    framed through the REAL record builder on the executors (actual byte
    counts + payload md5, one file per host with records in doc_id
    order), while the oracle predicts every byte count closed-form from
    the import-time framing constants — writer drift breaks the hash.

    The SURT key is computed genuinely (host split, segment reversal,
    path re-append) in JVM expressions, not assumed from the synth URL
    shape.

    Scale: the per-record map is the same narrow pass as the WARC sink;
    the only exchange is the per-file window (partition by archive file,
    order by position) whose running sum assigns offsets — at 100 TB
    that is one bounded-state window per ~1 GB archive file, exactly how
    production cdx-writers stream their indexes; no payload bytes ever
    shuffle (the window rows carry url + 3 integers + a digest)."""
    from pyspark.sql import Window as W

    docs = load(spark, sf, "documents").select(
        "doc_id", "source", F.encode("text", "utf-8").alias("body")
    )
    framed = map_rows(docs, _cdx_rows, _CDX_FRAMES)
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    path = F.regexp_extract("url", r"https://[^/]+(/.*)", 1)
    surt = F.concat(
        F.concat_ws(",", F.reverse(F.split(host, r"\."))), F.lit(")"), path
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return framed.select(
        surt.alias("surt"),
        "ts14",
        "url",
        F.lit("text/html").alias("mime"),
        F.lit(200).alias("status"),
        "digest",
        F.col("rec_len").alias("rlen"),
        (
            F.lit(_CDX_WARCINFO_LEN)
            + F.coalesce(F.sum("rec_len").over(w), F.lit(0))
        ).cast("bigint").alias("roffset"),
        F.concat(F.lit("crawl-"), F.col("source"), F.lit(".warc")).alias(
            "warc_file"
        ),
    )


# ---------------------------------------------------------------------------
# WAT off-ramp (the Common Crawl metadata sidecar) + roundtrip qkey
# ---------------------------------------------------------------------------


def _wat_json_str(s: str) -> str:
    """Minimal JSON string escaping (backslash, quote, control chars) —
    hand-rolled so the byte stream stays a deterministic concat the SQL
    oracle can mirror; full json.dumps would also escape non-ASCII,
    changing bytes the oracle can't cheaply reproduce."""
    out = s.replace("\\", "\\\\").replace('"', '\\"')
    return "".join(
        c if c >= " " else "\\u%04x" % ord(c) for c in out
    )


def _wat_payload(url: str, title: str, links: list[str]) -> bytes:
    """The WAT record payload: one compact JSON envelope per response —
    keys emitted in a FIXED order (links, title, url) with no whitespace,
    so the byte stream is deterministic and a SQL oracle can recompute
    its digest by plain string concatenation (oracle values contain no
    escapable chars; real-world values are escaped here).  Mirrors the
    shape of Common Crawl's Envelope.Payload-Metadata
    .HTTP-Response-Metadata.HTML-Metadata (links + head title),
    flattened."""
    body = (
        '{"links":['
        + ",".join('"' + _wat_json_str(l) + '"' for l in links)
        + '],"title":"' + _wat_json_str(title)
        + '","url":"' + _wat_json_str(url) + '"}'
    )
    return body.encode("utf-8")


def _metadata_records(url: str, title: str | None, links) -> list[bytes]:
    return [
        build_record(
            "metadata",
            _wat_payload(url, title or "", links or []),
            url=url,
            ts=_WARC_EPOCH,
            content_type="application/json",
        )
    ]


def wat_sink_df(meta: DataFrame, partitions: int = 8) -> DataFrame:
    """WAT-style output: each (url, title, outlinks) row becomes a WARC
    ``metadata`` record carrying the JSON envelope, one file blob per
    partition-batch — completing the crawl triad next to ``warc_sink_df``
    (raw) and ``wet_sink_df`` (extracted text).  Deterministic bytes:
    fixed timestamp, fixed key order, per-record gzip members."""
    return _blobs(
        meta.select("url", "title", "outlinks"),
        "url",
        _metadata_records,
        partitions,
        "software: caraspark-warc/1.0 (WAT)",
    )


_PAYLOADS = pa.schema(
    {"url": STRING, "n_octets": BIGINT, "payload_md5": STRING}
)


def _payload_rows(rec_type: str):
    """Row function over a WARC blob: the url, payload length and payload
    md5 of each of its ``rec_type`` records."""

    def rows(blob: bytes):
        return (
            {
                "url": r["url"],
                "n_octets": len(r["payload"]),
                "payload_md5": hashlib.md5(r["payload"]).hexdigest(),
            }
            for r in parse_warc(blob)
            if r["rec_type"] == rec_type
        )

    return rows


@_q(
    "warc_wat",
    """SELECT CAST(doc_id AS VARCHAR) AS url,
       CAST(octet_length(encode(
           '{"links":["/n/' || CAST(doc_id % 7 AS VARCHAR)
           || '","/x/' || CAST(doc_id % 3 AS VARCHAR)
           || '"],"title":"t' || CAST(doc_id % 5 AS VARCHAR)
           || '","url":"' || CAST(doc_id AS VARCHAR) || '"}'
       )) AS BIGINT) AS n_octets,
       md5('{"links":["/n/' || CAST(doc_id % 7 AS VARCHAR)
           || '","/x/' || CAST(doc_id % 3 AS VARCHAR)
           || '"],"title":"t' || CAST(doc_id % 5 AS VARCHAR)
           || '","url":"' || CAST(doc_id AS VARCHAR) || '"}'
       ) AS payload_md5
FROM documents""",
)
def warc_wat(spark, sf):
    """WAT writer→parser roundtrip, hash-verified: per document a
    deterministic (title, outlinks) metadata row is serialized into WAT
    blobs on the executors (``wat_sink_df``), parsed back through the
    same ``parse_warc`` path the reader uses, and the recovered JSON
    payload's md5 must match the oracle's closed-form concat — pinning
    byte identity through the JSON envelope, the metadata-record
    framing, and the gzip members.  Plan: one repartition exchange,
    narrow Arrow stages, zero collect."""
    docs = load(spark, sf, "documents")
    did = F.col("doc_id").cast("string")
    meta = docs.select(
        did.alias("url"),
        F.concat(F.lit("t"), (F.col("doc_id") % 5).cast("string")).alias(
            "title"
        ),
        F.array(
            F.concat(F.lit("/n/"), (F.col("doc_id") % 7).cast("string")),
            F.concat(F.lit("/x/"), (F.col("doc_id") % 3).cast("string")),
        ).alias("outlinks"),
    )
    return map_rows(wat_sink_df(meta), _payload_rows("metadata"), _PAYLOADS)


@_q(
    "warc_wet",
    """SELECT CAST(doc_id AS VARCHAR) AS url,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_octets,
       md5(text) AS payload_md5
FROM documents""",
)
def warc_wet(spark, sf):
    """WET writer→parser roundtrip, hash-verified: every row's extracted
    text is serialized into WET conversion-record blobs on the executors
    (``wet_sink_df``, the Common Crawl extracted-text sidecar), parsed
    back through the same ``parse_warc`` path, and the recovered payload
    md5 must match the closed-form oracle — byte identity through the
    conversion framing, warcinfo header record, and gzip members. Same
    narrow plan shape as warc_roundtrip / warc_wat."""
    docs = load(spark, sf, "documents")
    ext = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode("text", "utf-8").alias("text"),
    )
    return map_rows(wet_sink_df(ext), _payload_rows("conversion"), _PAYLOADS)


# ---------------------------------------------------------------------------
# Revisit records (WARC 1.1 §6.7) — fetch-time dedup + digest-join resolution
# ---------------------------------------------------------------------------

_REVISIT_PROFILE = (
    "WARC-Profile: "
    "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest"
)


def build_revisit_record(
    url: str,
    ts: datetime,
    digest_hex: str,
    refers_to_uri: str,
    refers_to_date: str,
) -> bytes:
    """A ``revisit`` record for an identical-payload re-fetch: the HTTP
    response HEADERS are kept (they may differ between fetches) but the
    body is NOT stored — WARC-Payload-Digest + WARC-Refers-To-Target-URI
    point at the capture that has the bytes. This is how Common Crawl
    avoids re-storing the ~60% of fetches whose payload did not change
    between monthly crawls."""
    head = b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
    return build_record(
        "revisit",
        head,
        url=url,
        ts=ts,
        content_type="application/http; msgtype=response",
        extra_headers=[
            _REVISIT_PROFILE,
            f"WARC-Payload-Digest: md5:{digest_hex}",
            f"WARC-Refers-To-Target-URI: {refers_to_uri}",
            f"WARC-Refers-To-Date: {refers_to_date}",
        ],
    )


def _revisit_sql() -> str:
    return """
SELECT 'https://synth.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 3 = 0 THEN 'response' ELSE 'revisit' END AS kind,
       CASE WHEN doc_id % 3 = 0
            THEN sha256(text || chr(10) || 'rev2')
            ELSE sha256(text) END AS payload_sha256,
       CASE WHEN doc_id % 3 = 0 THEN NULL
            ELSE 'https://synth.example/doc/' || CAST(doc_id AS VARCHAR) END
         AS refers_to
FROM documents
"""


def _revisit_records(doc_id: int, body: bytes) -> list[bytes]:
    """A page's two fetches: the crawl-1 response, then one day later a
    changed response (doc_id % 3 == 0) or a bodyless revisit record."""
    url, ts1 = _doc_capture(doc_id)
    ts2 = ts1 + timedelta(days=1)
    first = build_record("response", http_response(body), url, ts1)
    if doc_id % 3 == 0:
        body2 = http_response(body + b"\nrev2")
        return [first, build_record("response", body2, url, ts2)]
    digest = hashlib.md5(body).hexdigest()
    return [first, build_revisit_record(url, ts2, digest, url, _warc_date(ts1))]


_REVISIT_ROWS = pa.schema(
    {
        "rec_type": STRING,
        "url": STRING,
        "ts_epoch": BIGINT,
        "digest": STRING,
        "sha256": STRING,
        "refers_to": STRING,
    }
)


def _revisit_rows(blob: bytes):
    """The response and revisit records of a WARC blob: a response
    carries its body's digests, a revisit its parsed digest and
    refers-to url."""
    for r in parse_warc(blob):
        ts_epoch = int(r["ts"].timestamp()) if r["ts"] else None
        if r["rec_type"] == "response":
            yield {
                **r,
                "ts_epoch": ts_epoch,
                "digest": hashlib.md5(r["body"]).hexdigest(),
                "sha256": hashlib.sha256(r["body"]).hexdigest(),
                "refers_to": None,
            }
        elif r["rec_type"] == "revisit":
            yield {
                **r,
                "ts_epoch": ts_epoch,
                "digest": r["payload_digest"],
                "sha256": None,
            }


@_q("warc_revisit", _revisit_sql())
def warc_revisit(spark, sf):
    """Two-crawl WARC with revisit records, resolved by a digest join —
    hash-verified end to end. Crawl 1 stores every page as a ``response``
    record; crawl 2 (one day later) re-fetches every url, and the writer
    emits a full ``response`` only where the payload changed (doc_id%3==0,
    a ``\\nrev2`` suffix) and a bodyless ``revisit`` record otherwise,
    exactly as a polite recrawler does. The parser side recovers BOTH
    record kinds through ``parse_warc`` (revisit rows carry the parsed
    WARC-Payload-Digest + WARC-Refers-To-Target-URI headers, no bytes),
    and revisits are RESOLVED by an equi-join on the 16-byte digest
    against a digest→sha256 lookup built from the crawl-1 responses — the
    query returns each crawl-2 fetch with the sha256 of the payload a
    replayer would materialize for it.

    Scale shape: payload bytes cross the executors exactly once (inside
    the per-file Arrow parse); the resolution join shuffles only
    (digest, sha256) pairs — 48 bytes a row at 100 TB, never page bodies
    — and the lookup side is ``distinct`` digests, i.e. the crawl dedup
    store every production replayer keeps. Identical bodies across
    different urls collapse to ONE lookup row, so the join can never
    fan out."""
    docs = load(spark, sf, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("body")
    )
    blobs = _blobs(docs, "doc_id", _revisit_records)
    parsed = map_rows(blobs, _revisit_rows, _REVISIT_ROWS)
    day2 = int((_WARC_EPOCH + timedelta(days=1)).timestamp())
    fetch1 = parsed.filter(
        (F.col("rec_type") == "response") & (F.col("ts_epoch") < day2)
    )
    lookup = fetch1.select("digest", "sha256").distinct()
    f2_resp = parsed.filter(
        (F.col("rec_type") == "response") & (F.col("ts_epoch") >= day2)
    ).select(
        "url",
        F.lit("response").alias("kind"),
        F.col("sha256").alias("payload_sha256"),
        F.lit(None).cast("string").alias("refers_to"),
    )
    f2_rev = (
        parsed.filter(F.col("rec_type") == "revisit")
        .select("url", "digest", "refers_to")
        .join(lookup, "digest", "left")
        .select(
            "url",
            F.lit("revisit").alias("kind"),
            F.col("sha256").alias("payload_sha256"),
            "refers_to",
        )
    )
    return f2_resp.unionByName(f2_rev)


# ---------------------------------------------------------------------------
# HTTP header harvest from response payloads (parser routing + REP headers)
# ---------------------------------------------------------------------------


def http_head(payload: bytes) -> tuple[int | None, dict[str, str]]:
    """Status code + headers of the HTTP message at the front of a WARC
    response payload. Tolerant: a payload with no CRLFCRLF or a garbled
    status line yields (None, {}) — never raises (crawled archives carry
    every malformation). Duplicate header names keep the FIRST value
    (the one proxies/browsers act on); names lowercase."""
    split = payload.find(_CRLF * 2)
    head = payload[:split] if split >= 0 else b""
    lines = head.split(_CRLF)
    status: int | None = None
    if lines and lines[0][:5] == b"HTTP/":
        parts = lines[0].split()
        if len(parts) >= 2 and parts[1].isdigit():
            status = int(parts[1])
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, sep, v = line.partition(b":")
        if sep:
            key = k.decode("latin-1").strip().lower()
            if key not in headers:
                headers[key] = v.decode("latin-1").strip()
    return status, headers


def _warc_headers_sql() -> str:
    return """
SELECT 'https://synth.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       CAST(CASE WHEN doc_id % 17 = 0 THEN 404 ELSE 200 END AS INT)
         AS status,
       CASE WHEN doc_id % 6 = 0 THEN 'application/pdf'
            ELSE 'text/html' END AS content_type,
       CASE WHEN doc_id % 9 = 0 THEN 'noindex, nofollow'
            WHEN doc_id % 9 = 3 THEN 'noarchive' END AS x_robots_tag,
       doc_id % 9 = 0 AS noindex
FROM documents
"""


_HEADERS = pa.schema(
    {
        "url": STRING,
        "status": INT,
        "content_type": STRING,
        "x_robots_tag": STRING,
        "noindex": BOOLEAN,
    }
)


def _header_rows(doc_id: int, body: bytes):
    """Frame a document as a response whose HTTP head carries the
    residue-planted status, Content-Type and X-Robots-Tag, then harvest
    them back out of the parsed record's payload."""
    url, ts = _doc_capture(doc_id)
    status = 404 if doc_id % 17 == 0 else 200
    ctype = "application/pdf" if doc_id % 6 == 0 else "text/html"
    extra = b""
    if doc_id % 9 == 0:
        extra = b"X-Robots-Tag: noindex, nofollow\r\n"
    elif doc_id % 9 == 3:
        extra = b"X-Robots-Tag: noarchive\r\n"
    http = (
        f"HTTP/1.1 {status} X\r\nContent-Type: {ctype}\r\n".encode()
        + extra
        + f"Content-Length: {len(body)}\r\n\r\n".encode()
        + body
    )
    for r in parse_warc(build_record("response", http, url=url, ts=ts)):
        if r["rec_type"] != "response":
            continue
        st, hdrs = http_head(r["payload"])
        xrt = hdrs.get("x-robots-tag")
        yield {
            "url": r["url"],
            "status": st,
            "content_type": hdrs.get("content-type", "").partition(";")[0],
            "x_robots_tag": xrt,
            "noindex": bool(xrt and "noindex" in xrt),
        }


@_q("warc_headers", _warc_headers_sql())
def warc_headers(spark, sf):
    """HTTP header harvest, hash-verified roundtrip: each document is
    framed as a full WARC response whose HTTP message carries a status
    (404 on %17), a Content-Type (`application/pdf` on %6 — the
    parser-routing signal), and an X-Robots-Tag on %9 residues (the
    header-level REP directive `filter_noindex`'s meta-tag path cannot
    see); `http_head` parses them back out of the payload bytes and the
    closed-form oracle pins status-line split, first-value-wins header
    fold, and the derived noindex verdict.

    Scale shape: the same one-pass Arrow map as every WARC qkey — zero
    shuffle; headers are harvested in the SAME pass that already slices
    the payload, so the signal is free at scan time."""
    docs = load(spark, sf, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("body")
    )
    return map_rows(docs.repartition(8, "doc_id"), _header_rows, _HEADERS)


def _warc_truncated_sql() -> str:
    return """
SELECT 'https://synth.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       length(text) > 500 AS truncated,
       CAST(least(length(text), 500) AS BIGINT) AS n_chars,
       md5(left(text, 500)) AS payload_md5
FROM documents
"""


_TRUNCATED = pa.schema(
    {
        "url": STRING,
        "truncated": BOOLEAN,
        "n_chars": BIGINT,
        "payload_md5": STRING,
    }
)


def _truncated_rows(doc_id: int, stored: bytes, cut: bool):
    """Store a document's prefix as a response, flagged ``WARC-Truncated``
    when ``cut``, and read the flag and the stored body back."""
    url, ts = _doc_capture(doc_id)
    rec = build_record(
        "response",
        http_response(stored),
        url=url,
        ts=ts,
        extra_headers=["WARC-Truncated: length"] if cut else None,
    )
    for r in parse_warc(rec):
        if r["rec_type"] != "response":
            continue
        yield {
            "url": r["url"],
            "truncated": r["truncated"] is not None,
            "n_chars": len(r["body"].decode("utf-8")),
            "payload_md5": hashlib.md5(r["body"]).hexdigest(),
        }


@_q("warc_truncated", _warc_truncated_sql())
def warc_truncated(spark, sf):
    """Truncated-capture handling (WARC 1.1 §5.13), hash-verified
    roundtrip: bodies longer than the fetch budget are stored CUT with a
    ``WARC-Truncated: length`` header — exactly what Common Crawl does
    at its 1 MB payload cap — and the parser must surface the flag plus
    the stored prefix byte-exactly, because downstream quality filters
    treat truncated text differently (mid-sentence tails, broken
    markup). The budget here is 500 CHARACTERS (cut on a char boundary)
    so the DuckDB oracle can pin the stored prefix with
    ``md5(left(text, 500))``; production cuts at a byte budget — the
    header plumbing, flag, and downstream contract are identical, and
    the decode path already tolerates a mid-UTF-8 byte cut
    (errors=replace).

    Scale shape: the standard one-pass Arrow map, zero shuffle; the
    flag rides the same header parse the record already pays for."""
    docs = load(spark, sf, "documents").select(
        "doc_id",
        F.encode(F.substring("text", 1, 500), "utf-8").alias("stored"),
        (F.length("text") > 500).alias("cut"),
    )
    return map_rows(
        docs.repartition(8, "doc_id"), _truncated_rows, _TRUNCATED
    )


# ---------------------------------------------------------------------------
# Request records (the fetch side of a capture event)
# ---------------------------------------------------------------------------


def build_request_record(
    url: str,
    ts: datetime,
    verb: str = "GET",
    concurrent_to: str | None = None,
) -> bytes:
    """A ``request`` record (WARC 1.1 §6.4): the HTTP request message the
    crawler actually sent, stored alongside its response so a capture
    event is fully replayable (politeness audits need the sent
    User-Agent; cache analyses need the sent validators; HEAD-vs-GET
    explains empty bodies). ``WARC-Concurrent-To`` names the sibling
    response record of the same capture event — pairing is BY RECORD ID,
    not by url, because one crawl may fetch a url many times."""
    rest = url.partition("://")[2]
    host, slash, path = rest.partition("/")
    msg = (
        f"{verb} {slash + path if slash else '/'} HTTP/1.1\r\n"
        f"Host: {host}\r\n"
        "User-Agent: caraspark-warc/1.0\r\n"
        "Accept: */*\r\n\r\n"
    ).encode()
    extra = (
        [f"WARC-Concurrent-To: {concurrent_to}"] if concurrent_to else None
    )
    return build_record(
        "request",
        msg,
        url=url,
        ts=ts,
        content_type="application/http; msgtype=request",
        extra_headers=extra,
    )


def _warc_request_sql() -> str:
    return """
SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.ex/p'
         || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 13 = 0 THEN 'HEAD' ELSE 'GET' END AS verb,
       '/p' || CAST(doc_id AS VARCHAR) AS path,
       doc_id % 17 <> 0 AS paired,
       CAST(CASE WHEN doc_id % 17 = 0 THEN NULL
                 WHEN doc_id % 13 = 0 THEN 0
                 ELSE 50 + doc_id % 40 END AS INT) AS body_len
FROM documents
WHERE doc_id % 19 <> 0
"""


def _request_records(doc_id: int) -> list[bytes]:
    """A capture event's records: the request naming its response's
    record id, then the response; a %19 capture is response-only, a %17
    one a failed fetch (request only, no Concurrent-To)."""
    if doc_id % 19 == 0:
        kind = "response_only"
    elif doc_id % 17 == 0:
        kind = "request_only"
    else:
        kind = "pair"
    url = f"https://h{doc_id % 7}.ex/p{doc_id}"
    ts = _WARC_EPOCH + timedelta(seconds=doc_id % 86400)
    verb = "HEAD" if doc_id % 13 == 0 else "GET"
    body = b"" if verb == "HEAD" else b"b" + b"x" * (49 + doc_id % 40)
    resp_id = _record_id(url, _warc_date(ts)) if kind == "pair" else None
    recs = []
    if kind != "response_only":
        recs.append(build_request_record(url, ts, verb, resp_id))
    if kind != "request_only":
        recs.append(build_record("response", http_response(body), url, ts))
    return recs


_REQUEST_ROWS = pa.schema(
    {
        "rec_type": STRING,
        "url": STRING,
        "record_id": STRING,
        "concurrent_to": STRING,
        "verb": STRING,
        "path": STRING,
        "body_len": INT,
    }
)


def _request_rows(blob: bytes):
    """The request and response records of a WARC blob: a request carries
    the verb and path of its stored request line, a response its body
    length."""
    for r in parse_warc(blob):
        if r["rec_type"] == "request":
            parts = r["payload"].split(_CRLF, 1)[0].split(b" ")
            yield {
                **r,
                "verb": parts[0].decode("latin-1"),
                "path": parts[1].decode("latin-1") if len(parts) > 1 else None,
                "body_len": None,
            }
        elif r["rec_type"] == "response":
            yield {
                **r,
                "concurrent_to": None,
                "verb": None,
                "path": None,
                "body_len": len(r["body"]),
            }


@_q("warc_request", _warc_request_sql())
def warc_request(spark, sf):
    """Request/response capture events paired by WARC-Concurrent-To —
    hash-verified roundtrip. The writer emits per url a ``request``
    record naming its response's record id, then the ``response``;
    residues plant the event shapes: %13 a HEAD fetch (empty body must
    survive pairing as len 0, not NULL), %17 a FAILED fetch (request
    only, no Concurrent-To — the unpaired path), %19 a response-only
    capture that must NOT appear in the request-driven output. The
    parser recovers verb + path from the stored request message and the
    query resolves pairs by an equi-join of Concurrent-To against the
    response record ids — url never participates, pinning the by-id
    semantics.

    Scale shape: request messages are a few hundred bytes, so the pair
    join shuffles (record_id, small ints) — response BODIES stay inside
    the per-file Arrow parse and never cross the exchange; body_len is
    computed at parse time exactly so replay audits don't re-read
    payloads."""
    docs = load(spark, sf, "documents").select("doc_id")

    blobs = _blobs(docs, "doc_id", _request_records)
    parsed = map_rows(blobs, _request_rows, _REQUEST_ROWS)
    reqs = parsed.filter(F.col("rec_type") == "request").select(
        "url", "verb", "path", "concurrent_to"
    )
    resps = parsed.filter(F.col("rec_type") == "response").select(
        F.col("record_id").alias("_rid"), "body_len"
    )
    return reqs.join(
        resps, reqs["concurrent_to"] == resps["_rid"], "left"
    ).select(
        "url",
        "verb",
        "path",
        F.col("_rid").isNotNull().alias("paired"),
        "body_len",
    )
