"""WARC container source/sink: byte-level record framing, multi-member
gzip, file-based Spark read path, and writer determinism.

The roundtrip QKEY (warc_roundtrip) hash-verifies the distributed
writer→parser path against DuckDB; these tests cover what the oracle
can't see — real files on disk through binaryFile, plain vs gzip layout
equivalence, junk re-sync, and non-response record filtering.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

from caraspark import warc as W


def _mkrecords(n: int):
    return [
        (
            f"https://ex.test/p/{i}",
            datetime(2026, 1, 1) + timedelta(seconds=i),
            W.http_response(f"body {i} × {'x' * i}".encode("utf-8")),
        )
        for i in range(n)
    ]


def test_build_parse_roundtrip_gzip_and_plain():
    recs = _mkrecords(5)
    for gz in (True, False):
        blob = W.build_warc(recs, gzip_members=gz)
        parsed = W.parse_warc(blob)
        # warcinfo + 5 responses
        assert [r["rec_type"] for r in parsed] == ["warcinfo"] + [
            "response"
        ] * 5
        for (url, ts, payload), rec in zip(recs, parsed[1:]):
            assert rec["url"] == url
            assert rec["ts"] == ts
            assert rec["payload"] == payload
            assert rec["body"] == payload.split(b"\r\n\r\n", 1)[1]


def test_gzip_layout_decodes_to_plain_layout():
    recs = _mkrecords(3)
    gz = W.build_warc(recs, gzip_members=True)
    plain = W.build_warc(recs, gzip_members=False)
    assert b"".join(W._iter_gunzip_members(gz)) == plain


def test_writer_is_deterministic():
    recs = _mkrecords(4)
    assert W.build_warc(recs) == W.build_warc(recs)  # no mtime in gzip hdr


def test_parser_resyncs_over_junk_and_bad_lengths():
    recs = _mkrecords(2)
    good = W.build_warc(recs, gzip_members=False)
    # splice junk between records and a header with a garbage length
    corrupted = (
        good
        + b"%%GARBAGE NOT A RECORD%%"
        + b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: zap\r\n\r\n"
        + W.build_record(
            "response",
            W.http_response(b"after junk"),
            url="https://ex.test/after",
            ts=datetime(2026, 1, 2),
        )
    )
    parsed = W.parse_warc(corrupted)
    urls = [r["url"] for r in parsed if r["rec_type"] == "response"]
    assert urls == [
        "https://ex.test/p/0",
        "https://ex.test/p/1",
        "https://ex.test/after",
    ]
    assert parsed[-1]["body"] == b"after junk"


def test_parser_terminates_on_negative_content_length():
    """ADVICE r2 (high): a negative Content-Length moved pos BACKWARDS, so
    buf.find(b"WARC/", pos) re-found the same header forever — a hostile
    .warc hung the executor task. Must terminate and still re-sync to the
    next good record."""
    hostile = (
        b"A" * 200
        + b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: -100\r\n\r\npayload"
        + W.build_record(
            "response",
            W.http_response(b"survivor"),
            url="https://ex.test/after-neg",
            ts=datetime(2026, 1, 2),
        )
    )
    parsed = W.parse_warc(hostile)  # must return, not loop
    urls = [r["url"] for r in parsed if r["rec_type"] == "response"]
    assert urls == ["https://ex.test/after-neg"]
    assert parsed[-1]["body"] == b"survivor"


def test_read_warc_files_on_disk(spark, tmp_path):
    """The production path: .warc.gz files in a directory → binaryFile →
    documents_raw. Request/warcinfo records must be dropped."""
    d = tmp_path / "crawl"
    os.makedirs(d)
    all_urls = set()
    for f in range(3):
        recs = [
            (
                f"https://ex.test/f{f}/p{i}",
                datetime(2026, 1, 1, f),
                W.http_response(f"f{f} page {i}".encode()),
            )
            for i in range(4)
        ]
        all_urls |= {u for u, _, _ in recs}
        # interleave a non-response record: must not surface
        blob = W.build_warc(recs) + W._gzip_member(
            W.build_record(
                "request",
                b"GET / HTTP/1.1\r\n\r\n",
                url=f"https://ex.test/f{f}/req",
                ts=datetime(2026, 1, 1, f),
                content_type="application/http; msgtype=request",
            )
        )
        with open(d / f"part-{f}.warc.gz", "wb") as fh:
            fh.write(blob)

    df = W.read_warc(spark, str(d))
    rows = df.collect()
    assert {r.url for r in rows} == all_urls
    assert all(r.html.startswith(b"f") for r in rows)
    assert all(r.warc_ts is not None for r in rows)
    # schema contract: same documents_raw shape every source feeds
    assert [f.name for f in df.schema.fields] == [
        "url",
        "warc_ts",
        "html",
        "text",
        "lang",
    ]


def test_read_warc_feeds_extract_pipeline(spark, tmp_path):
    """End-to-end: WARC file → read_warc → extract() — the full crawl
    on-ramp. HTML bodies must come out with extracted text + spans."""
    from caraspark.extract import extract

    d = tmp_path / "crawl2"
    os.makedirs(d)
    body = (
        b"<html><body><main><p>hello warc world</p>"
        b"<p>second block</p></main></body></html>"
    )
    blob = W.build_warc(
        [("https://ex.test/page", datetime(2026, 1, 3), W.http_response(body))]
    )
    with open(d / "part-0.warc.gz", "wb") as fh:
        fh.write(blob)
    out = extract(W.read_warc(spark, str(d))).collect()
    assert len(out) == 1
    r = out[0]
    assert r.text == b"hello warc world\nsecond block"
    assert [(s.start, s.end, s.label) for s in r.spans] == [
        (0, 16, "block:0"),
        (17, 29, "block:1"),
    ]


def test_wet_sink_roundtrip(spark, tmp_path):
    """Crawl on-ramp to WET off-ramp: WARC files → read_warc → extract →
    wet_sink_df → parse back. Every conversion record's payload must be
    the byte-exact extracted text of its url."""
    from caraspark.extract import extract

    d = tmp_path / "wet"
    os.makedirs(d)
    pages = {
        f"https://ex.test/w/{i}": (
            f"<html><head><title>t{i}</title></head><body>"
            f"<main><p>wet body {i} é漢</p></main></body></html>"
        ).encode("utf-8")
        for i in range(6)
    }
    blob = W.build_warc(
        [
            (u, datetime(2026, 1, 4), W.http_response(b))
            for u, b in sorted(pages.items())
        ]
    )
    with open(d / "part-0.warc.gz", "wb") as fh:
        fh.write(blob)

    ex = extract(W.read_warc(spark, str(d)))
    wet_blobs = [r.warc for r in W.wet_sink_df(ex, partitions=2).collect()]
    assert wet_blobs
    got = {}
    for wb in wet_blobs:
        for rec in W.parse_warc(wb):
            if rec["rec_type"] == "conversion":
                got[rec["url"]] = rec["payload"]
    want = {u: f"wet body {u.rsplit('/', 1)[1]} é漢".encode() for u in pages}
    assert got == want


def test_warc_cdx_offsets_seek_to_records(spark):
    """End-to-end CDX property: build the REAL uncompressed per-host WARC
    files the index describes, then blob[roffset : roffset+rlen] must be
    exactly one parseable response record for the right url with the
    digest's payload."""
    import hashlib

    rows = W.warc_cdx(spark, "/root/testdata/sf0.001").collect()
    docs = {
        r.doc_id: (r.source, r.text)
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).collect()
    }
    files: dict[str, bytes] = {}
    for src in sorted({s for s, _ in docs.values()}):
        recs = [
            (
                f"https://synth.example/doc/{i}",
                W._WARC_EPOCH + timedelta(seconds=i % 86400),
                W.http_response(t.encode("utf-8")),
            )
            for i, (s, t) in sorted(docs.items())
            if s == src
        ]
        files[f"crawl-{src}.warc"] = W.build_warc(recs, gzip_members=False)
    assert len(rows) == len(docs)
    for r in rows:
        blob = files[r.warc_file]
        sl = blob[r.roffset : r.roffset + r.rlen]
        assert sl.startswith(b"WARC/1.0"), r.url
        assert f"WARC-Target-URI: {r.url}".encode() in sl
        parsed = W.parse_warc(sl)
        assert len(parsed) == 1 and parsed[0]["url"] == r.url
        assert hashlib.md5(parsed[0]["body"]).hexdigest() == r.digest
        # surt key: reversed host + path
        assert r.surt == "example,synth)/doc/" + r.url.rsplit("/", 1)[1]


def test_wat_payload_and_sink_roundtrip_bytes():
    """WAT JSON envelope: fixed key order, no whitespace, byte-stable;
    the metadata record parses back with the exact payload."""
    from caraspark.warc import _wat_payload, build_record, parse_warc
    from caraspark.warc import _gzip_member, _WARC_EPOCH

    p = _wat_payload("u1", "Title X", ["/a", "/b"])
    assert p == b'{"links":["/a","/b"],"title":"Title X","url":"u1"}'
    assert _wat_payload("u", "", []) == b'{"links":[],"title":"","url":"u"}'
    rec = build_record(
        "metadata", p, url="u1", ts=_WARC_EPOCH,
        content_type="application/json",
    )
    parsed = parse_warc(_gzip_member(rec))
    assert len(parsed) == 1
    assert parsed[0]["rec_type"] == "metadata"
    assert parsed[0]["payload"] == p


def test_parse_warc_salvages_past_corrupt_gzip_member():
    """A corrupt member must not crash the parse NOR take out the
    members behind it — skip and re-sync on the next gzip magic."""
    from datetime import datetime

    from caraspark.warc import (
        _gzip_member,
        build_record,
        http_response,
        parse_warc,
    )

    recs = [
        build_record(
            "response",
            http_response(f"<p>doc {i}</p>".encode()),
            url=f"https://e.example/p{i}",
            ts=datetime(2026, 1, 1, 0, 0, i),
        )
        for i in range(3)
    ]
    m0, m1, m2 = (_gzip_member(r) for r in recs)
    corrupt = m1[:10] + bytes([m1[10] ^ 0xFF]) + m1[11:]
    blob = m0 + corrupt + m2
    got = parse_warc(blob)
    urls = [r["url"] for r in got]
    assert "https://e.example/p0" in urls
    assert "https://e.example/p2" in urls
    # determinism under the salvage path
    assert parse_warc(blob) == got


def test_revisit_record_roundtrip_and_digest_parse():
    """build_revisit_record → parse_warc: the revisit row carries the
    parsed refers-to URI and the digest hex with the 'md5:' scheme
    prefix stripped; no body key is attached (nothing to replay from
    the record itself)."""
    from datetime import datetime

    from caraspark.warc import build_revisit_record, parse_warc

    rec = build_revisit_record(
        "https://e.example/p1",
        datetime(2026, 1, 2, 0, 0, 7),
        "0123456789abcdef0123456789abcdef",
        "https://e.example/p1",
        "2026-01-01T00:00:07Z",
    )
    got = parse_warc(rec)
    assert len(got) == 1
    r = got[0]
    assert r["rec_type"] == "revisit"
    assert r["url"] == "https://e.example/p1"
    assert r["refers_to"] == "https://e.example/p1"
    assert r["payload_digest"] == "0123456789abcdef0123456789abcdef"
    assert "body" not in r
    # the kept HTTP headers are the whole payload
    assert r["payload"].startswith(b"HTTP/1.1 200 OK")


def test_revisit_digest_without_scheme_prefix_kept_verbatim():
    """A bare (scheme-less) WARC-Payload-Digest value must survive the
    prefix strip — partition(':') on a prefix-less value yields ''
    in slot 2, and the parser falls back to the raw string."""
    from caraspark.warc import build_record, parse_warc

    rec = build_record(
        "revisit",
        b"HTTP/1.1 200 OK\r\n\r\n",
        url="https://e.example/x",
        extra_headers=["WARC-Payload-Digest: deadbeef"],
    )
    r = parse_warc(rec)[0]
    assert r["payload_digest"] == "deadbeef"
    assert r["refers_to"] is None


def test_parse_warc_fuzz_recovers_all_records_between_junk():
    """Hypothesis: any interleaving of well-formed records with junk that
    lacks the WARC/ magic (and doesn't open the blob with the gzip magic,
    which by contract flips the framing sniff to gzip mode) must recover
    EVERY record, in order, with byte-exact bodies — junk can only be
    skipped, never eat a record."""
    from datetime import datetime

    from hypothesis import given, settings, strategies as st

    from caraspark.warc import build_record, http_response, parse_warc

    junk = st.sampled_from([
        b"", b"\r\n\r\n", b"garbage\xff\x00bytes",
        b"Content-Length: -100\r\n\r\n",
        b"WARC-Type: response\r\n", b"mid \x1f\x8b\x08 gzip magic",
    ])
    item = st.one_of(st.integers(min_value=0, max_value=9),
                     junk)

    @settings(max_examples=30, deadline=None)
    @given(st.lists(item, min_size=0, max_size=8))
    def check(items):
        want = []
        blob = b""
        for it in items:
            if isinstance(it, int):
                body = f"<p>doc {it}</p>".encode() * (it + 1)
                blob += build_record(
                    "response", http_response(body),
                    url=f"https://e.example/p{it}",
                    ts=datetime(2026, 1, 1, 0, 0, it),
                )
                want.append((f"https://e.example/p{it}", body))
            else:
                blob += it
        got = [(r["url"], r.get("body")) for r in parse_warc(blob)
               if r["rec_type"] == "response"]
        assert got == want, (items, got, want)
        assert parse_warc(blob) == parse_warc(blob)

    check()


def test_parse_warc_fuzz_terminates_on_decoy_headers():
    """Hypothesis: junk containing WARC/ magics, hostile Content-Length
    lines, and header fragments must never hang or crash the parser —
    salvage may merge decoys, but parsing terminates deterministically."""
    from hypothesis import given, settings, strategies as st

    from caraspark.warc import parse_warc

    piece = st.sampled_from([
        b"WARC/1.0\r\nContent-Length: -7\r\n\r\n",
        b"WARC/1.0\r\nContent-Length: 999999999\r\n\r\n",
        b"WARC/", b"\r\n\r\n", b"WARC/1.0\r\nno colon line\r\n\r\nx",
        b"Content-Length: 5\r\n", b"\x00\xff" * 7,
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 2\r\n\r\nab\r\n\r\n",
    ])

    @settings(max_examples=40, deadline=None)
    @given(st.lists(piece, min_size=0, max_size=10))
    def check(pieces):
        blob = b"".join(pieces)
        got = parse_warc(blob)
        assert parse_warc(blob) == got
        for r in got:
            assert isinstance(r["payload"], bytes)

    check()


def test_parse_warc_fuzz_gzip_member_corruption_subset():
    """Hypothesis: with per-record gzip members, any subset of corrupted
    members must cost exactly those members — every intact member's
    record is recovered."""
    from datetime import datetime

    from hypothesis import given, settings, strategies as st

    from caraspark.warc import (
        _gzip_member,
        build_record,
        http_response,
        parse_warc,
    )

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.booleans(), min_size=1, max_size=6))
    def check(corrupt_flags):
        members = []
        want = []
        for i, corrupt in enumerate(corrupt_flags):
            body = f"<p>member {i}</p>".encode()
            m = _gzip_member(
                build_record(
                    "response", http_response(body),
                    url=f"https://e.example/m{i}",
                    ts=datetime(2026, 1, 1, 0, 0, i),
                )
            )
            if corrupt:
                # flip a byte in the deflate stream, past the 10-byte header
                k = min(12, len(m) - 9)  # keep the trailer intact
                m = m[:k] + bytes([m[k] ^ 0xFF]) + m[k + 1:]
            else:
                want.append((f"https://e.example/m{i}", body))
            members.append(m)
        got = [(r["url"], r.get("body")) for r in parse_warc(b"".join(members))
               if r["rec_type"] == "response"]
        # salvage may or may not shed a neighbor's framing bytes, but every
        # INTACT member must survive
        for w in want:
            assert w in got, (corrupt_flags, w, got)

    check()


def test_http_head_edges():
    """Status/headers harvest tolerates malformed messages: no CRLFCRLF,
    garbled status lines, duplicate headers (first wins), colon-less
    lines, and header-only payloads."""
    from caraspark.warc import http_head

    st, h = http_head(b"HTTP/1.1 200 OK\r\nA: 1\r\nA: 2\r\nB:x\r\n\r\nbody")
    assert st == 200 and h == {"a": "1", "b": "x"}
    assert http_head(b"no http here at all") == (None, {})
    assert http_head(b"") == (None, {})
    st, h = http_head(b"HTTP/1.1 xyz\r\nC: 3\r\n\r\n")
    assert st is None and h == {"c": "3"}
    st, h = http_head(b"HTTP/1.1 404 Not Found\r\njunk line\r\n\r\n")
    assert st == 404 and h == {}


def test_request_record_roundtrip():
    """build_request_record → parse_warc: verb + path in the message,
    Concurrent-To surfaced (and absent when not written), record ids on
    every record, host split correct for path-less urls."""
    ts = datetime(2026, 1, 2, 3, 4, 5)
    resp = W.build_record(
        "response", W.http_response(b"hi"), "https://h.ex/a/b", ts
    )
    rid = W.parse_warc(resp)[0]["record_id"]
    assert rid and rid.startswith("<urn:uuid:")
    req = W.build_request_record(
        "https://h.ex/a/b", ts, "GET", concurrent_to=rid
    )
    bare = W.build_request_record("https://h.ex", ts, "HEAD")
    recs = W.parse_warc(req + bare)
    assert [r["rec_type"] for r in recs] == ["request", "request"]
    assert recs[0]["concurrent_to"] == rid
    assert recs[0]["payload"].startswith(b"GET /a/b HTTP/1.1\r\n")
    assert b"Host: h.ex\r\n" in recs[0]["payload"]
    assert recs[1]["concurrent_to"] is None
    assert recs[1]["payload"].startswith(b"HEAD / HTTP/1.1\r\n")


def test_parse_warc_terminates_on_arbitrary_bytes():
    """Termination fuzz (generalizes the ADVICE r2 negative-length hang):
    parse_warc must return on ANY byte soup, including adversarial
    headers, and never emit records whose payload lies outside the
    buffer."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from caraspark.warc import parse_warc

    junk = st.binary(max_size=400)
    header = st.sampled_from(
        [
            b"",
            b"WARC/1.0\r\nContent-Length: -1\r\n\r\n",
            b"WARC/1.0\r\nContent-Length: 999999999\r\n\r\nx",
            b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 5\r\n\r\nhello\r\n\r\n",
            b"WARC/1.0\r\nContent-Length: zzz\r\n\r\n",
            b"WARC/1.0\r\n\r\n",
        ]
    )

    @settings(max_examples=200, deadline=None)
    @given(a=junk, h1=header, b=junk, h2=header, c=junk)
    def run(a, h1, b, h2, c):
        buf = a + h1 + b + h2 + c
        for rec in parse_warc(buf):
            assert isinstance(rec, dict)
        return

    run()


# sha256 over each sink's blobs (sorted, then joined) for the fixed
# 40-row inputs of test_sinks_are_byte_stable: the sinks' bytes are a
# format contract, so a change to them must change these on purpose
_SINK_SHA256 = {
    "warc": "7773e78aa282d97dab39e3ddbea622836541f85c206ade22adf5b12a421517d6",
    "wet": "128f64eae92a52f4db34b0a2ed4da8cdac5555d725b4c41ebc6869ec2df30da2",
    "wat": "21cb5b0e25c2ec8daacedf66b2b0a699109a008deb555e3d5496ad8f09316b0e",
}


def test_sinks_are_byte_stable(spark):
    """The three sinks' bytes for fixed 40-row inputs (NULL texts and
    titles, empty link lists included). One input partition, so every
    output partition sees its rows in input order."""
    import hashlib

    def frame(rows, ddl):
        return spark.createDataFrame(rows, ddl).coalesce(1)

    ids = range(40)
    sinks = {
        "warc": W.warc_sink_df(
            frame(
                [(i, f"body {i} é".encode() * (i % 5)) for i in ids],
                "doc_id bigint, body binary",
            )
        ),
        "wet": W.wet_sink_df(
            frame(
                [
                    (f"https://ex.test/t/{i}", None if i % 7 == 0 else b"t%d" % i)
                    for i in ids
                ],
                "url string, text binary",
            )
        ),
        "wat": W.wat_sink_df(
            frame(
                [
                    (
                        f"https://ex.test/m/{i}",
                        None if i % 6 == 0 else f"t{i}",
                        [f"/l/{j}" for j in range(i % 4)],
                    )
                    for i in ids
                ],
                "url string, title string, outlinks array<string>",
            )
        ),
    }
    got = {
        name: hashlib.sha256(
            b"".join(sorted(r.warc for r in df.collect()))
        ).hexdigest()
        for name, df in sinks.items()
    }
    assert got == _SINK_SHA256
