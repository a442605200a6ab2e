"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata
(task brief: decode / feature-extract / resize / frame-sample as vectorized
UDFs over mapInPandas/mapInArrow).

The container has no real codec libraries (no PIL/ffmpeg), so media payloads
use a DETERMINISTIC FAKE codec whose formats are fully specified here and
actually implemented (parse/resize/sample are real NumPy code over real
bytes); hooking a production codec replaces exactly one function per kind —
see ``decode_real`` which is the clearly-marked NotImplementedError stub.

Fake container formats (big-endian):
    image  b"FIMG" u16 width u16 height  | width*height bytes (8-bit gray)
    audio  b"FAUD" u32 rate  u32 n       | n int16 samples
    video  b"FVID" u16 w u16 h u16 nfrm  | nfrm gray frames, w*h each

The media table derives deterministically from vec_id, so header metadata
has a CLOSED FORM the DuckDB oracle recomputes — the Spark side must parse
it back out of the binary column byte-exactly (media_meta is hash-verified).
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from caraspark.relational import Q, registrar
from caraspark.tables import load

REGISTRY: dict[str, Q] = {}
_q = registrar(REGISTRY)

def decode_real(kind: str, payload: bytes):
    """Production codec hook (PIL / soundfile / pyav). Not available in this
    container — the fake codec below carries the pipeline.

    Environment re-probed at the start of round 4 (2026-08-21): PIL, av,
    soundfile and cv2 all absent, so this stays a marked stub per the
    round-3 verdict ("if absent, explicitly re-document and skip — do not
    build another synthetic layer")."""
    raise NotImplementedError(
        "real media codecs are not installed in this environment; "
        "the deterministic fake codec (encode_media/parse_header) stands in"
    )


# --- deterministic fake codec ------------------------------------------------


def media_params(media_id: int) -> dict:
    """Closed-form per-id parameters (the oracle recomputes these in SQL)."""
    kind = ("image", "audio", "video")[media_id % 3]
    return {
        "kind": kind,
        "width": 16 + media_id % 16,
        "height": 8 + media_id % 8,
        "rate": 8000 + (media_id % 4) * 4000,
        "n_samples": 256 + (media_id % 32) * 16,
        "n_frames": 4 + media_id % 6,
    }


def encode_media(media_id: int) -> bytes:
    p = media_params(media_id)
    if p["kind"] == "image":
        w, h = p["width"], p["height"]
        px = (np.arange(w * h, dtype=np.int64) * (media_id + 7)) % 256
        return b"FIMG" + struct.pack(">HH", w, h) + px.astype(np.uint8).tobytes()
    if p["kind"] == "audio":
        n = p["n_samples"]
        s = ((np.arange(n, dtype=np.int64) * (media_id + 3) * 257) % 65536) - 32768
        return (
            b"FAUD"
            + struct.pack(">II", p["rate"], n)
            + s.astype(">i2").tobytes()
        )
    w, h, nf = p["width"], p["height"], p["n_frames"]
    frames = (
        np.arange(nf * w * h, dtype=np.int64) * (media_id + 11)
    ) % 256
    return (
        b"FVID" + struct.pack(">HHH", w, h, nf) + frames.astype(np.uint8).tobytes()
    )


def parse_header(payload: bytes) -> dict:
    """Total on hostile bytes: a truncated header (magic present but the
    fixed-width fields cut short) classifies as unknown instead of
    raising struct.error out of the executor task."""
    magic = payload[:4]
    if magic == b"FIMG" and len(payload) >= 8:
        w, h = struct.unpack(">HH", payload[4:8])
        return {"kind": "image", "width": w, "height": h, "rate": None,
                "n_samples": None, "n_frames": None}
    if magic == b"FAUD" and len(payload) >= 12:
        rate, n = struct.unpack(">II", payload[4:12])
        return {"kind": "audio", "width": None, "height": None, "rate": rate,
                "n_samples": n, "n_frames": None}
    if magic == b"FVID" and len(payload) >= 10:
        w, h, nf = struct.unpack(">HHH", payload[4:10])
        return {"kind": "video", "width": w, "height": h, "rate": None,
                "n_samples": None, "n_frames": nf}
    return {"kind": "unknown", "width": None, "height": None, "rate": None,
            "n_samples": None, "n_frames": None}


# --- the media table (distributed generation off embeddings ids) -------------


def encode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(media_id) batches → (media_id, payload) batches — shared by the
    batch media table and the streaming replay."""
    for pdf in it:
        mids = pdf["media_id"].tolist()
        yield pd.DataFrame(
            {
                "media_id": mids,
                "payload": [encode_media(int(m)) for m in mids],
            }
        )


def media_df(spark: SparkSession, sf: str) -> DataFrame:
    ids = load(spark, sf, "embeddings").select(
        F.col("vec_id").alias("media_id")
    )
    return ids.mapInPandas(encode_batches, "media_id bigint, payload binary")


# --- operators ---------------------------------------------------------------


@_q(
    "media_meta",
    """SELECT vec_id AS media_id,
              CASE vec_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                   ELSE 'video' END AS kind,
              CASE WHEN vec_id % 3 IN (0, 2)
                   THEN CAST(16 + vec_id % 16 AS INT) END AS width,
              CASE WHEN vec_id % 3 IN (0, 2)
                   THEN CAST(8 + vec_id % 8 AS INT) END AS height,
              CASE WHEN vec_id % 3 = 1
                   THEN CAST(8000 + (vec_id % 4) * 4000 AS INT) END AS rate,
              CASE WHEN vec_id % 3 = 1
                   THEN CAST(256 + (vec_id % 32) * 16 AS INT) END AS n_samples,
              CASE WHEN vec_id % 3 = 2
                   THEN CAST(4 + vec_id % 6 AS INT) END AS n_frames,
              CAST(CASE vec_id % 3
                  WHEN 0 THEN 8 + (16 + vec_id % 16) * (8 + vec_id % 8)
                  WHEN 1 THEN 12 + (256 + (vec_id % 32) * 16) * 2
                  ELSE 10 + (4 + vec_id % 6) * (16 + vec_id % 16)
                            * (8 + vec_id % 8)
                END AS BIGINT) AS n_bytes
       FROM embeddings""",
)
def media_meta(spark, sf):
    """Parse typed metadata back OUT of the binary column (hash-verified:
    the oracle recomputes the header fields in closed form from vec_id —
    any plumbing error in binary transfer/parse breaks the match)."""
    m = media_df(spark, sf)

    def meta(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                h = parse_header(bytes(payload))
                h["media_id"] = int(mid)
                h["n_bytes"] = len(payload)
                rows.append(h)
            yield pd.DataFrame(rows)

    return m.mapInPandas(
        meta,
        "kind string, width int, height int, rate int, n_samples int, "
        "n_frames int, media_id bigint, n_bytes bigint",
    ).select(
        "media_id", "kind", "width", "height", "rate", "n_samples",
        "n_frames", "n_bytes",
    )


_MF_BODY = """CASE e.vec_id % 3
        WHEN 0 THEN list_transform(
            range(4, (16 + e.vec_id % 16) * (8 + e.vec_id % 8)),
            i -> i * (e.vec_id + 7) % 256)
        WHEN 2 THEN list_transform(
            range(2, (4 + e.vec_id % 6) * (16 + e.vec_id % 16)
                     * (8 + e.vec_id % 8)),
            i -> i * (e.vec_id + 11) % 256)
        ELSE flatten(list_transform(
            range(0, 256 + (e.vec_id % 32) * 16),
            -- samples are (u - 32768) as big-endian int16; the stored
            -- two's-complement value is therefore (u + 32768) % 65536
            k -> [((k * (e.vec_id + 3) * 257 % 65536 + 32768) % 65536) // 256,
                  (k * (e.vec_id + 3) * 257 % 65536 + 32768) % 65536 % 256]))
    END"""


@_q(
    "media_features",
    f"""SELECT media_id,
           CAST(list_aggregate(body, 'sum') AS BIGINT) AS sum_b,
           CAST(list_aggregate(list_transform(body, b -> b * b), 'sum')
                AS BIGINT) AS sumsq_b,
           CAST(len(body) AS INT) AS n_b,
           CAST(len(list_distinct(body)) AS INT) AS entropy_proxy
    FROM (SELECT e.vec_id AS media_id, {{body}} AS body
          FROM embeddings e) t""".format(body=_MF_BODY),
)
def media_features(spark, sf):
    """Feature extraction: byte-level moments per media item (the stub for
    an embedding model — real batch shape, deterministic output). Moments
    are EXACT integer sums (mean/std are one division away, but float
    moments can't hash across engines); the oracle reconstructs each
    kind's body bytes arithmetically — audio int16 samples become their
    big-endian byte pairs."""
    m = media_df(spark, sf)

    def feats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                body = np.frombuffer(bytes(payload), dtype=np.uint8)[12:]
                b64 = body.astype(np.int64)
                rows.append(
                    {
                        "media_id": int(mid),
                        "sum_b": int(b64.sum()),
                        "sumsq_b": int((b64 * b64).sum()),
                        "n_b": int(len(body)),
                        "entropy_proxy": int(len(np.unique(body))),
                    }
                )
            yield pd.DataFrame(rows)

    return m.mapInPandas(
        feats,
        "media_id bigint, sum_b bigint, sumsq_b bigint, n_b int, "
        "entropy_proxy int",
    )


@_q(
    "image_resize",
    """SELECT e.vec_id AS media_id, CAST(8 AS INT) AS out_w,
              CAST(4 AS INT) AS out_h, CAST(p.k AS INT) AS k,
              CAST(((((p.k // 8) * (8 + e.vec_id % 8)) // 4)
                        * (16 + e.vec_id % 16)
                    + ((p.k % 8) * (16 + e.vec_id % 16)) // 8)
                   * (e.vec_id + 7) % 256 AS INT) AS pixel
       FROM embeddings e, unnest(range(0, 32)) AS p(k)
       WHERE e.vec_id % 3 = 0""",
)
def image_resize(spark, sf):
    """Resize images to 8x4 by strided sampling (real resize math on the
    fake format); one ROW per output pixel (media_id, k, pixel) — scalar
    columns only, because the driver's result canonicalizer sorts with
    pandas Categorical, which cannot hash list cells (the one red r2 row).
    Hash-verified: the fake codec's pixels are arithmetic in media_id, so
    the oracle reconstructs the strided sample closed-form — any error in
    binary transfer, header parse, or the stride math breaks the match."""
    m = media_df(spark, sf)

    def resize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tw, th = 8, 4
        ks = np.arange(tw * th, dtype=np.int32)
        for pdf in it:
            mids, kcol, pix = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                if b[:4] != b"FIMG" or len(b) < 8:
                    continue
                w, h = struct.unpack(">HH", b[4:8])
                if w == 0 or h == 0 or len(b) < 8 + w * h:
                    continue  # truncated/hostile body: skip, don't crash
                px = np.frombuffer(b[8 : 8 + w * h], dtype=np.uint8).reshape(h, w)
                ys = (np.arange(th) * h) // th
                xs = (np.arange(tw) * w) // tw
                out = px[np.ix_(ys, xs)].reshape(-1).astype(np.int32)
                mids.append(np.full(tw * th, int(mid), dtype=np.int64))
                kcol.append(ks)
                pix.append(out)
            if mids:
                yield pd.DataFrame(
                    {
                        "media_id": np.concatenate(mids),
                        "out_w": np.int32(tw),
                        "out_h": np.int32(th),
                        "k": np.concatenate(kcol),
                        "pixel": np.concatenate(pix),
                    }
                )

    return m.mapInPandas(
        resize, "media_id bigint, out_w int, out_h int, k int, pixel int"
    )


@_q(
    "video_frame_sample",
    """SELECT e.vec_id AS media_id, CAST(f.i AS INT) AS frame_idx,
              CAST(list_aggregate(list_transform(
                  range(f.i * (16 + e.vec_id % 16) * (8 + e.vec_id % 8),
                        (f.i + 1) * (16 + e.vec_id % 16) * (8 + e.vec_id % 8)),
                  j -> j * (e.vec_id + 11) % 256), 'sum') AS BIGINT)
                  AS checksum
       FROM embeddings e,
            unnest(range(0, 4 + e.vec_id % 6)) AS f(i)
       WHERE e.vec_id % 3 = 2 AND f.i % 2 = 0""",
)
def video_frame_sample(spark, sf):
    """Sample every 2nd frame from video payloads; per-frame byte
    checksums. Hash-verified closed-form like image_resize (an md5 digest
    can't be recomputed in SQL; the exact byte-sum over each sampled frame
    pins the same content)."""
    m = media_df(spark, sf)

    def sample(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                if b[:4] != b"FVID" or len(b) < 10:
                    continue
                w, h, nf = struct.unpack(">HHH", b[4:10])
                fsz = w * h
                if fsz == 0 or len(b) < 10 + nf * fsz:
                    continue  # truncated/hostile body: skip, don't crash
                for i in range(0, nf, 2):
                    frame = np.frombuffer(
                        b[10 + i * fsz : 10 + (i + 1) * fsz], dtype=np.uint8
                    )
                    rows.append(
                        {
                            "media_id": int(mid),
                            "frame_idx": i,
                            "checksum": int(frame.sum(dtype=np.int64)),
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    return m.mapInPandas(
        sample, "media_id bigint, frame_idx int, checksum bigint"
    )


@_q(
    "audio_stats",
    """SELECT CAST(8000 + (vec_id % 4) * 4000 AS INT) AS rate,
              CAST(count(*) AS BIGINT) AS n_clips,
              CAST(sum(256 + (vec_id % 32) * 16) AS BIGINT) AS total_samples
       FROM embeddings WHERE vec_id % 3 = 1 GROUP BY 1""",
)
def audio_stats(spark, sf):
    """Audio: per-sample-rate clip counts (metadata parsed from binary;
    closed-form oracle)."""
    meta = REGISTRY["media_meta"].fn(spark, sf)
    return (
        meta.filter(F.col("kind") == "audio")
        .groupBy("rate")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("n_samples").alias("total_samples"),
        )
    )


_PHASH_CTES = """imgs AS (
      SELECT vec_id AS media_id,
             CAST(16 + vec_id % 16 AS BIGINT) AS w,
             CAST(8 + vec_id % 8 AS BIGINT) AS h
      FROM embeddings WHERE vec_id % 3 = 0),
    px AS (
      SELECT media_id, w, h, p.k AS k,
             (p.k * (media_id + 7)) % 256 AS v
      FROM imgs, unnest(range(0, w * h)) AS p(k)),
    cells AS (
      SELECT media_id,
             ((k // w) * 4) // h AS bi,
             ((k % w) * 8) // w AS bj,
             SUM(v) AS s, COUNT(*) AS n
      FROM px
      GROUP BY media_id, ((k // w) * 4) // h, ((k % w) * 8) // w),
    tot AS (SELECT media_id, SUM(s) AS st, SUM(n) AS ntot
            FROM cells GROUP BY 1),
    bits AS (
      SELECT c.media_id,
             CASE WHEN c.s * t.ntot > t.st * c.n THEN 1 ELSE 0 END
               * (CAST(1 AS BIGINT) << CAST(bi * 8 + bj AS INT)) AS bv
      FROM cells c JOIN tot t USING (media_id)),
    hsh AS (SELECT media_id, CAST(SUM(bv) AS BIGINT) AS ahash
            FROM bits GROUP BY 1),
    bands AS (
      SELECT media_id, ahash, b.i AS band,
             (ahash >> CAST(b.i * 8 AS INT)) & 255 AS bv
      FROM hsh, unnest(range(0, 4)) AS b(i)),
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, bb.media_id AS id_b,
             a.ahash AS ha, bb.ahash AS hb
      FROM bands a JOIN bands bb
        ON a.band = bb.band AND a.bv = bb.bv
           AND a.media_id < bb.media_id)"""


@_q(
    "dedup_phash",
    f"""WITH {_PHASH_CTES}
    SELECT id_a, id_b,
           CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 4""",
)
def dedup_phash(spark, sf):
    """Perceptual near-dup image pairs via average-hash + banded LSH.

    Stage 1 (one Arrow pass over the binary payloads): a 32-bit aHash per
    image — 4x8 block grid, bit set iff block mean > global mean. The
    threshold is EXACT integer math (``s_block * n_total > s_total *
    n_block``) so the DuckDB oracle recomputes every bit closed-form from
    the fake codec's pixel arithmetic; float means would not hash across
    engines.

    Stage 2 (all JVM): the 4 hash bytes are LSH bands — explode to
    (band, byte), self-equi-join on band value (images within Hamming
    distance <= 4 of each other on a 32-bit hash must agree on at least
    one whole byte by pigeonhole, so banding finds ALL such pairs —
    the filter is exact, not probabilistic), then ``bit_count(xor)``
    computes true Hamming distance on candidates only.

    100 TB shape: the only shuffle is the band-bucket equi-join (no
    all-pairs); hashes are 8-byte BIGINTs, so the exchange never carries
    pixels. Mirrors the dedup_minhash band discipline (textops.py).
    """
    m = media_df(spark, sf)

    def ah(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids, hs = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                if b[:4] != b"FIMG" or len(b) < 8:
                    continue
                w, h = struct.unpack(">HH", b[4:8])
                if w == 0 or h == 0 or len(b) < 8 + w * h:
                    continue  # truncated/hostile body: skip, don't crash
                flat = np.frombuffer(b[8 : 8 + w * h], dtype=np.uint8).astype(
                    np.int64
                )
                bi = (np.arange(h, dtype=np.int64) * 4) // h
                bj = (np.arange(w, dtype=np.int64) * 8) // w
                idx = (bi[:, None] * 8 + bj[None, :]).ravel()
                s = np.bincount(idx, weights=flat, minlength=32).astype(
                    np.int64
                )
                n = np.bincount(idx, minlength=32).astype(np.int64)
                bits = s * (w * h) > flat.sum() * n
                mids.append(int(mid))
                hs.append(
                    int((bits.astype(np.int64) << np.arange(32)).sum())
                )
            if mids:
                yield pd.DataFrame(
                    {
                        "media_id": np.array(mids, dtype=np.int64),
                        "ahash": np.array(hs, dtype=np.int64),
                    }
                )

    hdf = m.mapInPandas(ah, "media_id bigint, ahash bigint")
    bands = hdf.select(
        "media_id",
        "ahash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("ahash", 8 * i)
                        .bitwiseAND(F.lit(255))
                        .alias("bv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("media_id", "ahash", "b.band", "b.bv")
    a, b2 = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int"),
        )
        .filter(F.col("hamming") <= 4)
        .select("id_a", "id_b", "hamming")
    )


@_q(
    "dedup_phash_clusters",
    f"""WITH RECURSIVE {_PHASH_CTES},
    pr AS (SELECT id_a, id_b FROM cand
           WHERE bit_count(xor(ha, hb)) <= 4),
    e2 AS (SELECT id_a AS u, id_b AS v FROM pr
           UNION SELECT id_b, id_a FROM pr),
    reach (n, m) AS (
      SELECT u, u FROM e2
      UNION
      SELECT e2.v, reach.m FROM reach JOIN e2 ON e2.u = reach.n
    )
    SELECT n AS media_id, CAST(min(m) AS BIGINT) AS comp
    FROM reach GROUP BY n""",
)
def dedup_phash_clusters(spark, sf):
    """Perceptual-dup cluster assignment: connected components over the
    aHash near-dup pair graph (Hamming <= 4 chains transitively — a~b~c
    without a~c), reusing the alternating large-star/small-star engine
    (``textops.connected_components``, Kiveris et al.) — O(log n)
    rounds, per-round lineage truncation, no component ever on one
    machine.  Only images that appear in at least one near-dup pair get
    a row (the keeper per cluster is the minimum media_id — the dedup
    policy's canonical representative).

    Oracle: DuckDB recursive-CTE transitive closure over the same pair
    CTEs — an independent algorithm computing the same components."""
    from caraspark.textops import connected_components

    pairs = REGISTRY["dedup_phash"].fn(spark, sf).select("id_a", "id_b")
    return connected_components(pairs).select(
        F.col("doc_id").alias("media_id"), "comp"
    )


_SHARD_BYTES = 4096


def _shard_layout_sql() -> str:
    return f"""
WITH meta AS ({REGISTRY["media_meta"].sql}),
cum AS (
  SELECT kind, media_id, n_bytes,
         coalesce(sum(n_bytes) OVER (PARTITION BY kind ORDER BY media_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS bytes_before
  FROM meta
)
SELECT kind,
       CAST(bytes_before // {_SHARD_BYTES} AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(min(media_id) AS BIGINT) AS first_id,
       CAST(max(media_id) AS BIGINT) AS last_id
FROM cum GROUP BY kind, bytes_before // {_SHARD_BYTES}
"""


@_q("media_shard_layout", _shard_layout_sql())
def media_shard_layout(spark, sf):
    """WebDataset-style shard layout: assign each media payload to a
    byte-budgeted shard (the tar files a multimodal training loader
    streams), deterministically — shard = preceding-cumsum DIV budget
    within kind, the same bins-by-prefix rule ``pack_sequences`` uses
    for token sequences, so a re-run or a resumed job reproduces the
    identical shard map (the property that makes shards addressable by
    content).  Sizes come from the SAME header metadata ``media_meta``
    decodes from the payload bytes, so the layout can never disagree
    with what the loader will actually read.

    Scale: one exchange keyed kind for the running sum (at production
    scale the partition key is (kind, date-bucket) so no single kind
    serializes — exactly the sharding note in pack_sequences); the
    cumsum window carries one BIGINT of state; payloads themselves
    never move — the layout table is what the tar writer consumes
    partition-locally."""
    meta = media_meta(spark, sf).select("kind", "media_id", "n_bytes")
    wc = (
        W.partitionBy("kind")
        .orderBy("media_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = meta.select(
        "kind",
        "media_id",
        "n_bytes",
        F.coalesce(F.sum("n_bytes").over(wc), F.lit(0)).alias("bytes_before"),
    )
    return cum.groupBy(
        "kind",
        F.expr(f"bytes_before DIV {_SHARD_BYTES}").cast("bigint").alias("shard"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.min("media_id").cast("bigint").alias("first_id"),
        F.max("media_id").cast("bigint").alias("last_id"),
    )


# --- temporal segmentation: VAD islands + shot-cut detection -----------------

_VAD_FRAME = 64  # samples per analysis frame
_VAD_THRESH = 16384 * _VAD_FRAME  # frame active iff sum(|s|) > mean-level


@_q(
    "audio_vad",
    f"""WITH aud AS (
  SELECT vec_id AS media_id,
         CAST(256 + (vec_id % 32) * 16 AS BIGINT) AS n
  FROM embeddings WHERE vec_id % 3 = 1
),
fr AS (
  SELECT media_id, f.i AS frame_idx,
         CAST(list_aggregate(list_transform(
             range(f.i * {_VAD_FRAME}, (f.i + 1) * {_VAD_FRAME}),
             s -> abs(((s * (media_id + 3) * 257) % 65536) - 32768)),
           'sum') AS BIGINT) AS energy
  FROM aud, unnest(range(0, n // {_VAD_FRAME})) AS f(i)
),
act AS (
  SELECT media_id, frame_idx, energy,
         frame_idx - row_number()
             OVER (PARTITION BY media_id ORDER BY frame_idx) AS grp
  FROM fr WHERE energy > {_VAD_THRESH}
),
seg AS (
  SELECT media_id,
         CAST(min(frame_idx) AS INT) AS start_frame,
         CAST(max(frame_idx) AS INT) AS end_frame,
         CAST(count(*) AS INT) AS n_frames,
         CAST(sum(energy) AS BIGINT) AS energy
  FROM act GROUP BY media_id, grp
)
SELECT media_id,
       CAST(row_number() OVER (PARTITION BY media_id ORDER BY start_frame)
            AS INT) AS seg_id,
       start_frame, end_frame, n_frames, energy
FROM seg""",
)
def audio_vad(spark, sf):
    """Energy-threshold voice-activity segmentation — the speech-pipeline
    shaping step (cut silence, keep utterance spans) expressed as frame
    energies + gaps-and-islands.  Per 64-sample frame the energy is the
    EXACT integer sum of |int16| (no float RMS), a frame is active above
    the uniform-mean level, and consecutive active frames merge into
    segments via the frame_idx − row_number() island key.  The fake
    codec's samples are closed-form, so the DuckDB oracle recomputes
    every frame energy from scratch — a genuine cross-implementation
    witness for the whole chain (byte parse → framing → threshold →
    islands).

    Scale shape: frame energies are vectorized NumPy inside one
    mapInPandas pass over the payload column (reshape + abs + per-row
    sum — no per-sample Python); the islands window partitions by
    media_id, so the single exchange carries (media_id, frame, BIGINT)
    triples — frames-per-clip rows, never samples.  Real codec swap =
    ``decode_real`` only."""
    m = media_df(spark, sf)
    fw = _VAD_FRAME

    def energies(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids, fidx, en = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                if b[:4] != b"FAUD" or len(b) < 12:
                    continue
                rate, n = struct.unpack(">II", b[4:12])
                nfr = n // fw
                if nfr == 0 or len(b) < 12 + n * 2:
                    continue  # truncated/hostile body: skip, don't crash
                s = np.frombuffer(
                    b[12 : 12 + nfr * fw * 2], dtype=">i2"
                ).astype(np.int64)
                e = np.abs(s).reshape(nfr, fw).sum(axis=1)
                mids.append(np.full(nfr, int(mid), dtype=np.int64))
                fidx.append(np.arange(nfr, dtype=np.int64))
                en.append(e)
            if mids:
                yield pd.DataFrame(
                    {
                        "media_id": np.concatenate(mids),
                        "frame_idx": np.concatenate(fidx),
                        "energy": np.concatenate(en),
                    }
                )

    fr = m.mapInPandas(
        energies, "media_id bigint, frame_idx bigint, energy bigint"
    )
    wm = W.partitionBy("media_id").orderBy("frame_idx")
    act = fr.filter(F.col("energy") > _VAD_THRESH).withColumn(
        "grp", F.col("frame_idx") - F.row_number().over(wm)
    )
    seg = act.groupBy("media_id", "grp").agg(
        F.min("frame_idx").cast("int").alias("start_frame"),
        F.max("frame_idx").cast("int").alias("end_frame"),
        F.count(F.lit(1)).cast("int").alias("n_frames"),
        F.sum("energy").cast("bigint").alias("energy"),
    )
    ws = W.partitionBy("media_id").orderBy("start_frame")
    return seg.select(
        "media_id",
        F.row_number().over(ws).cast("int").alias("seg_id"),
        "start_frame",
        "end_frame",
        "n_frames",
        "energy",
    )


@_q(
    "video_shots",
    """WITH vid AS (
  SELECT vec_id AS media_id,
         CAST(16 + vec_id % 16 AS BIGINT) * CAST(8 + vec_id % 8 AS BIGINT)
             AS wh,
         CAST(4 + vec_id % 6 AS BIGINT) AS nf
  FROM embeddings WHERE vec_id % 3 = 2
),
pair AS (
  SELECT media_id, wh, f.t AS frame_idx,
         CAST(list_aggregate(list_transform(
             range(0, wh),
             p -> abs(((f.t * wh + p) * (media_id + 11)) % 256
                      - (((f.t - 1) * wh + p) * (media_id + 11)) % 256)),
           'sum') AS BIGINT) AS diff
  FROM vid, unnest(range(1, nf)) AS f(t)
)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx, diff,
       3 * diff > 256 * wh AS is_cut
FROM pair""",
)
def video_shots(spark, sf):
    """Shot-boundary detection — consecutive-frame absolute pixel
    difference, flagged as a cut where the EXACT integer sum exceeds
    the uniform-mean level (3·diff > 256·wh ⟺ diff > ~85.3·wh; the
    gate compares integers, no float ever branches).  The per-pair diff
    table is what a frame-sampling policy consumes: sample densely
    inside high-motion shots, sparsely in static ones.  Closed-form
    pixels give the DuckDB oracle a full from-scratch recomputation.

    Scale shape: one mapInPandas pass; per payload the (nf, w·h) frame
    matrix diffs via np.diff + abs + row-sum — vectorized across every
    pixel, Python only at clip granularity.  Output rows are
    pairs-per-clip; ZERO exchanges (no window needed — the flag is
    row-local).  Real codec swap = ``decode_real`` only."""
    m = media_df(spark, sf)
    return m.mapInPandas(
        shot_diff_batches,
        "media_id bigint, frame_idx int, diff bigint, is_cut boolean",
    ).select("media_id", "frame_idx", "diff", "is_cut")


_SHOT_DDL = "media_id bigint, frame_idx int, diff bigint, is_cut boolean"


def shot_diff_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(media_id, payload) batches → per-consecutive-frame diff rows —
    shared by the batch ``video_shots`` table and the streaming shot
    monitor."""
    for pdf in it:
        mids, fidx, dv, cut = [], [], [], []
        for mid, payload in zip(pdf["media_id"], pdf["payload"]):
            b = bytes(payload)
            if b[:4] != b"FVID" or len(b) < 10:
                continue
            w, h, nf = struct.unpack(">HHH", b[4:10])
            wh = w * h
            if wh == 0 or nf < 2 or len(b) < 10 + nf * wh:
                continue  # truncated/hostile body: skip, don't crash
            fm = (
                np.frombuffer(b[10 : 10 + nf * wh], dtype=np.uint8)
                .astype(np.int64)
                .reshape(nf, wh)
            )
            d = np.abs(np.diff(fm, axis=0)).sum(axis=1)
            mids.append(np.full(nf - 1, int(mid), dtype=np.int64))
            fidx.append(np.arange(1, nf, dtype=np.int64))
            dv.append(d)
            cut.append(3 * d > 256 * wh)
        if mids:
            yield pd.DataFrame(
                {
                    "media_id": np.concatenate(mids),
                    "frame_idx": np.concatenate(fidx),
                    "diff": np.concatenate(dv),
                    "is_cut": np.concatenate(cut),
                }
            )
