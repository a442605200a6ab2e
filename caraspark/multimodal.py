"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata
(decode / feature-extract / resize / frame-sample as Arrow row maps).

The container has no real codec libraries (no PIL/ffmpeg), so media payloads
use a DETERMINISTIC FAKE container, stated once in ``_FORMATS``: per kind,
its magic, its big-endian header layout and fields, the header fields that
give the body's shape, and the body's sample type.

    image  b"FIMG" u16 width u16 height  | height x width u8 pixels
    audio  b"FAUD" u32 rate  u32 n       | n big-endian int16 samples
    video  b"FVID" u16 w u16 h u16 nfrm  | nfrm x h x w u8 pixels

``encode_media`` packs a payload from the table and ``decode_media``
unpacks one, totally: every stage reads its payloads through
``decode_media`` alone, so a production codec replaces exactly that one
function — ``decode_real`` is the clearly-marked NotImplementedError stub
it would call. Each stage is a module-level row function ``(media_id,
payload) → rows`` plus an Arrow schema, run by the shared row mapper
(``relational.map_rows``).

The media table derives deterministically from vec_id, so header metadata
has a CLOSED FORM the DuckDB oracle recomputes — the Spark side must parse
it back out of the binary column byte-exactly (media_meta is hash-verified).
"""

from __future__ import annotations

import math
import struct
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from caraspark.relational import (
    BIGINT,
    BOOLEAN,
    INT,
    STRING,
    Q,
    map_rows,
    registrar,
)
from caraspark.tables import load

REGISTRY: dict[str, Q] = {}
_q = registrar(REGISTRY)

def decode_real(kind: str, payload: bytes):
    """Production codec hook (PIL / soundfile / pyav), the one call a real
    ``decode_media`` would make. No such library is installed, so it
    raises and the fake container carries the pipeline."""
    raise NotImplementedError(
        "real media codecs are not installed in this environment; "
        "the deterministic fake codec (encode_media/decode_media) stands in"
    )


# --- deterministic fake codec ------------------------------------------------


class _Format(NamedTuple):
    magic: bytes
    layout: struct.Struct  # the header after the magic
    fields: tuple[str, ...]  # the header's values, in layout order
    shape: tuple[str, ...]  # the header fields that give the body's shape
    sample: np.dtype


_FORMATS = {
    "image": _Format(b"FIMG", struct.Struct(">HH"), ("width", "height"),
                     ("height", "width"), np.dtype(np.uint8)),
    "audio": _Format(b"FAUD", struct.Struct(">II"), ("rate", "n_samples"),
                     ("n_samples",), np.dtype(">i2")),
    "video": _Format(b"FVID", struct.Struct(">HHH"),
                     ("width", "height", "n_frames"),
                     ("n_frames", "height", "width"), np.dtype(np.uint8)),
}
# every kind's header fields, in first-seen order: media_meta's columns
_FIELDS = tuple(dict.fromkeys(f for t in _FORMATS.values() for f in t.fields))


def media_params(media_id: int) -> dict:
    """Closed-form per-id parameters (the oracle recomputes these in SQL).
    Sample ``k`` of the body is ``k * step`` wrapped into the sample
    type's range."""
    kind = ("image", "audio", "video")[media_id % 3]
    return {
        "kind": kind,
        "width": 16 + media_id % 16,
        "height": 8 + media_id % 8,
        "rate": 8000 + (media_id % 4) * 4000,
        "n_samples": 256 + (media_id % 32) * 16,
        "n_frames": 4 + media_id % 6,
        "step": (media_id + 7, (media_id + 3) * 257, media_id + 11)[
            media_id % 3
        ],
    }


def encode_media(media_id: int) -> bytes:
    p = media_params(media_id)
    f = _FORMATS[p["kind"]]
    lo, hi = np.iinfo(f.sample).min, np.iinfo(f.sample).max
    n = math.prod(p[d] for d in f.shape)
    body = (np.arange(n, dtype=np.int64) * p["step"]) % (hi - lo + 1) + lo
    return (
        f.magic
        + f.layout.pack(*(p[k] for k in f.fields))
        + body.astype(f.sample).tobytes()
    )


def decode_media(payload: bytes) -> tuple[str, dict, np.ndarray | None]:
    """``(kind, header, body)`` of a payload: the header's fields by name
    and the body's samples in its shape. Total on hostile bytes: a header
    cut short (or an unknown magic) gives ``("unknown", {}, None)``, and a
    body shorter than its header says gives ``body = None``; bytes past
    the body are ignored."""
    for kind, f in _FORMATS.items():
        m = len(f.magic)
        start = m + f.layout.size
        if payload[:m] == f.magic and len(payload) >= start:
            header = dict(zip(f.fields, f.layout.unpack_from(payload, m)))
            shape = [header[d] for d in f.shape]
            n = math.prod(shape)
            if len(payload) < start + n * f.sample.itemsize:
                return kind, header, None
            body = np.frombuffer(payload, f.sample, n, start)
            return kind, header, body.reshape(shape)
    return "unknown", {}, None


def parse_header(payload: bytes) -> dict:
    """``kind`` and every kind's header fields (None where the payload's
    kind has no such field) — ``decode_media`` without the body."""
    kind, header, _ = decode_media(payload)
    return {"kind": kind, **dict.fromkeys(_FIELDS), **header}


def _body(payload: bytes, kind: str) -> np.ndarray | None:
    """The body of a ``kind`` payload; None for another kind, a body cut
    short or an empty one."""
    k, _, body = decode_media(payload)
    return body if k == kind and body is not None and body.size else None


# --- the media table (distributed generation off embeddings ids) -------------

MEDIA = pa.schema([("media_id", BIGINT), ("payload", pa.binary())])


def media_rows(media_id: int):
    """The media row of an id — shared by the batch media table and the
    streaming replay."""
    return ({"media_id": media_id, "payload": encode_media(media_id)},)


def media_df(spark: SparkSession, sf: str) -> DataFrame:
    ids = load(spark, sf, "embeddings").select(
        F.col("vec_id").alias("media_id")
    )
    return map_rows(ids, media_rows, MEDIA)


# --- operators ---------------------------------------------------------------

_META = pa.schema(
    [("media_id", BIGINT), ("kind", STRING),
     *((f, INT) for f in _FIELDS), ("n_bytes", BIGINT)]
)


def meta_rows(media_id: int, payload: bytes):
    return ({**parse_header(payload), "media_id": media_id,
             "n_bytes": len(payload)},)


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
    return map_rows(media_df(spark, sf), meta_rows, _META)


_MF_BODY = """CASE e.vec_id % 3
        WHEN 0 THEN list_transform(
            range(0, (16 + e.vec_id % 16) * (8 + e.vec_id % 8)),
            i -> i * (e.vec_id + 7) % 256)
        WHEN 2 THEN list_transform(
            range(0, (4 + e.vec_id % 6) * (16 + e.vec_id % 16)
                     * (8 + e.vec_id % 8)),
            i -> i * (e.vec_id + 11) % 256)
        ELSE flatten(list_transform(
            range(0, 256 + (e.vec_id % 32) * 16),
            -- samples are (u - 32768) as big-endian int16; the stored
            -- two's-complement value is therefore (u + 32768) % 65536
            k -> [((k * (e.vec_id + 3) * 257 % 65536 + 32768) % 65536) // 256,
                  (k * (e.vec_id + 3) * 257 % 65536 + 32768) % 65536 % 256]))
    END"""

_FEATURES = pa.schema(
    [("media_id", BIGINT), ("sum_b", BIGINT), ("sumsq_b", BIGINT),
     ("n_b", INT), ("entropy_proxy", INT)]
)


def feature_rows(media_id: int, payload: bytes):
    _, _, body = decode_media(payload)
    if body is None:
        return ()
    b = body.reshape(-1).view(np.uint8)  # the body's bytes
    b64 = b.astype(np.int64)
    return ({"media_id": media_id, "sum_b": int(b64.sum()),
             "sumsq_b": int((b64 * b64).sum()), "n_b": len(b),
             "entropy_proxy": len(np.unique(b))},)


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
    """Feature extraction: byte-level moments of each payload's body (the
    stub for an embedding model — real batch shape, deterministic
    output). Moments are EXACT integer sums (mean/std are one division
    away, but float moments can't hash across engines); the oracle
    reconstructs each kind's body bytes arithmetically — audio int16
    samples become their big-endian byte pairs."""
    return map_rows(media_df(spark, sf), feature_rows, _FEATURES)


_RESIZE = pa.schema(
    [("media_id", BIGINT), ("out_w", INT), ("out_h", INT), ("k", INT),
     ("pixel", INT)]
)


def resize_rows(media_id: int, payload: bytes):
    px = _body(payload, "image")
    if px is None:
        return ()
    h, w = px.shape
    tw, th = 8, 4
    out = px[np.ix_(np.arange(th) * h // th, np.arange(tw) * w // tw)]
    return (
        {"media_id": media_id, "out_w": tw, "out_h": th, "k": k, "pixel": v}
        for k, v in enumerate(out.reshape(-1).tolist())
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
    return map_rows(media_df(spark, sf), resize_rows, _RESIZE)


_FRAMES = pa.schema(
    [("media_id", BIGINT), ("frame_idx", INT), ("checksum", BIGINT)]
)


def frame_rows(media_id: int, payload: bytes):
    frames = _body(payload, "video")
    if frames is None:
        return ()
    sums = frames.sum(axis=(1, 2), dtype=np.int64).tolist()
    return (
        {"media_id": media_id, "frame_idx": i, "checksum": sums[i]}
        for i in range(0, len(sums), 2)
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
    return map_rows(media_df(spark, sf), frame_rows, _FRAMES)


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


_AHASH = pa.schema([("media_id", BIGINT), ("ahash", BIGINT)])


def ahash_rows(media_id: int, payload: bytes):
    """The 32-bit average hash of an image (``dedup_phash`` stage 1)."""
    px = _body(payload, "image")
    if px is None:
        return ()
    h, w = px.shape
    flat = px.reshape(-1).astype(np.int64)
    bi = (np.arange(h, dtype=np.int64) * 4) // h
    bj = (np.arange(w, dtype=np.int64) * 8) // w
    idx = (bi[:, None] * 8 + bj[None, :]).ravel()
    s = np.bincount(idx, weights=flat, minlength=32).astype(np.int64)
    n = np.bincount(idx, minlength=32).astype(np.int64)
    bits = s * (w * h) > flat.sum() * n
    return ({"media_id": media_id,
             "ahash": int((bits.astype(np.int64) << np.arange(32)).sum())},)


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
    hdf = map_rows(media_df(spark, sf), ahash_rows, _AHASH)
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
_ENERGIES = pa.schema(
    [("media_id", BIGINT), ("frame_idx", BIGINT), ("energy", BIGINT)]
)


def energy_rows(media_id: int, payload: bytes):
    """The energy of each whole ``_VAD_FRAME``-sample frame of a clip."""
    s = _body(payload, "audio")
    if s is None:
        return ()
    nfr = len(s) // _VAD_FRAME
    e = np.abs(s[: nfr * _VAD_FRAME].astype(np.int64))
    return (
        {"media_id": media_id, "frame_idx": i, "energy": v}
        for i, v in enumerate(e.reshape(nfr, _VAD_FRAME).sum(axis=1).tolist())
    )


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

    Scale shape: frame energies are vectorized NumPy inside one Arrow
    row map over the payload column (reshape + abs + per-row sum — no
    per-sample Python); the islands window partitions by media_id, so the
    single exchange carries (media_id, frame, BIGINT) triples —
    frames-per-clip rows, never samples."""
    fr = map_rows(media_df(spark, sf), energy_rows, _ENERGIES)
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


SHOTS = pa.schema(
    [("media_id", BIGINT), ("frame_idx", INT), ("diff", BIGINT),
     ("is_cut", BOOLEAN)]
)


def shot_rows(media_id: int, payload: bytes):
    """The diff of each consecutive frame pair of a clip — shared by the
    batch ``video_shots`` table and the streaming shot monitor."""
    frames = _body(payload, "video")
    if frames is None:
        return ()
    fm = frames.reshape(len(frames), -1).astype(np.int64)
    wh = fm.shape[1]
    d = np.abs(np.diff(fm, axis=0)).sum(axis=1).tolist()
    return (
        {"media_id": media_id, "frame_idx": t, "diff": v,
         "is_cut": 3 * v > 256 * wh}
        for t, v in enumerate(d, 1)
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

    Scale shape: one Arrow row map; per payload the (nf, w·h) frame
    matrix diffs via np.diff + abs + row-sum — vectorized across every
    pixel, Python only at clip granularity.  Output rows are
    pairs-per-clip; ZERO exchanges (no window needed — the flag is
    row-local)."""
    return map_rows(media_df(spark, sf), shot_rows, SHOTS)
