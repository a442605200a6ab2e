

def test_media_parsers_total_on_truncated_payloads():
    """Hostile/truncated media bytes must classify unknown or be skipped,
    never raise out of the decode UDFs: every row function runs over the
    same cut and corrupted payloads, and one that reads a body gives rows
    only where ``decode_media`` gave a body."""
    import random

    from caraspark import multimodal as mm

    assert mm.parse_header(b"")["kind"] == "unknown"
    assert mm.parse_header(b"FIMG")["kind"] == "unknown"
    assert mm.parse_header(b"FAUD\x00\x01")["kind"] == "unknown"
    assert mm.parse_header(b"FVID\x00")["kind"] == "unknown"
    body_rows = (mm.feature_rows, mm.resize_rows, mm.frame_rows,
                 mm.ahash_rows, mm.energy_rows, mm.shot_rows)
    # encode → decode round trip, every kind
    for mid in range(6):
        p, full = mm.media_params(mid), mm.encode_media(mid)
        fmt = mm._FORMATS[p["kind"]]
        kind, header, body = mm.decode_media(full)
        assert (kind, header) == (p["kind"], {f: p[f] for f in fmt.fields})
        assert body.shape == tuple(p[d] for d in fmt.shape)
        assert fmt.magic + fmt.layout.pack(*header.values()) \
            + body.tobytes() == full
        assert mm.meta_rows(mid, full)[0]["kind"] == kind
        assert [f for f in body_rows if list(f(mid, full))]
    # cut and corrupted payloads, and headers with a zero dimension
    rng, payloads = random.Random(9), []
    for mid in range(12):
        full = mm.encode_media(mid)
        for _ in range(40):
            cut = rng.choice([len(full), rng.randrange(len(full) + 1)])
            b = bytearray(full[:cut])
            if b and rng.random() < 0.5:
                b[rng.randrange(len(b))] = rng.randrange(256)
            if rng.random() < 0.2:  # another kind's magic on this body
                b[:4] = rng.choice([f.magic for f in mm._FORMATS.values()])
            payloads.append((mid, bytes(b)))
    for f in mm._FORMATS.values():
        for j in range(len(f.fields)):
            dims = (0 if i == j else 3 for i in range(len(f.fields)))
            payloads.append((0, f.magic + f.layout.pack(*dims) + bytes(64)))
    n_bodies = 0
    for mid, b in payloads:
        r = mm.parse_header(b)
        assert r["kind"] in ("image", "audio", "video", "unknown")
        assert list(mm.meta_rows(mid, b))[0]["n_bytes"] == len(b)
        _, _, body = mm.decode_media(b)
        n_bodies += body is not None
        for f in body_rows:
            rows = list(f(mid, b))
            assert body is not None or not rows, f.__name__
    assert n_bodies > 40


def test_media_shard_layout_budget_and_contiguity(spark, sf_smoke):
    """Shards partition each kind's id range contiguously; every shard
    except possibly the last stays within budget + one item's overflow
    (the bins-by-prefix rule); totals reconcile with media_meta."""
    from caraspark.multimodal import _SHARD_BYTES, media_meta, media_shard_layout

    meta = {
        (r.kind, r.media_id): r.n_bytes
        for r in media_meta(spark, sf_smoke)
        .select("kind", "media_id", "n_bytes")
        .collect()
    }
    by_kind = {}
    for r in media_shard_layout(spark, sf_smoke).collect():
        by_kind.setdefault(r.kind, []).append(r)
    for kind, rows in by_kind.items():
        rows.sort(key=lambda r: r.shard)
        ids = sorted(m for k, m in meta if k == kind)
        assert sum(r.n_items for r in rows) == len(ids)
        assert sum(r.total_bytes for r in rows) == sum(
            meta[(kind, m)] for m in ids
        )
        for a, b in zip(rows, rows[1:]):
            assert a.last_id < b.first_id  # contiguous, ordered
        # prefix rule: a shard's bytes_before span is < _SHARD_BYTES, so
        # total_bytes < budget + max item size in the shard
        for r in rows:
            max_item = max(
                meta[(kind, m)]
                for m in ids
                if r.first_id <= m <= r.last_id and (kind, m) in meta
            )
            assert r.total_bytes < _SHARD_BYTES + max_item


def test_audio_vad_islands_maximal_and_exact(spark, sf_smoke):
    """Segments are maximal runs of active frames: successive segments
    leave >= 1 inactive frame between them, and one clip's segments
    reproduce a from-scratch NumPy recomputation of the same spec."""
    import numpy as np

    from caraspark.multimodal import _VAD_FRAME, _VAD_THRESH, audio_vad

    rows = audio_vad(spark, sf_smoke).collect()
    assert rows
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    for mid, segs in by_media.items():
        segs.sort(key=lambda r: r.seg_id)
        for a, b in zip(segs, segs[1:]):
            assert b.start_frame > a.end_frame + 1, (mid, a, b)
        for s in segs:
            assert s.n_frames == s.end_frame - s.start_frame + 1

    mid = min(by_media)
    n = 256 + (mid % 32) * 16
    i = np.arange((n // _VAD_FRAME) * _VAD_FRAME, dtype=np.int64)
    s = ((i * (mid + 3) * 257) % 65536) - 32768
    e = np.abs(s).reshape(-1, _VAD_FRAME).sum(axis=1)
    active = np.flatnonzero(e > _VAD_THRESH)
    got = sorted(
        (r.start_frame, r.end_frame, r.energy) for r in by_media[mid]
    )
    exp = []
    for f in active:
        if exp and f == exp[-1][1] + 1:
            exp[-1][1] = int(f)
            exp[-1][2] += int(e[f])
        else:
            exp.append([int(f), int(f), int(e[f])])
    assert got == [tuple(x) for x in exp]


def test_video_shots_diff_matches_numpy(spark, sf_smoke):
    """One clip's per-pair diffs and cut flags reproduce a from-scratch
    NumPy recomputation; every clip yields nf-1 pairs."""
    import numpy as np

    from caraspark.multimodal import media_params, video_shots

    rows = video_shots(spark, sf_smoke).collect()
    assert rows
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    for mid, prs in by_media.items():
        p = media_params(int(mid))
        assert len(prs) == p["n_frames"] - 1

    mid = min(by_media)
    p = media_params(int(mid))
    wh, nf = p["width"] * p["height"], p["n_frames"]
    fm = ((np.arange(nf * wh, dtype=np.int64) * (mid + 11)) % 256).reshape(
        nf, wh
    )
    d = np.abs(np.diff(fm, axis=0)).sum(axis=1)
    got = {r.frame_idx: (r.diff, r.is_cut) for r in by_media[mid]}
    for t in range(1, nf):
        assert got[t] == (int(d[t - 1]), bool(3 * d[t - 1] > 256 * wh))
