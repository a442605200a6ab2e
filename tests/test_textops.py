"""Unit tests for the text-analysis helpers (language ID determinism and
accuracy on crafted samples — the synthetic corpus has no real-language
signal, so accuracy is asserted here, not against the documents table)."""

from __future__ import annotations

from caraspark.langid import detect_lang

SAMPLES = {
    "en": "the quick brown fox jumps over the lazy dog and it is fine",
    "es": "el perro corre por la calle y los gatos se esconden en un rincón",
    "de": "der hund läuft durch die straße und das wetter ist nicht schön",
    "fr": "le chien court dans la rue et les chats se cachent pour dormir",
    "zh": "今天天气很好我们一起去公园散步吧",
}


def test_langid_accuracy():
    for lang, text in SAMPLES.items():
        assert detect_lang(text) == lang, f"{lang}: {detect_lang(text)}"


def test_langid_deterministic_und():
    assert detect_lang("") == "und"
    assert detect_lang("zzz qqq xxx") == "und"
    assert detect_lang("zzz qqq xxx") == detect_lang("zzz qqq xxx")


def test_langid_batch_matches_scalar_spec():
    """The vectorized production path must agree with the scalar spec on
    every sample, on edge cases (ties, odd whitespace, CJK threshold,
    NULLs), and on hypothesis-generated strings."""
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from caraspark.langid import detect_lang_batch

    edge = [
        "",
        "   ",
        "\t\nder le\r\n",          # de/fr tie → alphabetical 'de'
        "the el der le",            # 4-way tie → 'de'
        "the the the",
        "LE CHIEN EST LA",          # case folding
        "一two 一 three",           # CJK just under/over 5%
        "一一一 filler filler filler filler filler filler filler",
        "word the word",  # NBSP is unicode whitespace
        "x\x1cthe\x1cx",            # \x1c is str.split whitespace
        "(the) the, the.",          # punct-attached ≠ token match
        None,
    ]
    got = detect_lang_batch(pd.Series(edge, dtype=object))
    want = [detect_lang(t or "") for t in edge]
    assert list(got) == want

    words = list(SAMPLES.values()) + ["the", "der", "le", "el", "一", "x."]

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.one_of(
                st.sampled_from(words),
                st.text(alphabet=" \t\nabc一鿿的.,", max_size=20),
            ),
            max_size=8,
        )
    )
    def check(parts):
        t = " ".join(parts)
        assert detect_lang_batch(pd.Series([t]))[0] == detect_lang(t)

    check()


def test_ann_ivf_distribution_invariance(spark, sf_smoke):
    """Same top-k at 1 vs 16 input partitions: the struct-max assignment
    and rounded cosines leave no room for partitioning order to leak."""
    from caraspark.tables import load
    from caraspark.textops import ann_ivf

    base = [tuple(r) for r in ann_ivf(spark, sf_smoke).collect()]

    import caraspark.tables as T

    orig = T.load

    def load16(s, sf, name):
        return orig(s, sf, name).repartition(16)

    T.load = load16
    try:
        import caraspark.textops as X

        X.load = load16
        many = [tuple(r) for r in ann_ivf(spark, sf_smoke).collect()]
    finally:
        T.load = orig
        X.load = orig
    assert sorted(base) == sorted(many)


def test_connected_components_chain_and_islands(spark):
    """large-star/small-star: chains collapse to the component min, and a
    lone edge survives (regression: small-star without the self emission
    annihilated single-edge components)."""
    from caraspark.textops import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4, lone edge (10, 11), star 20-(21, 22)
        [(2, 1), (2, 3), (4, 3), (10, 11), (20, 21), (22, 20)],
        "id_a long, id_b long",
    )
    rows = {
        r["doc_id"]: r["comp"]
        for r in connected_components(pairs).collect()
    }
    assert rows == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_minhash_verified_jaccard_matches_python(spark, sf_smoke):
    """Exact Jaccard recomputed from raw text (third implementation)."""
    from caraspark.tables import load
    from caraspark.textops import _SHINGLE, dedup_minhash_verified

    rows = dedup_minhash_verified(spark, sf_smoke).collect()
    assert rows, "band collisions must survive verification"
    docs = {
        r.doc_id: r.text.lower()
        for r in load(spark, sf_smoke, "documents").select("doc_id", "text").collect()
    }

    def shset(t):
        return {t[i : i + _SHINGLE] for i in range(min(len(t) - _SHINGLE + 1, 4095))}

    for r in rows:
        a, b = shset(docs[r.id_a]), shset(docs[r.id_b])
        inter = len(a & b)
        assert r.n_inter == inter
        expect = inter / (len(a) + len(b) - inter)
        assert abs(r.jaccard - expect) < 1e-12
        assert r.is_dup == (r.jaccard >= 0.5)


def test_dedup_substring_matches_python(spark, sf_smoke):
    """Third implementation: recompute duplicated 8-token windows in plain
    Python over the same table and compare the full (doc, pos) marking."""
    import hashlib
    from collections import defaultdict

    from caraspark.textops import _SUB_K, dedup_substring
    from caraspark.tables import load

    docs = {
        r.doc_id: r.text
        for r in load(spark, sf_smoke, "documents").collect()
    }
    grams = defaultdict(set)  # md5 -> {doc_id}
    positions = []
    for did, text in docs.items():
        t = text.strip().split()
        for s in range(0, len(t) - _SUB_K + 1):
            g = " ".join(t[s : s + _SUB_K])
            h = hashlib.md5(g.encode()).hexdigest()
            grams[h].add(did)
            positions.append((did, s, h))
    want = sorted(
        (d, p, h, len(grams[h]))
        for d, p, h in positions
        if len(grams[h]) >= 2
    )
    got = sorted(
        (r.doc_id, r.pos, r.gram_md5, r.n_docs)
        for r in dedup_substring(spark, sf_smoke).collect()
    )
    assert got == want
    assert got, "smoke corpus should contain cross-doc duplicate windows"


def test_dedup_substring_shuffles_digests_only(spark, sf_smoke):
    """Plan pin: the window strings are hashed before the exchange — no
    Exchange input carries the token arrays or gram text."""
    from caraspark.textops import dedup_substring

    df = dedup_substring(spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in p, p
    for ln in p.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "gram_md5" in ln, ln


def test_dedup_cdc_matches_python(spark, sf_smoke):
    """Third implementation: recompute content-defined chunks in plain
    Python (cutpoint mask, bounds, per-chunk md5) and compare the full
    shared-chunk census."""
    import hashlib
    from collections import defaultdict

    from caraspark.tables import load
    from caraspark.textops import _CDC_NIBBLE, _CDC_W, dedup_cdc

    docs = {
        r.doc_id: r.text
        for r in load(spark, sf_smoke, "documents").collect()
    }
    occ = defaultdict(list)  # chunk_md5 -> [(doc_id, len)]
    for did, text in docs.items():
        n = len(text)
        cuts = [
            i
            for i in range(_CDC_W, n + 1)
            if hashlib.md5(text[i - _CDC_W : i].encode()).hexdigest()[-1]
            == _CDC_NIBBLE
        ]
        bounds = sorted(set(cuts) | {n})
        prev = 0
        for e in bounds:
            chunk = text[prev:e]
            occ[hashlib.md5(chunk.encode()).hexdigest()].append(
                (did, len(chunk))
            )
            prev = e
    want = sorted(
        (h, min(ln for _, ln in v), len({d for d, _ in v}), len(v))
        for h, v in occ.items()
        if len({d for d, _ in v}) > 1
    )
    got = sorted(
        (r.chunk_md5, r.chunk_len, r.n_docs, r.n_occ)
        for r in dedup_cdc(spark, sf_smoke).collect()
    )
    assert got == want
    assert got, "smoke corpus should share content-defined chunks"


def test_dedup_cdc_chunker_is_row_scoped(spark, sf_smoke):
    """Plan pin: chunking happens inside one Project row scope — no
    Window, no join, no Python; the only Exchange carries chunk digests."""
    from caraspark.textops import dedup_cdc

    df = dedup_cdc(spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in p, p
    assert "Window" not in p, p
    assert "Join" not in p, p
    exchanges = [
        ln for ln in p.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert exchanges, p
    for ln in exchanges:
        assert "chunk_md5" in ln, ln


def test_bpe_train_matches_python_trainer(spark, sf_smoke):
    """Third implementation: a plain-Python BPE trainer over the same
    word counts must produce the identical 8-round merge table."""
    import re
    from collections import Counter

    from caraspark.tables import load
    from caraspark.textops import _BPE_TRAIN_ROUNDS, bpe_train

    texts = [
        r.text for r in load(spark, sf_smoke, "documents").collect()
    ]
    words = Counter()
    for t in texts:
        words.update(re.findall(r"[a-z0-9]+", t.lower()))
    # counts of identical spaced forms accumulate, mirroring the
    # engines' row-wise replace over the distinct-word vocabulary
    vocab = Counter()
    for w, c in words.items():
        vocab["".join(f"~{ch}~" for ch in w)] += c
    want = []
    for rnd in range(1, _BPE_TRAIN_ROUNDS + 1):
        pairs = Counter()
        for s, c in vocab.items():
            syms = re.findall(r"~([^~]+)~", s)
            for j in range(len(syms) - 1):
                pairs[(syms[j], syms[j + 1])] += c
        (pa, pb), pc = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        want.append((rnd, pa, pb, pc))
        nxt = Counter()
        for s, c in vocab.items():
            nxt[s.replace(f"~{pa}~~{pb}~", f"~{pa}{pb}~")] += c
        vocab = nxt
    got = sorted(
        (r.round, r.pa, r.pb, r.pair_count)
        for r in bpe_train(spark, sf_smoke).collect()
    )
    assert got == want
    # merging the best pair can only shrink the achievable maximum:
    counts = [pc for _, _, _, pc in got]
    assert counts == sorted(counts, reverse=True)
    # merges must stack: some later round consumes an earlier round's
    # output symbol (a multi-char pa or pb)
    assert any(len(pa) > 1 or len(pb) > 1 for _, pa, pb, _ in got)


def test_dedup_substring_spans_merge_invariants(spark, sf_smoke):
    """Spans are maximal disjoint merges of the marked windows: every
    marked position falls in exactly one span, spans are ≥K tokens apart,
    and each span's window count matches its marked positions."""
    from caraspark.textops import (
        _SUB_K,
        dedup_substring,
        dedup_substring_spans,
    )

    marked: dict = {}
    for r in dedup_substring(spark, sf_smoke).collect():
        marked.setdefault(r.doc_id, set()).add(r.pos)
    spans: dict = {}
    for r in dedup_substring_spans(spark, sf_smoke).collect():
        spans.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_end, r.n_windows)
        )
    assert set(spans) == set(marked)
    for did, sp in spans.items():
        sp.sort()
        pos = sorted(marked[did])
        covered = set()
        for a, b, n in sp:
            inside = [p for p in pos if a <= p <= b - _SUB_K]
            assert len(inside) == n
            assert min(inside) == a and max(inside) == b - _SUB_K
            covered |= set(inside)
        assert covered == set(pos)
        # maximality: consecutive spans separated by more than K
        for (a1, b1, _), (a2, _, _) in zip(sp, sp[1:]):
            assert a2 - (b1 - _SUB_K) > _SUB_K


def test_ann_pq_codes_shape_and_recall(spark, sf_smoke):
    """PQ sanity: every vector encodes to M in-range codeword ids, and the
    ADC top-k overlaps the exact-L2 top-k well above chance on the fixed
    corpus (deterministic, so the bound is stable)."""
    import numpy as np

    from caraspark import textops as T
    from caraspark.tables import load

    from pyspark.sql import functions as F

    e = load(spark, sf_smoke, "embeddings")
    rows = {r.vec_id: np.asarray(r.embedding, float) for r in e.collect()}
    cb = [rows[i] for i in sorted(rows) if i % T._PQ_MOD == 0
          and i <= T._PQ_MAX_ID]
    assert len(cb) == T._PQ_K
    enc, _ = T.pq_udfs(spark, cb, [i for i in sorted(rows)
                                   if i % T._PQ_MOD == 0
                                   and i <= T._PQ_MAX_ID])
    codes = {r.n_id: r.c for r in e.select(
        F.col("vec_id").alias("n_id"), enc("embedding").alias("c")
    ).collect()}
    assert set(codes) == set(rows)
    for c in codes.values():
        assert len(c) == T._PQ_M
        assert all(0 <= j < T._PQ_K for j in c)

    got = {}
    for r in T.ann_pq(spark, sf_smoke).collect():
        got.setdefault(r.q_id, []).append(r.n_id)
    # the shortlist+re-rank output must recover most of the exact top-k
    hits = total = 0
    for q in got:
        qv = rows[q]
        exact = sorted(
            (float(((qv - v) ** 2).sum()), n)
            for n, v in rows.items() if n != q
        )[: T._TOPK]
        exact_ids = {n for _, n in exact}
        hits += len(set(got[q]) & exact_ids)
        total += T._TOPK
    assert total == len(got) * T._TOPK
    # chance overlap is TOPK/N ≈ 0.6%; the deterministic corpus gives the
    # two-stage pipeline a stable recall well above half
    assert hits / total >= 0.5, hits / total


def test_cluster_kmeans_matches_python_lloyd(spark, sf_smoke):
    """Independent pure-Python Lloyd's (same quantization, floored-mean
    update, ascending-id tie-break) must reproduce every assignment and
    distance bit-exactly."""
    import math

    from caraspark.tables import load
    from caraspark.textops import _KM_K, _KM_SCALE, cluster_kmeans

    vecs = {
        r.vec_id: [math.floor(float(x) * _KM_SCALE) for x in r.embedding]
        for r in load(spark, sf_smoke, "embeddings").collect()
    }

    def assign(cents):
        out = {}
        for vid, q in vecs.items():
            best = min(
                (sum((a - b) ** 2 for a, b in zip(q, c)), cid)
                for cid, c in cents.items()
            )
            out[vid] = (best[1], best[0])
        return out

    c0 = {vid: vecs[vid] for vid in sorted(vecs) if vid < _KM_K}
    a1 = assign(c0)
    members: dict[int, list[int]] = {}
    for vid, (cid, _) in a1.items():
        members.setdefault(cid, []).append(vid)
    c1 = {
        cid: [
            sum(vecs[v][d] for v in vs) // len(vs)
            for d in range(len(next(iter(vecs.values()))))
        ]
        for cid, vs in members.items()
    }
    want = assign(c1)

    rows = {r.vec_id: r for r in cluster_kmeans(spark, sf_smoke).collect()}
    assert set(rows) == set(vecs)
    for vid, (cid, d2) in want.items():
        assert rows[vid].cluster == cid, vid
        assert rows[vid].dist2 == d2, vid
    # the clustering must be non-trivial: >1 cluster survives the update
    assert len({r.cluster for r in rows.values()}) > 1


def test_dedup_semantic_partitions_corpus_with_one_keeper_per_cluster(
    spark, sf_smoke
):
    """keep=true exactly once per component, the keeper is the minimum
    member, components agree with a pure-Python union-find over the same
    edge list, and every vector gets a verdict."""
    from caraspark.tables import load
    from caraspark.textops import dedup_embed_lsh, dedup_semantic

    edges = [
        (r.id_a, r.id_b) for r in dedup_embed_lsh(spark, sf_smoke).collect()
    ]
    all_ids = {
        r.vec_id for r in load(spark, sf_smoke, "embeddings").collect()
    }
    parent = {v: v for v in all_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in all_ids}

    rows = {r.vec_id: r for r in dedup_semantic(spark, sf_smoke).collect()}
    assert set(rows) == all_ids
    for vid, comp in want.items():
        assert rows[vid].comp == comp, vid
        assert rows[vid].keep == (vid == comp), vid
    # non-degenerate on the synthetic corpus: some dups AND some keepers
    keeps = sum(1 for r in rows.values() if r.keep)
    assert 0 < keeps < len(rows)


def test_tokenize_bpe_matches_python(spark, sf_smoke):
    """Third implementation: classic iterative BPE merge application per
    rule over the char sequence must equal the replace-chain result."""
    import hashlib

    from caraspark import textops as T
    from caraspark.tables import load

    import re

    rows = {r.doc_id: r for r in T.tokenize_bpe(spark, sf_smoke).collect()}
    docs = {
        r.doc_id: r.text
        for r in load(spark, sf_smoke, "documents").select("doc_id", "text").collect()
        if re.findall(r"[a-z0-9]+", r.text.lower())
    }
    assert set(rows) == set(docs)
    n_toks = 0
    for did in list(docs)[:40]:
        ws = re.findall(r"[a-z0-9]+", docs[did].lower())[: T._BPE_W]
        merged = []
        for w in ws:
            toks = list(w)
            for a, b in T._BPE_MERGES:
                out, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                toks = out
            merged.append("~" + "~~".join(toks) + "~")
            n_toks += len(toks)
        r = rows[did]
        assert r.n_words == len(ws), did
        assert r.n_chars_tok == sum(len(w) for w in ws), did
        assert r.n_bpe == sum(m.count("~~") + 1 for m in merged), did
        assert r.toks_md5 == hashlib.md5("|".join(merged).encode()).hexdigest(), did
    assert n_toks > 0


def test_tokenize_bpe_rules_stack_and_token_boundaries(spark):
    """('as','h') must consume ('a','s')'s output — hash -> h|as|h ->
    h|ash (2) — and a rule must NOT match across a token boundary:
    lero -> l|er|o (3), where bare-space separation would wrongly find
    'r o' inside 'er o' and emit l|ero. batch -> bat|c|h (3)."""
    from caraspark import textops as T

    df = spark.createDataFrame([(1, "hash batch lero")], "doc_id long, text string")
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.selectExpr("doc_id", "text", "'en' lang", "'src0' source",
                      "length(text) n_chars").write.parquet(os.path.join(d, "documents.parquet"))
        out = {x.doc_id: x for x in T.tokenize_bpe(spark, d).collect()}
    assert out[1].n_bpe == 2 + 3 + 3, out[1]


def test_embed_quantize_matches_numpy(spark, sf_smoke):
    import math

    from caraspark import textops as TO
    from caraspark.tables import load as _load

    out = TO.embed_quantize(spark, sf_smoke).collect()
    embs = {
        r.vec_id: r.embedding
        for r in _load(spark, sf_smoke, "embeddings").collect()
    }
    by_vec = {}
    for r in out:
        by_vec.setdefault(r.vec_id, {})[r.pos] = r
    assert set(by_vec) == set(embs)
    for vid in list(embs)[:20]:
        v = embs[vid]
        scale = max(abs(float(x)) for x in v)
        got = by_vec[vid]
        assert len(got) == len(v)
        for pos, x in enumerate(v):
            exp = 0 if scale == 0 else math.floor(float(x) * 127.0 / scale + 0.5)
            assert got[pos].q == exp, (vid, pos)
            assert abs(got[pos].scale_r - round(scale, 6)) < 1e-9
            # int8 range by construction
            assert -127 <= got[pos].q <= 127


def test_ann_recall_bounds_and_ground_truth(spark, sf_smoke):
    from caraspark import textops as TO

    rows = {r.q_id: r for r in TO.ann_recall(spark, sf_smoke).collect()}
    brute = TO.ann_brute(spark, sf_smoke).collect()
    by_q = {}
    for r in brute:
        by_q.setdefault(r.q_id, set()).add(r.n_id)
    ivf = TO.ann_ivf(spark, sf_smoke).collect()
    ivf_q = {}
    for r in ivf:
        ivf_q.setdefault(r.q_id, set()).add(r.n_id)
    assert set(rows) == set(by_q)
    for q, truth in by_q.items():
        r = rows[q]
        hits = len(truth & ivf_q.get(q, set()))
        assert r.k == len(truth)
        assert r.n_hits == hits
        assert r.recall_permille == hits * 1000 // len(truth)
        assert 0 <= r.recall_permille <= 1000


def test_substring_marks_xxh_same_plan_no_md5(spark, sf_smoke):
    """Production-hash path: same single-groupBy + digest-join plan, but
    the exchanged key is an 8-byte xxhash64 BIGINT — no md5 anywhere."""
    from caraspark.tables import load
    from caraspark.textops import substring_marks

    docs = load(spark, sf_smoke, "documents")
    p = (
        substring_marks(docs, hash_fn="xxh")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "xxhash64" in p and "md5(" not in p, p  # alias gram_md5 remains
    assert "EvalPython" not in p


def test_substring_marks_xxh_finds_planted_duplicate(spark, sf_smoke):
    """Two docs sharing a verbatim 8-token run must mark the shared
    windows under the xxh path exactly as under md5."""
    from caraspark.textops import substring_marks

    shared = "w0 w1 w2 w3 w4 w5 w6 w7"
    df = spark.createDataFrame(
        [(1, f"a b c {shared}"), (2, f"{shared} x y z"), (3, "lone text only")],
        "doc_id long, text string",
    )
    for fn in ("md5", "xxh"):
        got = {
            (r.doc_id, r.pos)
            for r in substring_marks(df, hash_fn=fn).collect()
        }
        assert got == {(1, 3), (2, 0)}, (fn, got)


def test_ann_recall_pq_shape_and_bounds(spark, sf_smoke):
    """The composed-index recall harness: one row per query, k == TOPK,
    per-mille within [0, 1000], and the index finds SOMETHING (the
    composition isn't degenerate)."""
    from caraspark.textops import _NQ, _TOPK, ann_recall_pq

    rows = ann_recall_pq(spark, sf_smoke).collect()
    assert len(rows) == _NQ
    assert all(r.k == _TOPK for r in rows)
    assert all(0 <= r.recall_permille <= 1000 for r in rows)
    assert sum(r.n_hits for r in rows) > 0


def test_decontaminate_fuzzy_flags_near_copy(spark, sf_smoke):
    """The planted near-copy (doc 1's text + tail) must flag doc 1 in
    at least one LSH band (the tail MAY legitimately shift one band's
    minimum — that's the r=4 threshold working); no bench doc id may
    ever appear on the flagged side."""
    from caraspark.textops import REGISTRY

    rows = REGISTRY["decontaminate_fuzzy"].fn(spark, sf_smoke).collect()
    got = {r.doc_id: r.n_bands for r in rows}
    assert got.get(1, 0) >= 1, got
    assert all(k % 97 != 0 and k != -1 for k in got), got


def test_dedup_incremental_statuses(spark, sf_smoke):
    """Every injected duplicate lands in the right class, keepers stay
    'new', and all three classes are exercised."""
    import hashlib
    from collections import defaultdict

    from caraspark.tables import load
    from caraspark.textops import dedup_incremental

    docs = {
        r.doc_id: r.text
        for r in load(spark, sf_smoke, "documents").collect()
    }
    hist = {
        hashlib.md5(t.encode()).hexdigest()
        for i, t in docs.items()
        if i % 3 == 0
    }
    delta = {i: t for i, t in docs.items() if i % 3 != 0}
    delta.update(
        {i + 2000000: t for i, t in docs.items() if i % 3 == 0 and i % 5 == 0}
    )
    delta.update({i + 1000000: t for i, t in docs.items() if i % 3 != 0 and i % 4 == 0})
    first = {}
    for i in sorted(delta):
        h = hashlib.md5(delta[i].encode()).hexdigest()
        first.setdefault(h, i)
    want = {}
    for i, t in delta.items():
        h = hashlib.md5(t.encode()).hexdigest()
        if h in hist:
            want[i] = "dup_of_history"
        elif i > first[h]:
            want[i] = "dup_in_batch"
        else:
            want[i] = "new"
    got = {
        r.doc_id: r.status
        for r in dedup_incremental(spark, sf_smoke).collect()
    }
    assert got == want
    assert set(want.values()) == {"dup_of_history", "dup_in_batch", "new"}


def test_embed_outliers_matches_python(spark, sf_smoke):
    """Brute-force recompute: quantize, label centroids (floored mean),
    squared distances, 4x-mean outlier flag."""
    import math
    from collections import defaultdict

    from caraspark.tables import load
    from caraspark.textops import embed_outliers

    rows = load(spark, sf_smoke, "embeddings").collect()
    qv = {
        r.vec_id: [math.floor(float(x) * 1000.0 + 0.5) for x in r.embedding]
        for r in rows
    }
    labels = {r.vec_id: r.label for r in rows}
    by_label = defaultdict(list)
    for vid, lab in labels.items():
        by_label[lab].append(vid)
    expected = {}
    for lab, vids in by_label.items():
        dims = len(qv[vids[0]])
        cent = [
            math.floor(sum(qv[v][i] for v in vids) / len(vids))
            for i in range(dims)
        ]
        d2 = {
            v: sum((qv[v][i] - cent[i]) ** 2 for i in range(dims))
            for v in vids
        }
        avg = math.floor(sum(d2.values()) / len(vids))
        for v in vids:
            expected[v] = (lab, d2[v], avg, d2[v] > 4 * avg)
    got = {
        r.vec_id: (r.label, r.dist2, r.avg_d2, r.is_outlier)
        for r in embed_outliers(spark, sf_smoke).collect()
    }
    assert got == expected


def test_tokenizer_fertility_matches_docwise_rollup(spark, sf_smoke):
    """Roll up tokenize_bpe's per-doc counts by language in Python and
    compare every column, including both division results."""
    from collections import defaultdict

    from caraspark.tables import load
    from caraspark.textops import tokenize_bpe, tokenizer_fertility

    langs = {
        r.doc_id: r.lang
        for r in load(spark, sf_smoke, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    acc = defaultdict(lambda: [0, 0, 0, 0])  # docs, words, bpe, chars
    for r in tokenize_bpe(spark, sf_smoke).collect():
        a = acc[langs[r.doc_id]]
        a[0] += 1
        a[1] += r.n_words
        a[2] += r.n_bpe
        a[3] += r.n_chars_tok
    got = {r.lang: r for r in tokenizer_fertility(spark, sf_smoke).collect()}
    assert set(got) == set(acc)
    for lang, (nd, nw, nb, nc) in acc.items():
        g = got[lang]
        assert (g.n_docs, g.n_words, g.n_bpe) == (nd, nw, nb)
        assert abs(g.fertility - nb / nw) < 1e-12
        assert abs(g.chars_per_token - nc / nb) < 1e-12
        # merges only ever shrink the char-sequence: fertility stays
        # within (0, chars-per-word]
        assert 0 < g.fertility <= nc / nw


def test_dedup_minhash_recall_summary_is_consistent(spark, sf_smoke):
    """The evaluation row must be internally consistent (hits bounded by
    both sides, per-milles derived by integer DIV) and the recall must
    agree with an independent Python check of candidate coverage."""
    from caraspark.textops import dedup_minhash, dedup_minhash_recall

    r = dedup_minhash_recall(spark, sf_smoke).collect()
    assert len(r) == 1
    r = r[0]
    assert 0 <= r.n_hits <= min(r.n_truth, r.n_cand)
    assert r.recall_permille == r.n_hits * 1000 // max(r.n_truth, 1)
    assert r.precision_permille == r.n_hits * 1000 // max(r.n_cand, 1)
    # every candidate the panel restriction kept must be a real minhash
    # pair — n_cand can never exceed the full candidate list
    n_all = dedup_minhash(spark, sf_smoke).count()
    assert r.n_cand <= n_all


def test_simjoin_prefix_matches_bruteforce_python(spark, sf_smoke):
    """The prefix-filtered join must return EXACTLY the brute-force
    Jaccard>=1/2 pair set — zero false negatives is the whole point."""
    from caraspark.tables import load
    from caraspark.textops import simjoin_prefix

    rows = (
        load(spark, sf_smoke, "documents")
        .filter("length(text) > 0")
        .select("doc_id", "text")
        .collect()
    )
    shingles = {}
    for r in rows:
        t = r.text.strip().split()
        if len(t) >= 3:
            shingles[r.doc_id] = {
                " ".join(t[i : i + 3]) for i in range(len(t) - 2)
            }
    ids = sorted(shingles)
    exp = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(shingles[a] & shingles[b])
            if 3 * inter >= len(shingles[a]) + len(shingles[b]):
                exp.add((a, b, inter))
    got = {
        (r.id_a, r.id_b, r.n_inter)
        for r in simjoin_prefix(spark, sf_smoke).collect()
    }
    assert got == exp and exp  # non-vacuous


def test_quote_mining_edges_point_forward_and_match_python(spark, sf_smoke):
    from caraspark.tables import load
    from caraspark.textops import quote_mining

    rows = (
        load(spark, sf_smoke, "documents")
        .filter("length(text) > 0")
        .select("doc_id", "text")
        .collect()
    )
    grams = {}
    for r in rows:
        t = r.text.strip().split()
        if len(t) >= 5:
            grams[r.doc_id] = {
                " ".join(t[i : i + 5]) for i in range(len(t) - 4)
            }
    first = {}
    for d in sorted(grams):
        for g in grams[d]:
            first.setdefault(g, d)
    exp = {}
    for d, gs in grams.items():
        for g in gs:
            if first[g] < d:
                k = (first[g], d)
                exp[k] = exp.get(k, 0) + 1
    got = {
        (r.src_doc, r.dst_doc): r.n_shared
        for r in quote_mining(spark, sf_smoke).collect()
    }
    assert got == exp and exp
    assert all(s < d for s, d in got)


def test_substring_remove_matches_python_subtraction(spark, sf_smoke):
    """kept_md5 equals a Python re-derivation: tokens minus the merged
    duplicate spans, and removed counts are consistent with span
    lengths."""
    import hashlib

    from caraspark.tables import load
    from caraspark.textops import dedup_substring_spans, substring_remove

    texts = {
        r.doc_id: r.text.strip().split()
        for r in load(spark, sf_smoke, "documents")
        .filter("length(text) > 0")
        .select("doc_id", "text")
        .collect()
    }
    spans = {}
    for r in dedup_substring_spans(spark, sf_smoke).collect():
        spans.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    got = {r.doc_id: r for r in substring_remove(spark, sf_smoke).collect()}
    assert set(got) == set(texts)
    for doc_id, t in texts.items():
        covered = set()
        for s, e in spans.get(doc_id, []):
            covered.update(range(s, min(e, len(t))))
        kept = [w for i, w in enumerate(t) if i not in covered]
        r = got[doc_id]
        assert r.n_tokens == len(t)
        assert r.n_removed == len(t) - len(kept)
        assert r.kept_md5 == hashlib.md5(" ".join(kept).encode()).hexdigest()
    assert any(r.n_removed > 0 for r in got.values())  # non-vacuous


def test_embed_matryoshka_matches_numpy(spark, sf_smoke):
    """Quantization, pairing, and sign-agreement counts reproduce a
    NumPy re-derivation exactly (integer dots, no tolerance)."""
    import numpy as np

    from caraspark.tables import load
    from caraspark.textops import _MRL_DIMS, embed_matryoshka

    rows = (
        load(spark, sf_smoke, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    q = {}
    for r in rows:
        v = np.array(r.embedding, dtype=np.float64)
        s = np.abs(v).max()
        q[r.vec_id] = (
            np.zeros(len(v), dtype=np.int64)
            if s == 0
            else np.floor(v * 127.0 / s + 0.5).astype(np.int64)
        )
    n = len(q)
    exp = {}
    for k in _MRL_DIMS:
        agree = 0
        for ia, qa in q.items():
            qb = q[(ia * 7 + 13) % n]
            if (int(qa @ qb) >= 0) == (int(qa[:k] @ qb[:k]) >= 0):
                agree += 1
        exp[k] = (n, agree, agree * 1000 // n)
    got = {
        r.dims: (r.n_pairs, r.n_sign_agree, r.agree_permille)
        for r in embed_matryoshka(spark, sf_smoke).collect()
    }
    assert got == exp


def test_langid_mismatch_reconciles(spark, sf_smoke):
    """The census reconciles with text_langid row-by-row.  (On this
    corpus the declared lang is arbitrary metadata over an English-like
    shared vocabulary, so the OFF-diagonal mass is large — exactly the
    situation the mismatch table exists to expose.)"""
    from collections import Counter

    from caraspark.textops import langid_mismatch, text_langid

    exp = Counter(
        (r.lang, r.pred_lang) for r in text_langid(spark, sf_smoke).collect()
    )
    got = {}
    for r in langid_mismatch(spark, sf_smoke).collect():
        got[(r.declared, r.detected)] = r.n_docs
        assert r.agree == (r.declared == r.detected)
    assert got == dict(exp)
    assert any(a != b for (a, b) in got)  # the table is non-trivial


def test_dedup_best_rep_elects_highest_score(spark, sf_smoke):
    from caraspark.curation import quality_logit
    from caraspark.textops import dedup_best_rep, dedup_clusters

    score = {
        r.doc_id: r.score for r in quality_logit(spark, sf_smoke).collect()
    }
    comps = {}
    for r in dedup_clusters(spark, sf_smoke).collect():
        comps.setdefault(r.comp, []).append(r.doc_id)
    got = {r.comp: r for r in dedup_best_rep(spark, sf_smoke).collect()}
    assert set(got) == set(comps)
    for comp, members in comps.items():
        best = min(members, key=lambda d: (-score[d], d))
        r = got[comp]
        assert (r.rep_doc, r.best_score, r.n_members) == (
            best, score[best], len(members),
        )


def test_cc_cache_holds_at_most_eight(monkeypatch):
    """The cluster-table cache is bounded at 8 entries right after an
    insert, evicting the oldest. The clustering job is stubbed out: only
    the cache bookkeeping runs."""
    from types import SimpleNamespace

    from caraspark import textops

    class _Frame:
        def select(self, *cols):
            return self

        def localCheckpoint(self, eager=True):
            return self

    monkeypatch.setattr(textops, "_CC_CACHE", {})
    monkeypatch.setattr(textops, "_CC_COMPUTE_COUNT", 0)
    monkeypatch.setattr(textops, "_ngram_pairs", lambda *a: _Frame())
    monkeypatch.setattr(textops, "connected_components", lambda p: p)
    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    for i in range(10):
        textops._clusters_materialized(spark, f"/sf{i}")
        assert len(textops._CC_CACHE) == min(i + 1, 8)
    assert [k[1] for k in textops._CC_CACHE] == [f"/sf{i}" for i in range(2, 10)]
    assert textops._CC_COMPUTE_COUNT == 10

def test_cc_materialization_single_lineage(spark, sf_smoke):
    """Round-3 verdict item 2: the three CC consumers (dedup_clusters,
    dedup_best_rep, dedup_cluster_sizes) share ONE connected-components
    computation per (application, sf_dir). After the first consumer pays
    the star rounds, the others must scan the materialized cluster table
    — not re-run the iterative join tree — and results must be identical
    to a from-scratch computation."""
    from caraspark import textops

    textops._CC_CACHE.clear()
    base = textops._CC_COMPUTE_COUNT
    fresh = {
        (r.doc_id, r.comp)
        for r in textops.dedup_clusters(spark, sf_smoke).collect()
    }
    assert textops._CC_COMPUTE_COUNT == base + 1
    textops.dedup_best_rep(spark, sf_smoke).collect()
    textops.dedup_cluster_sizes(spark, sf_smoke).collect()
    assert textops._CC_COMPUTE_COUNT == base + 1  # no recompute
    # the memoized table is a lineage-truncated checkpoint scan: the
    # iterative large-star/small-star join tree must be gone from its plan
    plan = (
        textops._clusters_materialized(spark, sf_smoke)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Join" not in plan
    # a cold cache recomputes — and agrees bit-for-bit
    textops._CC_CACHE.clear()
    again = {
        (r.doc_id, r.comp)
        for r in textops.dedup_clusters(spark, sf_smoke).collect()
    }
    assert again == fresh
    textops._CC_CACHE.clear()
