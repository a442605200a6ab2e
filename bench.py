"""Benchmark harness — prints ONE JSON line the driver records as BENCH_r{N}.json.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS]. Each query is executed with a `noop` write so the
full plan runs distributed without collecting results to the driver.

Measurement discipline (round-2 postmortem: the driver's recorded pack was a
uniform ~2.1x slower than the same-session local run with zero plan changes —
single-shot timings on a shared VM measure co-tenant CPU steal, not code):

* every headline query is BEST-OF-3 after one untimed warmup of the pack's
  first query (JVM + parquet footers);
* extraction throughput is measured FIRST, before the heavy extras pack, so
  its number never rides on a JVM that just chewed through minhash/LSH;
* the 4,096-doc extraction corpus is content-hashed and compared against the
  committed BENCH/corpus_manifest.json — `extract_corpus_pinned` in the
  output says whether this round's docs/s is byte-comparable to last
  round's (r1→r2 silently regenerated the corpus with 41→57 recipes, which
  confounded the throughput delta).

The 8-vs-32-core scaling efficiency lives in tools/bench_scaling.py →
BENCH/BASELINE.md (BASELINE.md protocol).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from caraspark import textops  # noqa: E402
from caraspark.curation import (  # noqa: E402
    content_drift_prefiltered,
    winnow_fingerprints,
)
from caraspark.tables import load  # noqa: E402

HEADLINE = [
    "agg_q1",
    "join_sortmerge",
    "join_broadcast",
    "join_asof",
    "win_topk",
    "win_running",
    "agg_collect",
    "agg_rollup",
    "fn_dot",
    "agg_udaf",
    "filter_pred",
    "fn_json",
]

EXTRAS = [
    "dedup_minhash",
    "dedup_simhash",
    "ann_ivf",
    "ann_lsh",
    "ann_pq",
    "doc_chunks",
    "pack_sequences",
    "warc_roundtrip",
    "crawl_robots",
    "text_rarity",
    "dedup_paragraph",
    "sample_per_host",
    "search_bm25",
    "tokenize_bpe",
    "text_script",
    "anchor_text_agg",
    "fingerprint_winnow",
    "text_surprisal",
    "table_shape",
    "warc_cdx",
    "quality_logit",
    "sample_dsir",
    "lm_bigram",
    "search_postings",
    "graph_hostgraph",
    "list_stats",
    "img_stats",
    "imgtext_pairs",
    "ppl_buckets",
    "dedup_phash",
    "text_readability",
    "text_normalize",
    "embed_quantize",
    "pdf_javascript",
    "hreflang_census",
    "url_resolve",
    "frontier_feed",
    "ann_ivfpq",
    "pdf_actions",
    "doc_series",
    "series_concat",
    "sitemap_entries",
    "robots_sitemaps",
    "feed_entries",
    "warc_revisit",
    "crawl_changerate",
    "text_sentences",
    "text_badwords",
    "doc_microdata",
    "doc_rdfa",
    "text_langseg",
    "search_phrase",
    "filter_ensemble",
    "charset_census",
    "markup_density",
    "graph_hits",
    "graph_triangles",
    "dedup_cdc",
    "dedup_incremental",
    "bpe_train",
    "content_drift",
    "lm_kneser_ney",
    "win_sessionize",
    "events_funnel",
    "retention_cohorts",
    "events_transitions",
    "ts_downsample",
    "pdf_scavenge",
    "split_by_host",
    "bitext_mine",
    "vocab_growth",
    "span_merge",
    "graph_communities",
    "simjoin_prefix",
    "quote_mining",
    "pii_gazetteer",
    "substring_remove",
    "lm_kn_score",
    "cluster_zorder",
    "events_attribution",
    "tpch_q3",
    "tpch_q5",
    "tpch_q8",
    "pdf_annots",
    "scd2_intervals",
    "stream_annots",
    "mirror_detect",
    "corpus_datacard",
    "ts_gapfill",
    "tpch_q17",
    "fn_null",
    "split_leakage_audit",
    "budget_apportion",
    "media_shard_layout",
    "sample_pps",
    "events_streaks",
    "tpch_q10",
    "link_predict",
    "events_gap_hist",
    "pdf_content_ops",
    "stream_content_ops",
    "embed_matryoshka",
    "host_ppl",
    "dedup_best_rep",
    "win_sliding_median",
    "postings_gapbits",
    "join_nullsafe",
    "scan_mergeschema",
    "langid_mismatch",
    "stream_datacard",
    "pdf_stream_stats",
    "pack_efficiency",
    "events_iqr_outliers",
    "curation_funnel",
    "host_gini",
    "tpch_q6",
    "tpch_q14",
    "tpch_q19",
    "tpch_q4",
    "tpch_q22",
    "dedup_edit_verify",
    "events_wau",
    "dedup_cluster_sizes",
    "tpch_q7",
    "tpch_q13",
    "tpch_q15",
    "tpch_q16",
    "tpch_q18",
    "tpch_q20",
    "audio_vad",
    "video_shots",
    "stream_shots",
    "events_cep",
    "agg_online",
    "stream_mutual_links",
    "tpch_q9",
    "tpch_q11",
    "fn_try",
    "events_rfm",
    "basket_pairs",
    "events_abtest",
    "sales_ols",
    "quality_auc",
    "audit_benford",
    "stream_abtest",
    "agg_winsorized",
    "join_range_bucketed",
    "agg_bitmap",
    "stream_benford",
    "url_surt",
    "quality_calibration",
    "warc_revisit_plan",
    "stream_revisit_plan",
    "decontaminate_remove",
    "quality_threshold_sweep",
]

# the shared-cluster-table trio, timed together once after the extras
CC_TRIO = ("dedup_clusters", "dedup_best_rep", "dedup_cluster_sizes")


def _xxh(build):
    """A production-hash lane: ``build`` over the documents table with
    xxhash64 in place of the qkey's md5/sha2 digests, same plan shape."""
    return lambda spark, sf: build(load(spark, sf, "documents"), hash_fn="xxh")


# Production-variant lanes, each timed once after the extras pack.
# content_drift_prefiltered is the digest-prefiltered Jaccard off the
# changerate lag window (shingles only for changed pairs). It is NOT
# comparable to the content_drift qkey's wall: it walks 6 crawls per url
# (~1.8 changed pairs/url on this corpus, plus the window exchange) where
# the qkey shingles exactly 1 simulated pair/url.
VARIANTS = {
    "content_drift_prefiltered": content_drift_prefiltered,
    "dedup_minhash_xxh": _xxh(textops.minhash_candidates),
    "dedup_simhash_xxh": _xxh(textops.simhash_signatures),
    "dedup_substring_xxh": _xxh(textops.substring_marks),
    "fingerprint_winnow_xxh": _xxh(winnow_fingerprints),
}

REPEATS = 3


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cc_cache_reset(textops) -> None:
    """Drop the shared cluster-table cache so the next consumer recomputes
    it (a cold repeat).  The dropped frames' localCheckpoint blocks are
    freed later, once GC collects them and ContextCleaner runs."""
    textops._CC_CACHE.clear()


def best_of(fn, repeats: int = REPEATS) -> float:
    best = float("inf")
    for _ in range(repeats):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def corpus_fingerprint(spark, path: str) -> str:
    """Deterministic content hash of the bench corpus: md5 over the
    url-sorted per-doc (url, md5(html)) stream. Small (4,096 rows) by
    construction — the collect is the fingerprint, not the benchmark."""
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(path)
        .select("url", F.md5(F.col("html").cast("binary")).alias("h"))
        .orderBy("url")
        .collect()
    )
    acc = hashlib.md5()
    for r in rows:
        acc.update(r["url"].encode())
        acc.update((r["h"] or "").encode())
    return acc.hexdigest()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    here = os.path.dirname(os.path.abspath(__file__))
    import __spark_entry__ as ent
    from caraspark.session import get_spark

    spark = get_spark("caraspark-bench")
    qs = ent.queries()

    timings: dict[str, float] = {}
    extra: dict[str, object] = {}

    # ---- extraction throughput FIRST (fresh JVM, nothing heavy ran yet);
    # bench_extract does its own warmup pass + best-of-3 ----
    from caraspark.bench_extract import (
        corpus_path,
        ensure_corpus,
        extraction_docs_per_sec,
    )

    n_docs = 4096
    ensure_corpus(spark, n_docs)
    sha = corpus_fingerprint(spark, corpus_path(n_docs))
    pinned = None
    manifest = os.path.join(here, "BENCH", "corpus_manifest.json")
    if os.path.exists(manifest):
        with open(manifest, encoding="utf-8") as f:
            pinned = json.load(f).get("corpus_md5") == sha
    docs_s, docs, secs = extraction_docs_per_sec(spark, n_docs)
    extra.update(
        {
            "extract_docs_per_sec": round(docs_s, 1),
            "extract_docs": docs,
            "extract_sec": round(secs, 3),
            "extract_corpus_md5": sha,
            "extract_corpus_pinned": pinned,
        }
    )
    timings["doc_extract"] = round(secs, 3)

    # Sustained throughput on a 64k-doc corpus: the 4,096-doc wall
    # (~0.7 s) is dominated by fixed per-job overhead (task dispatch,
    # Python-worker batching — measured ~1.2 s constant by regressing
    # wall on corpus size), so its docs/s swings with the
    # host, not the pipeline: 5.9k docs/s at 4,096 docs vs ~24k
    # sustained on the 200k scaling corpus, same code, same idle VM.
    # 16× the docs cuts the constant's share to ~30%; the 200k-corpus
    # scaling runs (BENCH/scaling_*) remain the asymptotic record.
    n_sustained = 65536
    ensure_corpus(spark, n_sustained)
    sus_s, sus_docs, sus_secs = extraction_docs_per_sec(
        spark, n_sustained
    )
    extra.update(
        {
            "extract_docs_per_sec_sustained": round(sus_s, 1),
            "extract_sustained_docs": sus_docs,
            "extract_sustained_sec": round(sus_secs, 3),
        }
    )

    # ---- headline pack: one untimed warmup, then best-of-3 per query ----
    run_noop(qs["scan_parquet"](spark, sf_dir))
    for name in HEADLINE:
        timings[name] = best_of(lambda: run_noop(qs[name](spark, sf_dir)))

    # ---- LLM-pipeline ops, timed (single-shot: each is many seconds, and
    # they are excluded from the headline total) ----
    # the historically slowest extras get best-of-3 (single-shot numbers
    # were noise-dominated round-over-round — r3 verdict item 6); the CC
    # consumers additionally clear the shared cluster-table cache before
    # every repeat so their number stays COLD-comparable with r3 (the
    # shared-cache composition is timed separately below)
    SLOW_EXTRAS = {
        "dedup_best_rep", "dedup_cluster_sizes", "embed_matryoshka",
        "host_ppl", "stream_annots", "stream_content_ops",
    }
    CC_CONSUMERS = {"dedup_best_rep", "dedup_cluster_sizes"}

    def _run_extra(name: str) -> None:
        if name in CC_CONSUMERS:
            cc_cache_reset(textops)
        run_noop(qs[name](spark, sf_dir))

    extra_pack: dict[str, float] = {}
    for name in EXTRAS:
        if name in SLOW_EXTRAS:
            extra_pack[name] = best_of(lambda n=name: _run_extra(n))
        else:
            t0 = time.time()
            run_noop(qs[name](spark, sf_dir))
            extra_pack[name] = round(time.time() - t0, 3)

    # shared-CC composition: the three cluster-table consumers over ONE
    # materialized connected-components pass (the production shape; the
    # per-qkey colds above each pay the star rounds from scratch)
    cc_cache_reset(textops)
    t0 = time.time()
    for name in CC_TRIO:
        run_noop(qs[name](spark, sf_dir))
    extra["cc_trio_shared_sec"] = round(time.time() - t0, 3)
    cc_cache_reset(textops)

    for name, lane in VARIANTS.items():
        t0 = time.time()
        run_noop(lane(spark, sf_dir))
        extra_pack[name] = round(time.time() - t0, 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_pack_total",
        "value": total,
        "unit": "sec",
        "repeats": REPEATS,
        "queries": timings,
        "queries_extra": extra_pack,
        "sf": sf_dir,
        **extra,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
