"""Physical-plan shape regression tests (SURVEY.md §4).

Correctness tests prove the answers; these prove the PLANS — the
properties that decide whether the same code survives a 100x scale-up:
filters reach the parquet scan, projections prune the blob column, small
dims broadcast, aggregation is partial+final, the extract path is
shuffle-free, and the hot relational path never drops into a Python UDF.
A refactor that silently regresses one of these still passes every
value-equality test; this file is the guard.
"""

from __future__ import annotations

import contextlib
import io

import pytest

import __spark_entry__ as ent
from caraspark.corpus import synth_df
from caraspark.extract import extract


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def qs():
    return ent.queries()


# --- pushdown & pruning ----------------------------------------------------


def test_filter_predicates_reach_parquet_scan(spark, sf_smoke, qs):
    p = plan_of(qs["filter_pred"](spark, sf_smoke))
    assert "PushedFilters: [" in p
    # at least one real pushed predicate, not an empty list
    seg = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert seg.strip(), p


def test_projection_prunes_scan_columns(spark, sf_smoke, qs):
    p = plan_of(qs["proj_basic"](spark, sf_smoke))
    seg = p.split("ReadSchema:", 1)[1].splitlines()[0]
    # lineitem has 16 columns; the query needs only a handful
    assert seg.count(",") < 8, seg


def test_extract_scan_never_reads_text_or_lang(spark):
    df = synth_df(spark, 64)
    # write/read through parquet so there is a real scan to prune
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/c")
        p = plan_of(extract(spark.read.parquet(d + "/c")))
        seg = p.split("ReadSchema:", 1)[1].splitlines()[0]
        assert "html" in seg and "url" in seg
        assert "text" not in seg and "lang" not in seg, seg


# --- join strategy ---------------------------------------------------------


def test_dim_joins_broadcast_not_shuffle(spark, sf_smoke, qs):
    p = plan_of(qs["join_broadcast"](spark, sf_smoke))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_anti_and_semi_joins_are_hash_strategies(spark, sf_smoke, qs):
    for q in ("join_anti", "join_semi"):
        p = plan_of(qs[q](spark, sf_smoke))
        assert "Join" in p
        assert "CartesianProduct" not in p, q


def test_range_join_broadcasts_the_tiny_bands_side(spark, sf_smoke, qs):
    p = plan_of(qs["join_range"](spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in p  # 4-row build side, by design
    assert "CartesianProduct" not in p


# --- aggregation shape -----------------------------------------------------


def test_agg_is_partial_then_final(spark, sf_smoke, qs):
    p = plan_of(qs["agg_q1"](spark, sf_smoke), "simple")
    # map-side combine: partial aggregate below the exchange, final above
    assert "partial_sum" in p, p
    assert "Exchange hashpartitioning" in p


def test_asof_join_is_single_shuffle_no_join_node(spark, sf_smoke, qs):
    # the merge-form as-of: union + one window, no join, one exchange
    p = plan_of(qs["join_asof"](spark, sf_smoke), "simple")
    assert "Join" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


# --- extract path: narrow by default, one exchange for the giants ---------


def test_extract_narrow_plan_has_no_shuffle(spark):
    p = plan_of(extract(synth_df(spark, 64)))
    assert "Exchange" not in p, p


def test_extract_giants_plan_shuffles_only_the_giant_branch(spark):
    # selective salting: one union of two branches — the small-doc branch
    # is narrow (no exchange above its scan), the giant branch carries the
    # single exchange. The giant exchange is ROUND-ROBIN, not a hash key:
    # giants are few and individually expensive, so hash-collision bins
    # of 3–4 giants set the task tail; round-robin deals them out ≤1-ish
    # per slice (extract.GIANT_FANOUT).
    p = plan_of(
        extract(synth_df(spark, 64), salt="giants", giant_threshold=1024),
        "simple",
    )
    assert p.count("Exchange RoundRobinPartitioning") == 1, p
    assert p.count("Exchange hashpartitioning") == 0, p
    assert "Union" in p, p
    assert "salt" in p  # provenance column still rides to the UDF


# --- stay JVM-side: no Python UDF in the hot relational path ---------------

JVM_ONLY_QKEYS = [
    "agg_q1",
    "join_sortmerge",
    "join_broadcast",
    "join_asof",
    "join_anti",
    "join_semi",
    "join_range",
    "win_topk",
    "win_running",
    "win_rank",
    "agg_collect",
    "agg_rollup",
    "agg_pivot",
    "fn_dot",
    "fn_array",
    "fn_json",
    "fn_string",
    "filter_pred",
    "sort_topk",
    "dedup_exact",
]


@pytest.mark.parametrize("qkey", JVM_ONLY_QKEYS)
def test_relational_pack_has_no_python_eval(spark, sf_smoke, qs, qkey):
    p = plan_of(qs[qkey](spark, sf_smoke))
    assert "EvalPython" not in p, f"{qkey} dropped into a Python UDF:\n{p}"


# --- whole-stage codegen spans the hot aggregation -------------------------


def test_q1_runs_inside_wholestage_codegen(spark, sf_smoke, qs):
    # AQE finalizes the physical plan only on execution — run it, then
    # read back the executed plan and check the codegen spans are there
    df = qs["agg_q1"](spark, sf_smoke)
    df.collect()
    p = plan_of(df)
    # '*' prefixes mark WholeStageCodegen stages in the final AQE plan;
    # scan → filter → project → partial agg must all sit inside one span
    final = p.split("== Initial Plan ==")[0]
    for node in ("* HashAggregate", "* Filter", "* Project"):
        assert node in final, p


# --- session-level scale configs -------------------------------------------


def test_aqe_and_skew_handling_enabled(spark):
    # §4.3: AQE coalesce + skew-join split back up the explicit salting
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        == "true"
    )


def test_variant_objects_plan_stays_jvm_side_after_parse(spark, qs):
    # parse_json runs in the JVM; variant_get drilling must not add any
    # Python eval beyond the single mapInArrow that parses the PDFs
    p = plan_of(qs["pdf_objects_variant"](spark, "/root/testdata/sf0.001"))
    assert p.count("EvalPython") <= 1, p
    assert "variant_get" in p


def test_bucketed_join_needs_no_exchange(spark, sf_smoke):
    # §4.2 bucketing: co-located joins. Two tables bucketed+sorted on the
    # join key must sort-merge-join with ZERO exchanges — at cluster scale
    # this is the difference between a full shuffle of the fact table and
    # none at all. Broadcast is disabled so the bucket path is what's
    # being planned.
    import shutil

    from caraspark.tables import load

    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    # a prior session may have left managed-table files without catalog
    # entries (in-memory catalog, on-disk warehouse) — clear them
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("orders_b", "lineitem_b"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    load(spark, sf_smoke, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).mode("overwrite").saveAsTable("orders_b")
    load(spark, sf_smoke, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).mode("overwrite").saveAsTable("lineitem_b")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o, li = spark.table("orders_b"), spark.table("lineitem_b")
        p = plan_of(
            o.join(li, o.o_orderkey == li.l_orderkey), "simple"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in p, p
    assert "Exchange" not in p, p


def test_agg_salted_distinct_two_phase(spark, sf_smoke, qs):
    # Skew-spread distinct: phase 1 keys the exchange on (event_type, salt)
    # so no single task owns a hot key; phase 2 reduces 16 rows per key.
    p = plan_of(qs["agg_salted_distinct"](spark, sf_smoke), "formatted")
    # the salt column survives as Catalyst's _groupingexpression; countDistinct
    # expands to a dedup stage, so three exchanges: (key,salt,user), (key,salt),
    # then key-only — the last carries only <=16 pre-combined rows per key
    assert "_groupingexpression" in p, p
    assert p.count("- Exchange") == 3, p
    assert "partial_count(distinct user_id" in p, p
    import re

    keys = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert len(keys) == 3, keys
    # every exchange that can see raw-row cardinality is salted
    assert "user_id" in keys[0] and "_groupingexpression" in keys[0], keys
    assert "_groupingexpression" in keys[1], keys
    assert "user_id" not in keys[2] and "_groupingexpression" not in keys[2], keys
    # map-side combine before the unsalted final exchange
    assert "partial_sum(nd" in p, p


def test_join_bucketed_qkey_zero_exchange_bucket_scans(spark, sf_smoke, qs):
    # The registered join_bucketed query: staged bucketed tables on both
    # sides, merge hint pinning the big×big strategy → SMJ whose scans are
    # bucketed (8/8 selected) with no Exchange anywhere in the plan.
    p = plan_of(qs["join_bucketed"](spark, sf_smoke), "simple")
    assert "SortMergeJoin" in p, p
    assert "Exchange" not in p, p
    assert p.count("Bucketed: true") == 2, p


def test_global_topk_uses_take_ordered(spark, sf_smoke, qs):
    # O2: orderBy().limit(k) must plan as TakeOrderedAndProject — a
    # per-partition heap + single k-row merge, never a global sort
    p = plan_of(qs["sort_topk"](spark, sf_smoke), "simple")
    assert "TakeOrderedAndProject" in p, p
    assert "Sort " not in p, p


# --- newest queries: IVF ANN and grouping sets -----------------------------


def test_ann_ivf_plan_is_narrow_plus_one_topk_exchange(spark, sf_smoke):
    """List assignment is a vectorized pandas UDF fed by a broadcast
    quantizer: NO aggregate, sort-merge join, or window over the corpus.
    The single exchange is the final top-k keyed on the tiny query set."""
    qs = ent.queries()
    p = plan_of(qs["ann_ivf"](spark, sf_smoke), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "SortAggregate" not in p and "HashAggregate" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_ann_ivf_plan_size_independent_of_k(spark, sf_smoke):
    """The quantizer ships as a broadcast variable, never as literal
    expressions: the physical plan must not grow with K (the old design
    embedded K*dim float literals per row, lethal at production K)."""
    import numpy as np
    from pyspark.sql import functions as F

    from caraspark.tables import load
    from caraspark.textops import ivf_quantizer_udfs

    e = load(spark, sf_smoke, "embeddings")
    dim = len(e.select("embedding").first()[0])
    rng = np.random.default_rng(7)

    def plan_for(k):
        C = rng.standard_normal((k, dim))
        assign, probe = ivf_quantizer_udfs(spark, list(C), list(range(k)))
        df = e.select(
            F.col("vec_id"),
            assign(F.col("embedding")).alias("c_id"),
            probe(F.col("embedding")).alias("probes"),
        )
        return plan_of(df, "simple")

    p8, p256 = plan_for(8), plan_for(256)
    assert abs(len(p256) - len(p8)) < 200, (len(p8), len(p256))
    assert "Exchange" not in p256, p256  # assignment stage stays narrow

    # and the K=256 assignment is correct vs a NumPy reference
    C = rng.standard_normal((256, dim))
    assign, _ = ivf_quantizer_udfs(spark, list(C), list(range(256)))
    rows = (
        e.select("vec_id", "embedding", assign(F.col("embedding")).alias("c"))
        .orderBy("vec_id")
        .collect()
    )
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    cos = np.round(
        (X @ C.T)
        / np.outer(
            np.sqrt((X * X).sum(axis=1)), np.sqrt((C * C).sum(axis=1))
        ),
        6,
    )
    expect = np.argsort(-cos, axis=1, kind="stable")[:, 0]
    got = np.array([r["c"] for r in rows])
    assert (expect == got).all()


def test_agg_grouping_sets_expands_with_partial_agg(spark, sf_smoke):
    qs = ent.queries()
    p = plan_of(qs["agg_grouping_sets"](spark, sf_smoke), "formatted")
    assert "Expand" in p, p
    assert p.count("HashAggregate") >= 2, p  # partial + final


def test_agg_cube_one_expand_one_exchange(spark, sf_smoke):
    """CUBE fans out map-side rows (4 grouping sets), never shuffles more
    than once: Expand → partial agg → ONE exchange → final agg."""
    qs = ent.queries()
    p = plan_of(qs["agg_cube"](spark, sf_smoke), "formatted")
    assert "Expand" in p, p
    assert p.count("HashAggregate") >= 2, p
    assert plan_of(qs["agg_cube"](spark, sf_smoke), "simple").count(
        "Exchange hashpartitioning"
    ) == 1


def test_agg_grouped_map_single_shuffle(spark, sf_smoke):
    """Batch grouped-map applyInPandas: ONE shuffle on the group key, the
    whole group crosses to Python as one Arrow frame."""
    qs = ent.queries()
    p = plan_of(qs["agg_grouped_map"](spark, sf_smoke), "simple")
    assert "FlatMapGroupsInPandas" in p or "FlatMapGroupsInArrow" in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_set_all_variants_single_shuffle(spark, sf_smoke):
    """exceptAll/intersectAll plan as one value-keyed shuffle with count
    arithmetic — no distinct, no join explosion."""
    qs = ent.queries()
    for k in ("set_except_all", "set_intersect_all"):
        p = plan_of(qs[k](spark, sf_smoke), "simple")
        assert p.count("Exchange hashpartitioning") == 1, (k, p)


def test_partition_metrics_single_aggregation(spark, sf_smoke):
    qs = ent.queries()
    p = plan_of(qs["partition_metrics"](spark, sf_smoke), "simple")
    assert p.count("Exchange hashpartitioning") <= 1, p


def test_dedup_clusters_final_plan_is_truncated(spark, sf_smoke):
    """Iterative star rounds localCheckpoint every round, and the final
    cluster table is itself checkpoint-materialized (shared across the
    three CC consumers): the returned plan must be a flat checkpointed
    RDD scan — no join tree, no exchange, no re-analysis-cost lineage."""
    qs = ent.queries()
    p = plan_of(qs["dedup_clusters"](spark, sf_smoke), "simple")
    assert "ExistingRDD" in p, p
    assert "SortMergeJoin" not in p, p
    assert p.count("Exchange hashpartitioning") == 0, p


# --- curation pack: scan-stage ops stay narrow and JVM-side ----------------


@pytest.mark.parametrize(
    "qkey", ["text_pii", "text_gopher", "sample_stratified", "text_entropy"]
)
def test_curation_scan_ops_are_narrow_jvm_projections(spark, sf_smoke, qs, qkey):
    """Redaction, quality verdicts, and sampling are per-row projections —
    at 100 TB they must be scan-bandwidth-bound: zero exchanges, zero
    Python eval."""
    p = plan_of(qs[qkey](spark, sf_smoke))
    assert "Exchange" not in p, f"{qkey} shuffles:\n{p}"
    assert "EvalPython" not in p, f"{qkey} dropped into Python:\n{p}"


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_smoke, qs):
    """The benchmark gram-digest set is tiny by construction — the corpus
    side must stream through a broadcast hash join, never shuffle for a
    sort-merge join against 10^12 rows."""
    p = plan_of(qs["decontaminate"](spark, sf_smoke))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_mix_weights_broadcasts_global_total(spark, sf_smoke, qs):
    # one-row totals side joins via broadcast nested loop, not a cartesian
    p = plan_of(qs["mix_weights"](spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_ngram_topk_counts_partial_then_final(spark, sf_smoke, qs):
    p = plan_of(qs["ngram_topk"](spark, sf_smoke), "simple")
    assert "partial_count" in p, p
    assert "Exchange hashpartitioning" in p, p


def test_dedup_minhash_single_scan_hash_agg(spark, sf_smoke, qs):
    """The reworked minhash is a SINGLE pass: one parquet scan feeds the
    shingle/lane pipeline (the old bands x bands self-join scanned and
    re-hashed the corpus once per join side), and the 8-way lane min is a
    fixed-width HashAggregate — STRING lanes would demote it to a
    SortAggregate and add two full sorts of the shingle stream."""
    p = plan_of(qs["dedup_minhash"](spark, sf_smoke), "simple")
    assert p.count("Scan parquet") == 1, p
    assert "SortAggregate" not in p, p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p, p


def test_dedup_minhash_xxh_same_plan_no_sha2(spark, sf_smoke, qs):
    """hash_fn='xxh' (the production path) must keep the qkey's plan-shape
    contract — single scan, fixed-width HashAggregate, no join — while
    replacing the sha2 digest+hex-slice with seeded xxhash64 lanes."""
    from caraspark.relational import load
    from caraspark.textops import minhash_candidates

    df = minhash_candidates(load(spark, sf_smoke, "documents"), hash_fn="xxh")
    p = plan_of(df, "simple")
    assert p.count("Scan parquet") == 1, p
    assert "SortAggregate" not in p, p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p, p
    assert "sha2" not in p, p
    assert "xxhash64" in p, p


def test_dedup_minhash_xxh_finds_identical_docs(spark):
    """Identical texts share every shingle, hence every lane min and every
    band, under ANY hash family — the xxh path must pair them with
    n_bands = 2, and must not pair the unrelated doc."""
    from caraspark.textops import minhash_candidates

    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 8),
        (2, "the quick brown fox jumps over the lazy dog " * 8),
        (3, "completely different content about spark shuffles " * 8),
    ]
    d = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r["id_a"], r["id_b"]): r["n_bands"]
        for r in minhash_candidates(d, hash_fn="xxh").collect()
    }
    assert got == {(1, 2): 2}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        minhash_candidates(d, hash_fn="md5")


def test_text_repetition_is_narrow_jvm(spark, sf_smoke, qs):
    p = plan_of(qs["text_repetition"](spark, sf_smoke))
    assert "Exchange" not in p, p
    assert "EvalPython" not in p, p


def test_filter_blocklist_broadcast_anti(spark, sf_smoke, qs):
    # blocklist applies as a broadcast anti-join: the corpus side never
    # shuffles, however large
    p = plan_of(qs["filter_blocklist"](spark, sf_smoke))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p
    assert "SortMergeJoin" not in p, p


def test_join_salted_exchange_carries_salt(spark, sf_smoke, qs):
    """The whole point of the salted join: the join exchange partitions on
    (user_id, salt), so a hot key spreads over the salt space."""
    p = plan_of(qs["join_salted"](spark, sf_smoke))
    assert "SortMergeJoin" in p, p
    seg = [
        ln
        for ln in p.splitlines()
        if "hashpartitioning" in ln and "salt" in ln
    ]
    assert seg, p


def test_doc_chunks_narrow_jvm_explode(spark, sf_smoke, qs):
    """Chunking is one narrow stage: no shuffle, no Python eval — the
    explode/slice pipeline stays inside whole-stage codegen territory."""
    p = plan_of(qs["doc_chunks"](spark, sf_smoke))
    assert "Exchange" not in p, p
    assert "EvalPython" not in p, p
    assert "Generate" in p, p  # codegen explode


def test_warc_roundtrip_single_exchange(spark, sf_smoke, qs):
    """Writer→parser roundtrip shuffles exactly once (the sink's
    repartition); both Arrow stages are maps, not aggregations."""
    df = qs["warc_roundtrip"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") == 1, p
    assert "Aggregate" not in p, p


def test_extract_output_carries_metadata_columns(spark, sf_smoke):
    """The extraction schema contract: spans/outlinks/title ride along and
    project without touching text (column pruning through the UDF
    boundary keeps downstream metadata-only queries narrow)."""
    from caraspark.corpus import synth_df
    from caraspark.extract import extract

    out = extract(synth_df(spark, 8, partitions=2))
    names = [f.name for f in out.schema.fields]
    for col in ("spans", "outlinks", "title"):
        assert col in names


def test_url_features_and_c4_are_narrow_jvm(spark, sf_smoke, qs):
    for k in ("url_features", "text_c4_filter"):
        p = plan_of(qs[k](spark, sf_smoke))
        assert "Exchange" not in p, (k, p)
        assert "EvalPython" not in p, (k, p)


def test_text_rarity_vocab_broadcast_join(spark, sf_smoke, qs):
    """The rarity re-join must broadcast the Zipf-bounded vocab — the
    corpus token stream never sort-merge-shuffles for the join; the only
    hash exchanges build the vocab and the final per-doc agg."""
    p = plan_of(qs["text_rarity"](spark, sf_smoke))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_crawl_robots_broadcasts_rules_no_url_shuffle_for_join(
    spark, sf_smoke, qs
):
    """Robots rules broadcast; the URL side must not exchange for the
    match — the only hashpartitioning exchange is the final per-doc
    winner combine (and it carries a 3-field struct, not paths×rules)."""
    p = plan_of(qs["crawl_robots"](spark, sf_smoke), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_ann_pq_broadcast_queries_no_corpus_shuffle(spark, sf_smoke, qs):
    """PQ-ADC + re-rank: every join broadcasts (query distance-tables in
    stage 1, the 50/query shortlist + query vectors in stage 2) — no
    sort-merge anywhere; the only hashpartitioning exchanges are the two
    per-query top-k windows (shortlist cut, final cut), both over
    candidate-bounded rows."""
    p = plan_of(qs["ann_pq"](spark, sf_smoke), "simple")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert p.count("Exchange hashpartitioning") <= 2, p


def test_crawl_sitemap_single_exchange_no_join(spark, sf_smoke, qs):
    """Sitemap build+parse is one groupBy(source) exchange (the blob
    assembly); the re-parse is a JVM regexp projection + explode over the
    grouped result — no joins, no second shuffle, no Python."""
    p = plan_of(qs["crawl_sitemap"](spark, sf_smoke))
    assert p.count("hashpartitioning") == 1, p
    assert "Join" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_cluster_kmeans_final_assignment_is_narrow(spark, sf_smoke, qs):
    """After the (driver-shipped, K×dim) centroid update, the returned
    assignment plan must be a pure narrow stage: scan → quantize → Arrow
    pandas UDF against the broadcast centroid matrix.  No join and no
    exchange anywhere — at 10^12 vectors this stage's cost is one int64
    reduce per vector, full stop."""
    p = plan_of(qs["cluster_kmeans"](spark, sf_smoke))
    assert "ArrowEvalPython" in p, p
    assert "Join" not in p, p
    assert "hashpartitioning" not in p, p


def test_search_bm25_corpus_never_shuffles(spark, sf_smoke, qs):
    """BM25's tf/dl are scan-stage array ops; the only exchanges build
    the |terms|-row df table and the (N, A) scalar, both broadcast back.
    A SortMergeJoin or a corpus-keyed hashpartitioning would mean the
    postings are travelling to the statistics instead of vice versa."""
    p = plan_of(qs["search_bm25"](spark, sf_smoke))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p  # the 1-row stats crossJoin


def test_dedup_paragraph_exchanges_carry_digests(spark, sf_smoke, qs):
    """The paragraph groupBy and the verdict re-join key on the 16-byte
    md5 — paragraph text must be hashed in the scan stage and never
    appear in an exchange's output schema."""
    p = plan_of(qs["dedup_paragraph"](spark, sf_smoke))
    assert "md5" in p, p
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_sample_per_host_partial_group_limit_before_exchange(
    spark, sf_smoke, qs
):
    """One exchange on the host key, rows are (doc_id, source, hash key) —
    the window never sees document text — and Catalyst must insert the
    Partial WindowGroupLimit BEFORE the exchange: each mapper ships at
    most cap rows per host, which is the whole giant-host skew story."""
    p = plan_of(qs["sample_per_host"](spark, sf_smoke))
    assert p.count("hashpartitioning(source") == 1, p
    assert "row_number(), 40, Partial" in p, p
    assert "text" not in p, p


def test_dedup_simhash_xxh_same_plan_no_md5(spark, sf_smoke, qs):
    """hash_fn='xxh' (the production path) must keep the qkey's plan-shape
    contract — one explode, one partial+final hash aggregate — while
    replacing the md5 hex digest + 16 nibble probes with one xxhash64
    call and shift-and-mask bit reads."""
    from caraspark.tables import load
    from caraspark.textops import simhash_signatures

    df = simhash_signatures(load(spark, sf_smoke, "documents"), hash_fn="xxh")
    p = plan_of(df)
    assert "md5" not in p, p
    assert "xxhash64" in p, p
    assert "Generate" in p, p  # the single token explode


def test_dedup_simhash_xxh_identical_docs_same_signature(spark):
    """Identical token multisets get identical signatures under ANY hash
    family; near-identical docs differ in few bits."""
    from caraspark.textops import simhash_signatures

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "alpha beta gamma delta epsilon eta"),
        (4, "totally different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {r.doc_id: r.simhash16 for r in simhash_signatures(df, "xxh").collect()}
    assert sig[1] == sig[2]
    ham_near = sum(a != b for a, b in zip(sig[1], sig[3]))
    ham_far = sum(a != b for a, b in zip(sig[1], sig[4]))
    assert ham_near < ham_far


def test_tokenize_bpe_is_narrow_jvm(spark, sf_smoke, qs):
    """The merge chain is a scan-stage projection: no exchange, no
    Python eval, no explode — token counts and the stream md5 come out
    of one whole-stage-codegen pass over the words array."""
    p = plan_of(qs["tokenize_bpe"](spark, sf_smoke))
    assert "Exchange" not in p, p
    assert "EvalPython" not in p, p
    assert "Generate" not in p, p


def test_text_script_is_narrow_jvm(spark, sf_smoke, qs):
    """Script counting is a scan-stage regexp projection — no exchange,
    no Python eval."""
    p = plan_of(qs["text_script"](spark, sf_smoke))
    assert "Exchange" not in p, p
    assert "EvalPython" not in p, p


def test_quality_logit_is_narrow_jvm(spark, sf_smoke, qs):
    # featurize + dot-product + threshold is a pure scan-stage projection
    p = plan_of(qs["quality_logit"](spark, sf_smoke))
    assert "Exchange" not in p, p
    assert "EvalPython" not in p, p


def test_sample_dsir_vocab_broadcast_no_corpus_smj(spark, sf_smoke, qs):
    """Both unigram models and the bits table broadcast back over the
    token stream (text_surprisal shape) — the corpus side never
    sort-merge-shuffles; the wide exchanges build the two vocab aggs,
    the per-doc combine, and the per-shard top-k window."""
    p = plan_of(qs["sample_dsir"](spark, sf_smoke))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "EvalPython" not in p, p


def test_lm_bigram_zero_shuffle_gram_formation(spark, sf_smoke, qs):
    """Bigrams form via transform(sequence(...)) in the scan — no
    self-join and no per-doc window; the bits re-join broadcasts."""
    p = plan_of(qs["lm_bigram"](spark, sf_smoke))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "Window" not in p, p


def test_search_postings_all_jvm_no_cartesian(spark, sf_smoke, qs):
    p = plan_of(qs["search_postings"](spark, sf_smoke))
    assert "EvalPython" not in p, p
    assert "CartesianProduct" not in p, p


def test_graph_hostgraph_single_contraction_exchange(spark, sf_smoke, qs):
    """Host extraction + edge rollup: one hashpartitioning exchange over
    (host, host) pairs, all JVM regex — no Python, no join at all."""
    p = plan_of(qs["graph_hostgraph"](spark, sf_smoke))
    assert "EvalPython" not in p, p
    assert "Join" not in p, p
    assert p.count("Exchange") <= 2, p  # partial+final agg exchange only


def test_dedup_phash_band_join_is_equi_not_cartesian(spark, sf_smoke, qs):
    """The pHash near-dup join must be the banded LSH equi-join (hash
    bytes as bands), never an all-pairs product: at 10^12 images a
    cartesian candidate set is the scale-killer the banding exists to
    prevent. Only 8-byte hashes may cross the exchange — the payload
    column must not appear above the aHash projection."""
    df = qs["dedup_phash"](spark, sf_smoke)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "Join" in p, p
    rows = df.collect()
    assert all(r.hamming <= 4 for r in rows)
    assert all(r.id_a < r.id_b for r in rows)


def test_ppl_buckets_cutoffs_broadcast_corpus_never_sorted(spark, sf_smoke, qs):
    """The tercile cutoffs must come from the score HISTOGRAM (window
    over aggregated rows) and return to the corpus via a broadcast join
    — a per-lang NTILE over documents would sort half the corpus in one
    task at 100 TB. The doc-sized side must see no Sort above its agg."""
    df = qs["ppl_buckets"](spark, sf_smoke)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p, p
    rows = df.collect()
    assert {r.bucket for r in rows} == {"head", "middle", "tail"}
    # per lang, head count <= ceil(n/3) can be violated only by ties;
    # cutoff semantics guarantee cumulative(head) * 3 >= n
    from collections import Counter
    by_lang = Counter((r.lang, r.bucket) for r in rows)
    langs = {r.lang for r in rows}
    for lang in langs:
        n = sum(v for (l, b), v in by_lang.items() if l == lang)
        head = by_lang.get((lang, "head"), 0)
        assert head * 3 >= n - 2 * by_lang.get((lang, "middle"), 0) - 1 or head > 0


def test_filter_noindex_is_scan_stage_no_shuffle(spark, sf_smoke, qs):
    """The compliance filter must stay a scan-stage predicate over the
    extracted robots_meta column: it may add NO exchange beyond the ones
    the extraction pipeline itself performs (none on the narrow plan) —
    at 10^12 docs this runs in front of every consumer."""
    from caraspark.extract_queries import _extracted

    base = plan_of(_extracted(spark, sf_smoke)).count("Exchange")
    p = plan_of(qs["filter_noindex"](spark, sf_smoke))
    assert p.count("Exchange") <= base, p
    assert "Sort" not in p, p
    rows = qs["filter_noindex"](spark, sf_smoke).collect()
    assert all((r.excluded == ("noindex" in r.robots_meta)) for r in rows)


def test_host_reputation_partial_then_final_agg(spark, sf_smoke, qs):
    """The host rollup must combine map-side (hot hosts produce partial
    aggregates everywhere, never one giant group in one task)."""
    p = plan_of(qs["host_reputation"](spark, sf_smoke), "simple")
    assert "partial" in p, p
    rows = qs["host_reputation"](spark, sf_smoke).collect()
    assert all(0 <= r.keep_permille <= 1000 for r in rows)


def test_url_resolve_is_narrow_jvm(spark, sf_smoke, qs):
    """Reference resolution is a scan-stage regex chain: zero exchanges,
    zero Python eval — the shape that costs nothing at 10^12 outlinks."""
    p = plan_of(qs["url_resolve"](spark, sf_smoke))
    assert "Exchange" not in p, p
    assert "EvalPython" not in p, p


def test_frontier_feed_zero_exchange_one_arrow_stage(spark, sf_smoke, qs):
    """Extraction → resolution → host parse runs as ONE narrow pipeline:
    the Arrow extract UDF is the only Python stage, posexplode and the
    resolution regex chain stay in the same task — no exchange anywhere."""
    p = plan_of(qs["frontier_feed"](spark, sf_smoke))
    assert "Exchange" not in p, p
    assert p.count("ArrowEvalPython") <= 1


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_smoke):
    """Scale feature pin: when a selective dim filter joins a fact on a
    shuffle join, Catalyst injects a runtime bloom filter — the fact side
    is pre-filtered by might_contain(bloom(dim keys)) BEFORE the exchange,
    so at 100 TB the shuffle carries only rows that can match. Broadcast
    thresholds are disabled to force the shuffle-join regime the feature
    exists for; confs restored after."""
    from caraspark.tables import load

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        li = load(spark, sf_smoke, "lineitem")
        o = load(spark, sf_smoke, "orders").filter(
            "o_orderpriority = '1-URGENT' and o_totalprice > 200000"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        p = plan_of(j)
        assert "might_contain" in p, p
        assert "bloom_filter_agg" in p, p
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ann_ivfpq_broadcast_only_no_corpus_smj(spark, sf_smoke, qs):
    """IVF-PQ must keep the coded corpus unshuffled for scoring: probe
    and shortlist sides broadcast, no sort-merge join anywhere; the only
    exchanges are the tiny per-query window sorts."""
    p = plan_of(qs["ann_ivfpq"](spark, sf_smoke))
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_dedup_canonical_one_exchange_two_surface_extract(spark, sf_smoke, qs):
    """Canonical dedup is extract → resolve → groupBy: the Arrow stage is
    the only Python (want= pushdown assembles just canonical+base), the
    resolution chain is scan-stage regex, exchanges key on the canonical
    URL (plus the distinct-host level) carrying only short strings with
    map-side partial aggregation — HTML payloads never shuffle. The
    lexicographic-min keeper puts a STRING in the aggregation buffer, so
    the aggregate is sort-based by construction (documented tradeoff:
    min-URL semantics cannot hash-aggregate); no join anywhere."""
    p = plan_of(qs["dedup_canonical"](spark, sf_smoke), "simple")
    assert p.count("ArrowEvalPython") <= 1, p
    assert p.count("Exchange") <= 2, p  # canonical + (canonical,host) levels
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p, p
    assert "partial_min" in p or "partial_count" in p, p  # map-side combine


def test_parse_sitemap_zero_exchange_no_python(spark, sf_smoke, qs):
    """Sitemap parsing is a scan-stage regexp + generator explode: zero
    exchanges, zero Python eval — one 50k-entry sitemap explodes inside
    its input partition, so 10^9 sitemaps cost no shuffle at all."""
    p = plan_of(qs["sitemap_entries"](spark, sf_smoke))
    assert "Exchange" not in p, p
    assert "EvalPython" not in p, p


def test_robots_sitemaps_single_exchange_no_python(spark, sf_smoke, qs):
    """Sitemap discovery shuffles once (the per-source distinct) and the
    directive extraction itself is scan-stage JVM regex."""
    p = plan_of(qs["robots_sitemaps"](spark, sf_smoke))
    assert p.count("- Exchange") == 1, p
    assert "EvalPython" not in p, p


def test_assemble_series_rounds_scale_log_not_linear(spark, sf_smoke):
    """Pointer doubling must resolve an L-page chain in O(log L) self-
    joins: the round count is fixed from the node count, so doubling the
    chain length adds at most ONE more join round to the plan."""
    import math

    from caraspark.curation import assemble_series

    def chain(n):
        rows = [(f"p{i:04d}", f"p{i + 1:04d}" if i + 1 < n else None)
                for i in range(n)]
        return spark.createDataFrame(rows, "url string, next_url string")

    out = assemble_series(chain(33)).collect()
    assert {r.pos for r in out} == set(range(33))
    assert all(r.series_id == "p0000" for r in out)
    # 33 nodes -> ceil(log2 33)+1 = 7 rounds, far below the 40-round cap
    assert math.ceil(math.log2(33)) + 1 == 7


def test_url_resolution_compositions_stay_codegen(spark, sf_smoke, qs):
    """Regression guard for the Janino 64 KB method limit: with codegen
    fallback DISABLED, a resolve_url composition that re-inlines its
    inner tree (the bug fixed in dedup_canonical / frontier_df) fails
    loudly here instead of silently running interpreted in production."""
    from pyspark.sql import functions as F

    from jobs.extract_job import frontier_df

    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        qs["dedup_canonical"](spark, sf_smoke).collect()
        snap = spark.createDataFrame(
            [("https://a.example/x/", "/b/", ["c1.html", "../up"])],
            "url string, base_href string, outlinks array<string>",
        )
        rows = {r.href: r.abs_url for r in frontier_df(snap).collect()}
        assert rows == {
            "c1.html": "https://a.example/b/c1.html",
            "../up": "https://a.example/up",
        }
    finally:
        spark.conf.unset("spark.sql.codegen.fallback")


def test_change_rate_single_exchange_reused(spark, sf_smoke, qs):
    """crawl_changerate: the url-keyed exchange feeds BOTH the lag window
    and the follow-up groupBy — Catalyst must not add a second shuffle
    (the groupBy key equals the window partition key)."""
    p = plan_of(qs["crawl_changerate"](spark, sf_smoke), "simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Window" in p, p


def test_text_sentences_is_narrow_jvm(spark, sf_smoke, qs):
    p = plan_of(qs["text_sentences"](spark, sf_smoke), "simple")
    assert "Exchange" not in p and "EvalPython" not in p, p
    assert "Generate" in p, p  # the posexplode


def test_text_badwords_is_narrow_jvm(spark, sf_smoke, qs):
    p = plan_of(qs["text_badwords"](spark, sf_smoke), "simple")
    assert "Exchange" not in p and "EvalPython" not in p, p


def test_doc_license_is_narrow_jvm(spark, sf_smoke, qs):
    p = plan_of(qs["doc_license"](spark, sf_smoke), "simple")
    assert "Exchange" not in p and "EvalPython" not in p, p


def test_doc_soft404_is_narrow_jvm(spark, sf_smoke, qs):
    p = plan_of(qs["doc_soft404"](spark, sf_smoke), "simple")
    assert "Exchange" not in p and "EvalPython" not in p, p


def test_text_dehyphenate_is_narrow_jvm(spark, sf_smoke, qs):
    p = plan_of(qs["text_dehyphenate"](spark, sf_smoke), "simple")
    assert "Exchange" not in p and "EvalPython" not in p, p


def test_doc_pubdate_is_narrow_jvm(spark, sf_smoke, qs):
    p = plan_of(qs["doc_pubdate"](spark, sf_smoke), "simple")
    assert "Exchange" not in p and "EvalPython" not in p, p


def test_crawl_redirects_all_jvm_no_cartesian(spark, sf_smoke, qs):
    """The hop walk is equi-joins only: no Python eval anywhere, no
    cartesian/nested-loop fallback (a broken join condition would
    surface as one), and the edge map's groupBy is the only
    pre-aggregation."""
    p = plan_of(qs["crawl_redirects"](spark, sf_smoke), "simple")
    assert "EvalPython" not in p, p
    assert "Cartesian" not in p and "NestedLoop" not in p, p


def test_block_density_is_narrow_jvm(spark, sf_smoke, qs):
    p = plan_of(qs["block_density"](spark, sf_smoke), "simple")
    assert "Exchange" not in p and "EvalPython" not in p, p
    assert "Generate" not in p, p  # array fold, not explode


def test_crawl_validators_is_narrow_jvm(spark, sf_smoke, qs):
    p = plan_of(qs["crawl_validators"](spark, sf_smoke), "simple")
    assert "Exchange" not in p and "EvalPython" not in p, p


def test_sitemap_coverage_two_exchanges(spark, sf_smoke, qs):
    """One url-keyed join + one host-keyed groupBy with partial
    aggregation; no Python anywhere."""
    p = plan_of(qs["sitemap_coverage"](spark, sf_smoke), "simple")
    assert "EvalPython" not in p, p
    assert "HashAggregate" in p, p


def test_text_ttr_is_narrow_jvm(spark, sf_smoke, qs):
    p = plan_of(qs["text_ttr"](spark, sf_smoke), "simple")
    assert "Exchange" not in p and "EvalPython" not in p, p
    assert "Generate" not in p, p  # array ops, never exploded


def test_seed_distance_no_python_no_cartesian(spark, sf_smoke, qs):
    p = plan_of(qs["seed_distance"](spark, sf_smoke), "simple")
    assert "EvalPython" not in p, p
    assert "Cartesian" not in p and "NestedLoop" not in p, p


def test_decontaminate_fuzzy_bench_is_broadcast(spark, sf_smoke, qs):
    """The benchmark band keys must broadcast — the corpus side never
    re-shuffles for the contamination join."""
    p = plan_of(qs["decontaminate_fuzzy"](spark, sf_smoke), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "EvalPython" not in p and "Cartesian" not in p, p


def test_host_boilerplate_no_python_text_never_shuffles(spark, sf_smoke, qs):
    """All exchanges carry hashes/ints; host-doc counts broadcast."""
    p = plan_of(qs["host_boilerplate"](spark, sf_smoke), "simple")
    assert "EvalPython" not in p and "Cartesian" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_sitemap_delta_single_join_no_python(spark, sf_smoke, qs):
    """Both delta directions come out of ONE full-outer join — never
    two EXCEPTs that would each shuffle both sides."""
    p = plan_of(qs["sitemap_delta"](spark, sf_smoke), "simple")
    assert "EvalPython" not in p, p
    assert p.count("SortMergeJoin") + p.count("ShuffledHashJoin") <= 1, p


def test_content_sniff_is_narrow_jvm(spark, sf_smoke, qs):
    p = plan_of(qs["content_sniff"](spark, sf_smoke), "simple")
    assert "Exchange" not in p and "EvalPython" not in p, p


def test_text_langseg_single_exchange(spark, sf_smoke, qs):
    """One doc_id hash exchange feeds both windows AND the (doc_id, seg)
    HashAggregate — doc_id is a subset of the grouping keys, so the
    clustered distribution is already satisfied and no second shuffle
    appears; paragraph text never crosses an exchange (the explode and
    langid UDF run scan-side)."""
    p = plan_of(qs["text_langseg"](spark, sf_smoke), "simple")
    assert p.count("Exchange") == 1, p
    assert "Cartesian" not in p and "NestedLoop" not in p, p


def test_charset_census_scan_stage_jvm(spark, sf_smoke, qs):
    """Sniffing is all JVM scan-stage; the single exchange carries
    (codec, count) partial aggregates only."""
    p = plan_of(qs["charset_census"](spark, sf_smoke), "simple")
    assert "EvalPython" not in p, p
    assert p.count("Exchange") == 1, p


def test_search_phrase_filtered_before_join_no_cartesian(spark, sf_smoke, qs):
    """Postings are filtered to the phrase terms at scan stage; the
    positional self-join is an equi-join on (doc_id, pos) — never a
    cartesian/nested-loop — and no Python touches the hot path."""
    p = plan_of(qs["search_phrase"](spark, sf_smoke), "simple")
    assert "EvalPython" not in p, p
    assert "Cartesian" not in p and "NestedLoop" not in p, p


def test_filter_ensemble_no_explode_single_exchange(spark, sf_smoke, qs):
    """All five rules are per-row JVM arithmetic — no Generate, no join,
    no Python; the one exchange carries (bitmask, count) partials."""
    p = plan_of(qs["filter_ensemble"](spark, sf_smoke), "simple")
    assert "EvalPython" not in p and "Generate" not in p, p
    assert p.count("Exchange") == 1, p


def test_sessionize_reuses_one_user_exchange(spark, sf_smoke, qs):
    """lag window, running sum, and rollup all key on user_id — the plan
    must contain exactly ONE user_id exchange (reused), and no Python."""
    df = qs["win_sessionize"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in p, p
    ex = [ln for ln in p.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(ex) == 1 and "user_id" in ex[0], p


def test_ts_downsample_single_bucket_exchange(spark, sf_smoke, qs):
    """Both row_number windows and the OHLC groupBy share the
    (event_type, minute) partitioning — one exchange total."""
    df = qs["ts_downsample"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    ex = [ln for ln in p.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(ex) == 1, p
    assert "event_type" in ex[0] and "minute" in ex[0], ex[0]


def test_kneser_ney_joins_broadcast(spark, sf_smoke, qs):
    """The three type-table joins must all broadcast — a sort-merge join
    on the bigram stream would re-shuffle the corpus-derived side."""
    df = qs["lm_kneser_ney"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p


def test_dedup_incremental_history_side_broadcasts(spark, sf_smoke, qs):
    """The historical digest table enters as a broadcast — the delta
    never sort-merge-joins against history."""
    df = qs["dedup_incremental"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_text_keywords_df_side_broadcasts(spark, sf_smoke, qs):
    """The Zipf-bounded document-frequency table must broadcast back onto
    the (doc, term) tf table — sort-merge-joining the corpus-sized tf
    stream against its own vocab would add a full extra shuffle."""
    df = qs["text_keywords"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_ngram_novelty_shuffles_digests_only(spark, sf_smoke, qs):
    """Grams are md5'd row-locally BEFORE any exchange: no Exchange in the
    plan may carry the raw text column, and per-doc dedup is
    array_distinct (no extra distinct shuffle)."""
    df = qs["ngram_novelty"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    for seg in p.split("Exchange")[1:]:
        head = seg.splitlines()[0]
        assert "text" not in head, head
    assert "HashAggregate" in p, p


def test_embed_outliers_centroid_and_stats_broadcast(spark, sf_smoke, qs):
    """Both label-level tables (centroid arrays, mean distances) are tiny
    and must broadcast — the vector side never sort-merge-joins."""
    df = qs["embed_outliers"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p


def test_host_diversity_pure_aggregation_no_join(spark, sf_smoke, qs):
    """Two stacked map-side-combined aggregations, zero joins — the whole
    operator is one shuffle of (lang, host) counts."""
    df = qs["host_diversity"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_tokenizer_fertility_merge_loop_stays_in_codegen(spark, sf_smoke, qs):
    """The BPE merge chain must stay a whole-stage-codegen projection —
    no Python evaluation node anywhere in the rollup plan."""
    df = qs["tokenizer_fertility"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in p, p
    for bad in ("BatchEvalPython", "ArrowEvalPython", "FlatMapsInPandas"):
        assert bad not in p, p


def test_quality_agreement_no_python_and_partial_agg(spark, sf_smoke, qs):
    """Both filter projections are JVM scan-stage work and the rollup is
    partial+final hash aggregation."""
    df = qs["quality_agreement"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in p, p
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in p, p


def test_collocations_pmi_count_tables_broadcast(spark, sf_smoke, qs):
    """The Zipf-bounded unigram table (twice) and the per-language totals
    all broadcast onto the pair table — no sort-merge join re-shuffles
    the pair stream."""
    df = qs["collocations_pmi"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "SortMergeJoin" not in p, p


def test_split_by_host_scan_stage_assignment_no_join(spark, sf_smoke, qs):
    """The split is a pure function of the host column: no join anywhere,
    one partial+final aggregate, no Python."""
    df = qs["split_by_host"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p, p
    assert "HashAggregate" in p, p
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in p, p


def test_bitext_mine_is_an_equi_join_never_cartesian(spark, sf_smoke, qs):
    """Candidate pairing keys (host, slot) as a hash/sort-merge equi-join;
    a cartesian product here would be the classic all-pairs scale killer."""
    df = qs["bitext_mine"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    ), p


def test_vocab_growth_window_runs_over_aggregates_only(spark, sf_smoke, qs):
    """The cumulative window consumes the 10-row-per-lang decile
    histogram, not the token stream: every Window in the plan sits above
    a HashAggregate, and the token explode feeds aggregates only."""
    df = qs["vocab_growth"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in p, p
    assert p.index("Window") < p.index("HashAggregate"), (
        "window must consume aggregated rows (plan prints top-down)",
        p,
    )
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in p, p


def test_span_merge_single_doc_exchange(spark, sf_smoke, qs):
    """Interval merge partitions by doc_id once: the island window and
    both merge aggregates reuse ONE doc_id exchange of (doc_id, int,
    int) triples — no text column survives past the scan."""
    df = qs["span_merge"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning(doc_id") <= 1, p
    assert "text" not in p.split("Scan parquet")[0], p


def test_graph_communities_exchanges_host_label_pairs_only(spark, sf_smoke, qs):
    """Three label-propagation rounds never touch document payloads: the
    text column is pruned at the scan and no cartesian join appears."""
    df = qs["graph_communities"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p, p
    plan_full = plan_of(df)
    assert "ReadSchema" in plan_full and "text" not in (
        plan_full.split("ReadSchema:")[1].split("\n")[0]
    ), plan_full


def test_simjoin_prefix_no_cartesian_digest_exchanges(spark, sf_smoke, qs):
    """Prefix-filtered candidate generation and verification are all
    equi-joins (never a cartesian/nested-loop all-pairs), and the text
    column dies at the scan — only md5 digests and counts exchange."""
    df = qs["simjoin_prefix"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in p, p


def test_quote_mining_reuses_digest_partitioning(spark, sf_smoke, qs):
    """First-writer election and the attribution join key on the SAME
    gram digest, so the join reuses the aggregate's hash partitioning
    instead of adding a third corpus-sized exchange."""
    df = qs["quote_mining"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p, p
    assert p.count("Exchange hashpartitioning(g#") <= 2, p


def test_pii_gazetteer_dictionary_broadcasts(spark, sf_smoke, qs):
    """The gazetteer joins as a broadcast — the token stream must never
    shuffle to meet a dictionary."""
    df = qs["pii_gazetteer"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p, p


def test_substring_remove_subtraction_is_scan_stage(spark, sf_smoke, qs):
    """Span subtraction is an array lambda in a Project — no Python
    stage, no cartesian, and no exchange whose key is a token/gram
    string (only doc_id and the digest exchanges the marking pass
    already pays)."""
    df = qs["substring_remove"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p, p
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in p, p


def test_lm_kn_score_lm_table_broadcasts(spark, sf_smoke, qs):
    """The Zipf-bounded LM table must broadcast onto the document bigram
    stream — the corpus never shuffles to meet its own LM."""
    df = qs["lm_kn_score"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p, p


def test_cluster_zorder_single_aggregate_no_join(spark, sf_smoke, qs):
    """The interleave is scan-stage arithmetic: no join, one
    partial+final aggregate, no Python."""
    df = qs["cluster_zorder"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p, p
    assert "HashAggregate" in p, p
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in p, p


def test_events_attribution_one_window_no_self_join(spark, sf_smoke, qs):
    """All five attribution outputs share one frame: exactly one Window
    operator, one user_id exchange, and no self-join of the event
    stream."""
    df = qs["events_attribution"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Window") == 1, p
    assert "Join" not in p, p
    assert p.count("Exchange hashpartitioning(user_id") == 1, p


def test_tpch_q3_filters_pushed_and_partial_agg(spark, sf_smoke, qs):
    """Both date predicates and the segment filter reach the parquet
    scans, and the revenue rollup is partial+final."""
    df = qs["tpch_q3"](spark, sf_smoke)
    full = plan_of(df)
    assert "PushedFilters" in full, full
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in p, p
    assert "CartesianProduct" not in p, p


def test_tpch_q5_dimension_chain_broadcasts(spark, sf_smoke, qs):
    """supplier, nation, and region all broadcast — the fact stream
    never shuffles to meet a dimension."""
    df = qs["tpch_q5"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "CartesianProduct" not in p, p


def test_tpch_q8_five_dimensions_broadcast(spark, sf_smoke, qs):
    """part, both nation roles, region, and supplier all broadcast; the
    only shuffled joins key on the two natural fact keys."""
    df = qs["tpch_q8"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastHashJoin") >= 5, p
    assert "CartesianProduct" not in p, p


def test_scd2_intervals_one_user_exchange(spark, sf_smoke, qs):
    """Run detection, collapse, and interval stamping all reuse a single
    user_id hash partitioning."""
    df = qs["scd2_intervals"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning(user_id") == 1, p
    assert "Join" not in p, p


def test_mirror_detect_digest_join_and_broadcast_sizes(spark, sf_smoke, qs):
    """Pairs come from a digest-keyed equi-join (never host all-pairs),
    and the host-size tables broadcast onto the pair stream."""
    df = qs["mirror_detect"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert p.count("BroadcastHashJoin") >= 2, p


def test_tpch_q17_decorrelated_single_partkey_exchange(spark, sf_smoke, qs):
    """The brand filter broadcasts; stats + verify reuse one l_partkey
    partitioning (decorrelation means ONE aggregate, no re-scan)."""
    df = qs["tpch_q17"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    assert p.count("Exchange hashpartitioning(l_partkey") <= 1, p


def test_tpch_q6_pure_scan_aggregate(spark, sf_smoke, qs):
    """No join; predicates pushed to parquet; one partial+final agg."""
    df = qs["tpch_q6"](spark, sf_smoke)
    full = plan_of(df)
    assert "PushedFilters" in full, full
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p, p
    assert "HashAggregate" in p, p


def test_tpch_q7_nation_pair_residual_broadcasts(spark, sf_smoke, qs):
    """Both nation-tagged dims broadcast onto the fact stream and the
    cross-dimension nation-pair disjunction never becomes a cartesian."""
    df = qs["tpch_q7"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "CartesianProduct" not in p, p
    assert "HashAggregate" in p, p


def test_tpch_q13_outer_join_keeps_zero_bucket(spark, sf_smoke, qs):
    """The priority filter must live in the join condition, not above
    the outer join: customers with no qualifying orders land in the
    c_count=0 bucket instead of vanishing."""
    df = qs["tpch_q13"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftOuter" in p or "BroadcastHashJoin" in p, p
    from caraspark.tables import load
    from pyspark.sql import functions as F

    n_cust = load(spark, sf_smoke, "customer").count()
    total = df.agg(F.sum("custdist")).collect()[0][0]
    assert total == n_cust, (total, n_cust)


def test_tpch_q15_max_is_broadcast_not_window(spark, sf_smoke, qs):
    """The scalar max re-joins as a 1-row broadcast; no global Window
    sort over the per-supplier aggregate."""
    df = qs["tpch_q15"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in p, p
    assert p.count("BroadcastHashJoin") >= 2, p


def test_tpch_q16_blacklist_anti_and_distinct_two_phase(spark, sf_smoke, qs):
    """The supplier blacklist is a broadcast anti join and the DISTINCT
    supplier count expands into a two-phase aggregate (dedup before the
    exchange), never shipping raw lineitems."""
    df = qs["tpch_q16"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in p, p
    assert p.count("HashAggregate") >= 3, p
    assert "CartesianProduct" not in p, p


def test_tpch_q18_rank_runs_on_filtered_aggregate(spark, sf_smoke, qs):
    """The quantity rollup partial-aggregates before its exchange and
    the top-100 window ranks the HAVING-filtered aggregate, not raw
    lineitems."""
    df = qs["tpch_q18"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Window") == 1, p
    assert "HashAggregate" in p, p
    assert "CartesianProduct" not in p, p


def test_tpch_q20_semi_join_tower_broadcasts(spark, sf_smoke, qs):
    """part/nation/region all broadcast; the volume subquery reaches
    supplier as a LEFT SEMI join on the contracted aggregate."""
    df = qs["tpch_q20"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p, p
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "CartesianProduct" not in p, p


def test_events_cep_user_keyed_fanout_no_cartesian(spark, sf_smoke, qs):
    """One windowed frame definition, replayed per consumer branch (3:
    two-hop starts, click closure, merged one-hop patterns) — every
    exchange is user-keyed, both one-hop patterns share ONE branch, and
    the two-hop closure is an equi-join, never a cartesian."""
    df = qs["events_cep"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Window") == 3, p
    assert p.count("Exchange hashpartitioning(user_id") == 3, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_agg_online_single_fact_aggregate(spark, sf_smoke, qs):
    """The refinement trace costs ONE pass over the fact table: a single
    pair of partial+final hash aggregates feeds both the cumulative
    window and the broadcast true total — no second lineitem scan."""
    df = qs["agg_online"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p, p
    import re

    scans = len(re.findall(r"Scan parquet", p))
    assert scans <= 2, p  # base scan (+ possibly one reuse line)
    assert "HashAggregate" in p, p


def test_tpch_q9_dimension_broadcast_chain(spark, sf_smoke, qs):
    """part/supplier/nation all broadcast onto the fact scan; the only
    shuffled join keys on l_orderkey."""
    df = qs["tpch_q9"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "CartesianProduct" not in p, p


def test_tpch_q11_threshold_is_broadcast(spark, sf_smoke, qs):
    """The fraction threshold re-joins as a 1-row broadcast onto the
    part-cardinality aggregate — no window, no second fact scan."""
    df = qs["tpch_q11"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in p, p
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "CartesianProduct" not in p, p


def test_events_rfm_contracts_before_ntile(spark, sf_smoke, qs):
    """The three quintile sorts run over the customer-cardinality rollup
    (map-side combined), never raw orders; the reference date is a 1-row
    broadcast."""
    df = qs["events_rfm"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Window") == 3, p
    assert "HashAggregate" in p, p
    assert "CartesianProduct" not in p, p


def test_basket_pairs_orderkey_selfjoin_bounded(spark, sf_smoke, qs):
    """Pair generation is an orderkey-keyed equi self-join (fanout
    bounded by basket size) with broadcast part-frequency lookups —
    never an all-parts cartesian."""
    df = qs["basket_pairs"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p, p
    # the only nested-loop join is the 1-row order-count scalar broadcast
    assert p.count("BroadcastNestedLoopJoin") <= 1, p
    assert p.count("BroadcastHashJoin") >= 3, p  # pair self-join + 2 lookups


def test_join_range_bucketed_is_equi_join(spark, sf_smoke, qs):
    """The bucket decomposition turns the range join into a pure
    equi-join: no nested-loop, no cartesian anywhere in the plan."""
    df = qs["join_range_bucketed"](spark, sf_smoke)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or (
        "ShuffledHashJoin" in p
    ), p


def test_url_surt_single_exchange(spark, sf_smoke, qs):
    """SURT key derivation is pure scan-stage codegen string work; the
    only exchange is the census groupBy on the ~60 B key."""
    p = plan_of(qs["url_surt"](spark, sf_smoke), "simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p


def test_quality_calibration_broadcast_extent(spark, sf_smoke, qs):
    """Bucket bounds come from a 1-row broadcast min/max (the house
    pattern), NOT a global-order window or a corpus-sized join: the plan
    must show a broadcast join, no SortMergeJoin, no ntile window, and
    only the two aggregation exchanges (extent + final census)."""
    p = plan_of(qs["quality_calibration"](spark, sf_smoke), "simple")
    assert "Broadcast" in p, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    assert "Window" not in p, p
    assert p.count("Exchange hashpartitioning") <= 2, p


def test_warc_revisit_plan_payload_stays_in_scan(spark, sf_smoke, qs):
    """The dedup decision shuffles only (url, crawl, digest, length) —
    the lag window plus the census groupBy are the ONLY exchanges, and
    no join of any kind appears (digest history is a window, not a
    self-join)."""
    p = plan_of(qs["warc_revisit_plan"](spark, sf_smoke), "simple")
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "Join" not in p, p


# --- round-4 driver window: scale-safety sweep over the fronted keys ------
# Generic invariant for every windowed key that lacks a bespoke pin above:
# no CartesianProduct anywhere in the physical plan (bounded 1-row
# broadcast nested loops — the scalar-broadcast house pattern — are fine
# and appear as BroadcastNestedLoopJoin, a different node).

_R4_WINDOW_SWEEP = [
    "dedup_semantic", "quality_nb", "quality_perceptron", "host_ppl",
    "warc_cdx", "warc_revisit", "tpch_q4", "tpch_q10", "tpch_q14",
    "tpch_q19", "tpch_q22", "warc_wat", "warc_wet", "warc_headers",
    "warc_truncated", "warc_request", "ann_recall", "ann_recall_pq",
    "bpe_train", "dedup_best_rep", "dedup_cluster_sizes",
    "dedup_exact_latest", "graph_hits", "graph_triangles", "quality_auc",
]


@pytest.mark.parametrize("qkey", _R4_WINDOW_SWEEP)
def test_r4_window_key_no_cartesian(spark, sf_smoke, qs, qkey):
    p = plan_of(qs[qkey](spark, sf_smoke), "simple")
    assert "CartesianProduct" not in p, (qkey, p)


def test_decontaminate_remove_broadcast_bench(spark, sf_smoke, qs):
    """The bench gram set must reach the corpus via broadcast (zero
    corpus shuffle for detection) and no cartesian anywhere; the only
    sort-merge joins allowed are the doc_id-keyed span/doc joins."""
    p = plan_of(qs["decontaminate_remove"](spark, sf_smoke), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
