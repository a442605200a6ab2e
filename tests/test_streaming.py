"""Streaming pack tests (SURVEY.md §5.2-7): every streamed result equals the
equivalent batch query; watermark drops late rows; resume is idempotent."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from caraspark import streaming as S


@pytest.fixture(scope="module")
def events_batch(spark, sf_smoke):
    return spark.read.parquet(f"{sf_smoke}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_tumbling_equals_batch(spark, sf_smoke, events_batch):
    streamed = S.run_to_memory(
        S.tumbling_counts(S.replay_events_stream(spark, sf_smoke)),
        mode="complete",
    )
    batch = (
        events_batch.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_v"),
        )
        .select(
            F.col("window.start").alias("w_start"), "event_type", "n", "sum_v"
        )
    )
    cols = ["w_start", "event_type", "n", "sum_v"]
    assert _sorted_rows(streamed, cols) == _sorted_rows(batch, cols)
    assert streamed.count() > 0


def test_session_window_equals_batch(spark, sf_smoke, events_batch):
    streamed = S.run_to_memory(
        S.session_counts(S.replay_events_stream(spark, sf_smoke)),
        mode="complete",
    )
    batch = (
        events_batch.groupBy(F.session_window("ts", "15 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("s_start"),
            "user_id",
            "n_events",
        )
    )
    cols = ["s_start", "user_id", "n_events"]
    assert _sorted_rows(streamed, cols) == _sorted_rows(batch, cols)


def test_streaming_dedup(spark, sf_smoke, events_batch):
    streamed = S.run_to_memory(
        S.dedup_stream(S.replay_events_stream(spark, sf_smoke))
    )
    assert streamed.count() == events_batch.dropDuplicates(["event_id"]).count()


def test_watermark_drops_late_rows(spark, tmp_path, events_batch):
    """T4: a second file arriving entirely behind the watermark is dropped."""
    src = str(tmp_path / "late_src")
    on_time = events_batch.filter(F.col("event_id") % 7 != 0).orderBy("event_id")
    late = (
        events_batch.filter(F.col("event_id") % 7 == 0)
        .withColumn("ts", F.col("ts") - F.expr("INTERVAL 6 HOURS"))
    )
    on_time.coalesce(1).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(
            S.EVENTS_DDL.replace("timestamp_ntz", "timestamp")
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    import uuid

    name = "late" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()  # watermark advances past the late window
        late.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    out = spark.table(name)
    # every emitted window is at/after the on-time minimum: the 6h-early
    # late rows never appear
    min_ts = on_time.agg(F.min("ts")).collect()[0][0]
    emitted = [r["window"]["start"] for r in out.collect()]
    assert emitted and all(w >= min_ts.replace(minute=0, second=0, microsecond=0) for w in emitted)


def test_stateful_running_totals(spark, sf_smoke, events_batch):
    streamed = S.run_to_memory(
        S.stateful_running_totals(S.replay_events_stream(spark, sf_smoke)),
        mode="update",
    )
    # final state per user == batch aggregate (memory sink keeps every
    # update; take the max-n row per user = the last update)
    from pyspark.sql import Window as W

    last = (
        streamed.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.desc("n"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "n", "total")
    )
    batch = events_batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total")
    )
    cols = ["user_id", "n", "total"]
    assert _sorted_rows(last, cols) == _sorted_rows(batch, cols)


def test_foreach_batch_sink(spark, sf_smoke, tmp_path, events_batch):
    out = str(tmp_path / "sink")
    S.foreach_batch_to_parquet(S.replay_events_stream(spark, sf_smoke), out)
    files = glob.glob(f"{out}/epoch=*/*.parquet")
    assert files
    total = spark.read.parquet(*sorted({f.rsplit("/", 1)[0] for f in files})).count()
    assert total == events_batch.count()


def test_restart_from_checkpoint_exactly_once(spark, tmp_path, events_batch):
    """T7 core claim: kill the query, append new input, restart with the
    SAME checkpoint — every event lands in the sink exactly once (committed
    epochs are not replayed; new data flows)."""
    import os

    src = str(tmp_path / "src")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    half1 = events_batch.filter(F.col("event_id") % 2 == 0)
    half2 = events_batch.filter(F.col("event_id") % 2 == 1)
    half1.write.mode("overwrite").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(events_batch.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

        def write_epoch(df, epoch_id):
            df.write.mode("overwrite").parquet(
                os.path.join(out, f"epoch={epoch_id}")
            )

        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(write_epoch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    run_once()  # phase 1: half the events, then the query dies
    # append phase-2 files while no query is running
    half2.write.mode("append").parquet(src)
    run_once()  # restart from the same checkpoint

    epoch_dirs = sorted(
        {f.rsplit("/", 1)[0] for f in glob.glob(f"{out}/epoch=*/*.parquet")}
    )
    got = sorted(
        r["event_id"]
        for r in spark.read.parquet(*epoch_dirs).select("event_id").collect()
    )
    want = sorted(r["event_id"] for r in events_batch.collect())
    assert got == want  # exactly once: no loss, no duplicates


def test_stream_stream_join_equals_batch(spark, sf_smoke, events_batch):
    """T-surface: stream-stream inner join with a time-range condition
    emits exactly the batch join's pairs on a bounded replay."""
    streamed = S.run_to_memory(
        S.clickview_join(
            S.replay_events_stream(spark, sf_smoke),
            S.replay_events_stream(spark, sf_smoke),
        )
    )
    a = events_batch.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("cts"),
    )
    b = events_batch.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("vu"),
        F.col("ts").alias("vts"),
    )
    batch = a.join(
        b,
        (F.col("user_id") == F.col("vu"))
        & (F.col("vts") >= F.col("cts") - F.expr("INTERVAL 240 MINUTES"))
        & (F.col("vts") <= F.col("cts")),
    ).select("click_id", "view_id")
    cols = ["click_id", "view_id"]
    assert _sorted_rows(streamed, cols) == _sorted_rows(batch, cols)
    assert streamed.count() > 0


def test_stream_stream_outer_join_equals_batch(spark, sf_smoke, events_batch):
    """LEFT OUTER stream-stream join: the flush-staged replay advances the
    watermark past all real data, so every unmatched click's null-extended
    row actually emits — the result equals the batch left join exactly."""
    streamed = S.run_to_memory(
        S.clickview_join_outer(
            S.replay_events_stream_flushed(spark, sf_smoke),
            S.replay_events_stream_flushed(spark, sf_smoke),
        )
    ).filter(F.col("click_id") >= 0)
    a = events_batch.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("cts"),
    )
    b = events_batch.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("vu"),
        F.col("ts").alias("vts"),
    )
    batch = a.join(
        b,
        (F.col("user_id") == F.col("vu"))
        & (F.col("vts") >= F.col("cts") - F.expr("INTERVAL 240 MINUTES"))
        & (F.col("vts") <= F.col("cts")),
        "leftOuter",
    ).select("click_id", "view_id")
    cols = ["click_id", "view_id"]

    def rows(df):  # None-safe sort (null-extended view_id)
        key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
        return sorted((tuple(r) for r in df.select(*cols).collect()), key=key)

    assert rows(streamed) == rows(batch)
    # the outer rows are the point: some clicks must be view-less
    assert streamed.filter(F.col("view_id").isNull()).count() > 0


def test_stream_extract_equals_batch(spark, sf_smoke):
    """The in-stream extraction pipeline (mapInArrow over a streaming
    DataFrame) must produce exactly the batch pipeline's rows — same
    Arrow UDF, micro-batched input, append sink, no state."""
    from caraspark.extract import extract
    from caraspark.streaming_queries import stream_extract
    from caraspark.tables import load

    streamed = stream_extract(spark, sf_smoke)

    docs = load(spark, sf_smoke, "documents")
    raw = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast("timestamp_ntz").alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><body><main><p>"),
                F.col("text"),
                F.lit("</p></main></body></html>"),
            ),
            "utf-8",
        ).alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )
    batch = extract(raw).select(
        "url",
        F.length("text").cast("long").alias("n_octets"),
        F.md5("text").alias("text_md5"),
    )
    cols = ["url", "n_octets", "text_md5"]
    rows = lambda df: sorted(tuple(r) for r in df.select(*cols).collect())  # noqa: E731
    got, want = rows(streamed), rows(batch)
    assert got == want
    assert len(got) > 0


def test_stream_quality_equals_batch_rollup(spark, sf_smoke):
    """The streamed quality monitor must equal the batch groupBy over the
    SAME shared projection (quality_features) — stateless featurize +
    commutative fold is order-insensitive across micro-batches."""
    from caraspark.curation import quality_features
    from caraspark.streaming_queries import stream_quality
    from caraspark.tables import load

    streamed = {
        (r.lang, r.keep): (r.n_docs, r.score_sum, r.score_min, r.score_max)
        for r in stream_quality(spark, sf_smoke).collect()
    }
    docs = load(spark, sf_smoke, "documents").filter(F.length("text") > 0)
    batch = {
        (r.lang, r.keep): (r.n_docs, r.score_sum, r.score_min, r.score_max)
        for r in quality_features(docs, extra=("lang",))
        .groupBy("lang", "keep")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("score").cast("bigint").alias("score_sum"),
            F.min("score").cast("bigint").alias("score_min"),
            F.max("score").cast("bigint").alias("score_max"),
        )
        .collect()
    }
    assert streamed == batch


def test_stream_frontier_matches_closed_form(spark, sf_smoke):
    """Every doc contributes exactly one resolved link to its own site
    host (root-relative /p/ link) and one to hub.example (absolute) —
    the streamed per-host counts must equal that closed form."""
    from caraspark.streaming_queries import REGISTRY
    from caraspark.tables import load

    stream_frontier = REGISTRY["stream_frontier"].fn
    got = {r.host: r.n_links for r in stream_frontier(spark, sf_smoke).collect()}
    dids = [
        r.doc_id
        for r in load(spark, sf_smoke, "documents").select("doc_id").collect()
    ]
    want: dict[str, int] = {}
    for did in dids:
        want[f"site{did % 7}.example"] = want.get(f"site{did % 7}.example", 0) + 1
        want["hub.example"] = want.get("hub.example", 0) + 1
    assert got == want


def test_stream_ingest_lake_merges_epochs(spark, tmp_path):
    """Crawl-ingest stream: epoch 1 seeds the lake, epoch 2 (a later
    query sharing the checkpoint) re-crawls one url and adds another —
    the table converges to latest-fetch-wins with no duplicates and the
    pre-epoch-2 snapshot still time-travels."""
    import datetime

    from caraspark.manifest import SnapshotManifest
    from caraspark.streaming import stream_ingest_lake
    from jobs.extract_job import read_extracted

    src = tmp_path / "src"
    src.mkdir()
    table = str(tmp_path / "lake")
    ts = datetime.datetime(2026, 8, 19, 9, 0, 0)
    ddl = ("url string, warc_ts timestamp_ntz, html binary, text string,"
           " lang string")

    def page(u, body):
        return (u, ts, f"<html><body><p>{body}</p></body></html>".encode(),
                None, "en")

    spark.createDataFrame(
        [page("https://a.example/", "alpha one"),
         page("https://b.example/", "beta one")], ddl
    ).coalesce(1).write.parquet(str(src / "batch1"))

    def ingest():
        pages = (
            spark.readStream.schema(ddl)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        stream_ingest_lake(pages, table, units=4)

    ingest()
    t1 = {r.url: bytes(r.text) for r in
          read_extracted(spark, table).select("url", "text").collect()}
    assert t1 == {"https://a.example/": b"alpha one",
                  "https://b.example/": b"beta one"}
    snap1 = SnapshotManifest(table).current_snapshot()["snapshot_id"]

    spark.createDataFrame(
        [page("https://a.example/", "alpha two"),
         page("https://c.example/", "gamma one")], ddl
    ).coalesce(1).write.parquet(str(src / "batch2"))
    ingest()  # checkpoint: only the new file is processed
    t2 = {r.url: bytes(r.text) for r in
          read_extracted(spark, table).select("url", "text").collect()}
    assert t2 == {"https://a.example/": b"alpha two",
                  "https://b.example/": b"beta one",
                  "https://c.example/": b"gamma one"}
    old = {r.url: bytes(r.text) for r in
           read_extracted(spark, table, snapshot_id=snap1)
           .select("url", "text").collect()}
    assert old == t1


def test_space_saving_unit_semantics():
    """The sketch kernel on a hand-ordered stream: eviction inherits the
    min count as error, monitored keys increment in place, and both
    Space-Saving guarantees hold exactly."""
    import pandas as pd

    from caraspark.streaming import _HH_K, _space_saving

    class FakeState:
        exists = False

        def update(self, v):
            self.exists, self.val = True, v

        @property
        def get(self):
            return self.val

    # k distinct fillers, then a flood of key 999, then one eviction probe
    stream = list(range(_HH_K)) + [999] * 20 + [1000]
    st = FakeState()
    out = list(
        _space_saving(
            (1,), iter([pd.DataFrame({"user_id": stream})]), st
        )
    )[0]
    tbl = {r.user_id: (r.est, r.err) for r in out.itertuples()}
    assert len(tbl) == _HH_K
    assert 999 in tbl and tbl[999] == (21, 1)  # evicted a 1-count filler
    assert 1000 in tbl and tbl[1000] == (2, 1)  # inherited min count 1
    from collections import Counter

    true = Counter(stream)
    n = len(stream)
    for k_, (est, err) in tbl.items():
        assert est >= true[k_] >= est - err
    for k_, c in true.items():
        if c * _HH_K > n:
            assert k_ in tbl  # guarantee 1


def test_stream_heavy_hitters_contracts(spark, sf_smoke):
    import __spark_entry__ as ent

    row = ent.queries()["stream_heavy_hitters"](spark, sf_smoke).collect()[0]
    assert row.k == 8 and row.n_tracked == 8
    assert row.all_heavy_tracked and row.bounds_ok


def test_stream_shots_converges_to_batch_census(spark, sf_smoke):
    """The streaming per-clip motion profile equals the batch
    ``video_shots`` table folded to the same aggregates — the
    micro-batch replay loses nothing and double-counts nothing."""
    import __spark_entry__ as ent
    from pyspark.sql import functions as F

    qs = ent.queries()
    live = {
        r.media_id: (r.n_pairs, r.n_cuts, r.max_diff)
        for r in qs["stream_shots"](spark, sf_smoke).collect()
    }
    batch = {
        r.media_id: (r.n_pairs, r.n_cuts, r.max_diff)
        for r in qs["video_shots"](spark, sf_smoke)
        .groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("is_cut"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_cuts"),
            F.max("diff").cast("bigint").alias("max_diff"),
        )
        .collect()
    }
    assert live == batch and live


def test_stream_mutual_links_filters_one_way_pairs(spark, sf_smoke):
    """Mutual pairs are exactly the distance-6 host pairs (the +6/−6
    cycle closes them); distance-3 pairs are one-way and must be
    filtered; counts equal a batch recomputation."""
    import __spark_entry__ as ent
    from pyspark.sql import functions as F

    from caraspark.tables import load

    live = {
        (r.lo, r.hi): (r.n_fwd, r.n_rev)
        for r in ent.queries()["stream_mutual_links"](spark, sf_smoke)
        .collect()
    }
    assert live
    for (lo, hi), (nf, nr) in live.items():
        a, b = int(lo[3:]), int(hi[3:])
        assert (a - b) % 20 in (6, 14), (lo, hi)
        assert nf > 0 and nr > 0

    d = load(spark, sf_smoke, "documents")
    links = d.select(
        F.col("source").alias("src"),
        "doc_id",
        F.explode(F.array(F.lit(3), F.lit(6), F.lit(14))).alias("k"),
    ).select(
        "src",
        F.concat(F.lit("src"), ((F.col("doc_id") + F.col("k")) % 20)).alias(
            "dst"
        ),
    )
    dirs = links.filter(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("lo"),
        F.greatest("src", "dst").alias("hi"),
        F.when(F.col("src") < F.col("dst"), 1).otherwise(0).alias("fwd"),
    )
    batch = {
        (r.lo, r.hi): (r.n_fwd, r.n_rev)
        for r in dirs.groupBy("lo", "hi")
        .agg(
            F.sum("fwd").cast("bigint").alias("n_fwd"),
            F.sum(1 - F.col("fwd")).cast("bigint").alias("n_rev"),
        )
        .filter((F.col("n_fwd") > 0) & (F.col("n_rev") > 0))
        .collect()
    }
    assert live == batch


def test_stream_abtest_converges_to_batch_gate(spark, sf_smoke):
    """The live significance table equals the batch events_abtest
    readout on every shared column (cells and flags)."""
    import __spark_entry__ as ent

    qs = ent.queries()
    live = {
        r.cohort: (r.a, r.b, r.c, r.d, r.significant)
        for r in qs["stream_abtest"](spark, sf_smoke).collect()
    }
    batch = {
        r.cohort: (r.a, r.b, r.c, r.d, r.significant)
        for r in qs["events_abtest"](spark, sf_smoke).collect()
    }
    assert live == batch and live


def test_stream_revisit_plan_equals_batch_planner(spark, sf_smoke):
    """The stateful streaming revisit planner must agree row-for-row with
    the batch lag-window planner (same digest formula, same census), and
    the staged source must really deliver one crawl wave per micro-batch
    (4 files, maxFilesPerTrigger=1) — otherwise the per-url digest state
    never carries across batches and the test would only exercise
    within-batch sorting."""
    import glob
    import os

    from caraspark.curation import warc_revisit_plan
    from caraspark.streaming_queries import stream_revisit_plan

    got = {r.crawl: r for r in stream_revisit_plan(spark, sf_smoke).collect()}
    want = {r.crawl: r for r in warc_revisit_plan(spark, sf_smoke).collect()}
    assert set(got) == set(want) == {0, 1, 2, 3}
    for c in want:
        assert (
            got[c].n_response,
            got[c].n_revisit,
            got[c].stored_bytes,
            got[c].saved_bytes,
        ) == (
            want[c].n_response,
            want[c].n_revisit,
            want[c].stored_bytes,
            want[c].saved_bytes,
        )
    from caraspark.streaming import wave_stage_dir

    src = os.path.realpath(f"{sf_smoke}/documents.parquet")
    stage = wave_stage_dir(src, 4)
    assert len(glob.glob(os.path.join(stage, "wave-*.parquet"))) == 4
    # later waves genuinely revisit — decisions that require state
    # written by earlier micro-batches
    assert all(want[c].n_revisit > 0 for c in (1, 2, 3))
