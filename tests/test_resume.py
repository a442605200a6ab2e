"""Resume-after-kill test (SURVEY.md §5.2-6): crash mid-job, rerun, assert
the final table is byte-identical to an uninterrupted run with no
double-writes."""

from __future__ import annotations

from jobs.extract_job import read_extracted, run_job

N_DOCS = 96
UNITS = 8


def _table_fingerprint(df):
    rows = sorted(
        (r["url"], bytes(r["text"] or b""), r["verdict"]["valid"])
        for r in df.select("url", "text", "verdict").collect()
    )
    return rows


def test_resume_after_kill(spark, tmp_path):
    full_dir = str(tmp_path / "full")
    crash_dir = str(tmp_path / "crash")

    # uninterrupted reference run
    stats = run_job(spark, None, full_dir, units=UNITS, unit_chunk=2,
                    synth_docs=N_DOCS)
    assert not stats["crashed"] and stats["units_done"] == UNITS
    ref = _table_fingerprint(read_extracted(spark, full_dir))
    assert len(ref) == N_DOCS

    # crash after 2 of 4 chunks, then resume
    s1 = run_job(spark, None, crash_dir, units=UNITS, unit_chunk=2,
                 synth_docs=N_DOCS, fail_after_chunks=2)
    assert s1["crashed"]
    partial = read_extracted(spark, crash_dir).count()
    assert 0 < partial < N_DOCS  # snapshot shows only committed units

    s2 = run_job(spark, None, crash_dir, units=UNITS, unit_chunk=2,
                 synth_docs=N_DOCS)
    assert not s2["crashed"]
    got = _table_fingerprint(read_extracted(spark, crash_dir))
    assert got == ref  # byte-identical, no dupes, no holes


def test_rerun_is_noop(spark, tmp_path):
    out = str(tmp_path / "t")
    run_job(spark, None, out, units=4, unit_chunk=4, synth_docs=32)
    stats = run_job(spark, None, out, units=4, unit_chunk=4, synth_docs=32)
    assert stats["chunks"] == 0  # nothing left to plan
    assert read_extracted(spark, out).count() == 32


def test_snapshot_time_travel(spark, tmp_path):
    """Every snapshot in the chain stays readable: an earlier snapshot id
    yields exactly the rows committed at that point (Iceberg-style)."""
    out = str(tmp_path / "tt")
    run_job(spark, None, out, units=8, unit_chunk=4, synth_docs=400)
    from caraspark.manifest import SnapshotManifest

    man = SnapshotManifest(out)
    sids = man.snapshots()
    assert len(sids) >= 2  # 8 units / chunk 4 → ≥2 commits
    n_prev = read_extracted(spark, out, snapshot_id=sids[0]).count()
    n_cur = read_extracted(spark, out).count()
    assert 0 < n_prev < n_cur == 400
    # unit sets are monotone along the chain
    assert man.committed_units(sids[0]) < man.committed_units(sids[-1])


def test_rollback_and_expire(spark, tmp_path):
    """Rollback publishes a new snapshot with an ancestor's unit set (readers
    flip atomically); expire_snapshots drops old history and GCs data
    buckets nothing retained references."""
    import os

    from caraspark.manifest import SnapshotManifest

    out = str(tmp_path / "tbl")
    run_job(spark, None, out, units=UNITS, unit_chunk=2, synth_docs=N_DOCS)
    from caraspark.manifest import SnapshotManifest

    man = SnapshotManifest(out)
    sids = man.snapshots()
    assert len(sids) == 4  # 8 units / chunk 2

    n_first = read_extracted(spark, out, snapshot_id=sids[0]).count()
    n_cur = read_extracted(spark, out).count()
    assert 0 < n_first < n_cur == N_DOCS

    # rollback to the first commit: new snapshot, old unit set
    snap = man.rollback(sids[0])
    assert snap["snapshot_id"] == sids[-1] + 1
    assert snap["rolled_back_to"] == sids[0]
    assert read_extracted(spark, out).count() == n_first
    assert man.snapshots() == sids + [snap["snapshot_id"]]

    # roll forward again (the full snapshot is still on the chain)
    man.rollback(sids[-1])
    assert read_extracted(spark, out).count() == N_DOCS

    # plant an orphan bucket (simulated crashed uncommitted attempt)
    orphan = os.path.join(out, "data", "gen=0", "bucket=99")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "w") as f:
        f.write("junk")

    # a stray non-integer dir must be reported, never deleted or fatal
    stray = os.path.join(out, "data", "gen=0", "bucket=__HIVE_DEFAULT_PARTITION__")
    os.makedirs(stray)

    # default age cutoff protects the fresh (concurrent-writer-shaped) orphan
    res = man.expire_snapshots(keep_last=1)
    assert "gen=0/bucket=99" in res["skipped_buckets"]
    assert os.path.exists(orphan)

    # explicit no-concurrent-writers mode GCs it
    res = man.expire_snapshots(keep_last=1, orphan_min_age_s=0)
    assert "gen=0/bucket=99" in res["orphan_buckets"]
    assert not os.path.exists(orphan)
    assert "gen=0/bucket=__HIVE_DEFAULT_PARTITION__" in res["skipped_buckets"]
    assert os.path.exists(stray)
    assert len(man.snapshots()) == 1  # only the live snapshot retained
    # the current view still reads everything
    assert read_extracted(spark, out).count() == N_DOCS


def test_expire_keeps_all_committed_buckets(spark, tmp_path):
    """GC must never delete a bucket the retained snapshot references."""
    import os

    from caraspark.manifest import SnapshotManifest

    out = str(tmp_path / "tbl2")
    run_job(spark, None, out, units=UNITS, unit_chunk=4, synth_docs=N_DOCS)
    from caraspark.manifest import SnapshotManifest

    man = SnapshotManifest(out)
    before = read_extracted(spark, out).count()
    res = man.expire_snapshots(keep_last=1, orphan_min_age_s=0)
    assert res["orphan_buckets"] == []
    assert read_extracted(spark, out).count() == before
    gen0 = os.path.join(out, "data", "gen=0")
    assert len([d for d in os.listdir(gen0) if d.startswith("bucket=")]) == UNITS


def test_compaction_preserves_data_and_reduces_files(spark, tmp_path):
    """compact_table rewrites fragmented buckets to one file each, commits
    a new snapshot, and leaves the readable table byte-identical."""
    from caraspark.maintenance import bucket_file_counts, compact_table

    out = str(tmp_path / "tbl3")
    run_job(spark, None, out, units=4, unit_chunk=1, synth_docs=N_DOCS)
    before_counts = bucket_file_counts(out)
    assert any(n > 1 for n in before_counts.values()), before_counts
    ref = _table_fingerprint(read_extracted(spark, out))

    res = compact_table(spark, out)
    assert res["compacted_buckets"], res
    after_counts = bucket_file_counts(out)
    assert all(n == 1 for n in after_counts.values()), after_counts
    assert _table_fingerprint(read_extracted(spark, out)) == ref

    # second pass is a no-op and does not grow the snapshot chain
    from caraspark.manifest import SnapshotManifest

    sid = SnapshotManifest(out).current_snapshot()["snapshot_id"]
    res2 = compact_table(spark, out)
    assert res2["compacted_buckets"] == []
    assert SnapshotManifest(out).current_snapshot()["snapshot_id"] == sid

    # crash-durability: the rewrite landed in a NEW generation; the old
    # gen-0 files are still the durable copy for pre-compaction snapshots
    import os

    from caraspark.manifest import SnapshotManifest

    man = SnapshotManifest(out)
    gen_new = os.path.join(out, "data", f"gen={res['snapshot_id']}")
    assert os.path.isdir(gen_new)
    for u in res["compacted_buckets"]:
        assert os.path.isdir(os.path.join(out, "data", "gen=0", f"bucket={u}"))
    pre_sid = res["snapshot_id"] - 1
    assert _table_fingerprint(read_extracted(spark, out, snapshot_id=pre_sid)) == ref

    # expire drops pre-compaction history, then GC deletes the old copies
    man.expire_snapshots(keep_last=1, orphan_min_age_s=0)
    for u in res["compacted_buckets"]:
        assert not os.path.isdir(
            os.path.join(out, "data", "gen=0", f"bucket={u}")
        )
    assert _table_fingerprint(read_extracted(spark, out)) == ref


def test_chunk_scan_is_pruned(spark, tmp_path):
    """A chunk's input scan must read ONLY its own staged bucket
    directories — never the full corpus (the round-1 loop re-scanned the
    whole input once per chunk)."""
    import os

    from caraspark.corpus import synth_df
    from jobs.extract_job import chunk_input, stage_input

    stage = str(tmp_path / "stage")
    raw = synth_df(spark, 64)
    stage_input(spark, raw, stage, units=8)
    assert os.path.exists(os.path.join(stage, "_STAGED"))

    chunk = [1, 3]
    df = chunk_input(spark, stage, chunk)
    files = df.inputFiles()
    assert files, "chunk read no files"
    allowed = {f"bucket={u}" for u in chunk}
    for f in files:
        part = next(p for p in f.split(os.sep) if p.startswith("bucket="))
        assert part in allowed, f"scan leaked outside the chunk: {f}"
    # staging is reused, not rewritten, on resume
    mtime = os.path.getmtime(os.path.join(stage, "_STAGED"))
    stage_input(spark, raw, stage, units=8)
    assert os.path.getmtime(os.path.join(stage, "_STAGED")) == mtime


def test_sparse_corpus_with_empty_chunks(spark, tmp_path):
    """units >> docs: chunks whose buckets all received zero rows must
    commit as empty, not crash (zero parquet paths used to raise
    UNABLE_TO_INFER_SCHEMA)."""
    out = str(tmp_path / "sparse")
    stats = run_job(spark, None, out, units=64, unit_chunk=16, synth_docs=16)
    assert not stats["crashed"] and stats["units_done"] == 64
    assert read_extracted(spark, out).count() == 16


def test_restage_clears_stale_buckets(spark, tmp_path):
    """A unit-count change must fully rebuild the stage: under dynamic
    partition overwrite, old-hash bucket dirs that receive no rows would
    otherwise survive and be read as chunk input."""
    import os

    from caraspark.corpus import synth_df
    from jobs.extract_job import stage_input

    # the job sets dynamic overwrite; pin it here so the test is
    # meaningful in isolation (static mode would wipe the stage anyway)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    stage = str(tmp_path / "stage")
    raw = synth_df(spark, 64)
    stage_input(spark, raw, stage, units=16)
    before = {d for d in os.listdir(stage) if d.startswith("bucket=")}
    assert before
    stage_input(spark, raw, stage, units=4)
    after = {d for d in os.listdir(stage) if d.startswith("bucket=")}
    assert all(int(d.split("=")[1]) < 4 for d in after), after
    with open(os.path.join(stage, "_STAGED")) as f:
        assert f.read().strip() == "4"


def test_restage_after_marker_crash(spark, tmp_path):
    """A staging run that crashed between the parquet write and the marker
    write must be fully rebuilt, not merged with (dynamic overwrite keeps
    old bucket dirs that receive no new rows → double reads)."""
    import os

    from caraspark.corpus import synth_df
    from jobs.extract_job import chunk_input, stage_input

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    stage = str(tmp_path / "stage")
    raw = synth_df(spark, 16)
    stage_input(spark, raw, stage, units=4)
    os.remove(os.path.join(stage, "_STAGED"))  # simulate the crash window
    stage_input(spark, raw, stage, units=64)
    total = sum(
        chunk_input(spark, stage, list(range(i, i + 16))).count()
        for i in range(0, 64, 16)
    )
    assert total == 16  # no doc read twice


def test_manifest_segments_bound_commit_cost(tmp_path):
    """A long chain writes O(new units) per commit: every snapshot's
    segment list stays within the compaction threshold, the newest
    commit's own segment holds only its new units, and the resolved map
    equals naive accumulation with later commits shadowing earlier."""
    import json
    import os

    from caraspark.manifest import SEGMENT_COMPACT_THRESHOLD, SnapshotManifest

    man = SnapshotManifest(str(tmp_path / "tbl"))
    naive: dict[str, dict] = {}
    for i in range(3 * SEGMENT_COMPACT_THRESHOLD + 5):
        new = {i: {"rows": i}, 0: {"rows": -i}}  # unit 0 re-commits forever
        man.commit(new)
        naive.update({str(k): m for k, m in new.items()})
        snap = man.current_snapshot()
        assert len(snap["segments"]) <= SEGMENT_COMPACT_THRESHOLD
        # the commit's own segment carries ONLY the new units — except on
        # the periodic fold commit, whose last segment is the merged map
        if "merged" not in snap["segments"][-1]:
            own = json.load(
                open(os.path.join(man.mdir, snap["segments"][-1]))
            )
            assert len(own) <= len(new)
    assert man.units_map() == naive  # shadowing: latest meta wins
    assert man.units_map()["0"] == {"rows": -(3 * SEGMENT_COMPACT_THRESHOLD + 4)}


def test_manifest_legacy_inline_units_fold(tmp_path):
    """A legacy snapshot with an inline units map reads through units_map
    and folds into a segment on the next commit; rollback to it works."""
    import json
    import os

    from caraspark.manifest import SnapshotManifest

    man = SnapshotManifest(str(tmp_path / "tbl"))
    legacy = {
        "snapshot_id": 1,
        "parent": None,
        "committed_at": 0.0,
        "units": {"3": {"rows": 30}, "7": {"rows": 70}},
    }
    man._publish(legacy)
    assert man.committed_units() == {3, 7}
    man.commit({9: {"rows": 90}})
    snap = man.current_snapshot()
    assert "units" not in snap and len(snap["segments"]) == 2
    assert man.units_map() == {
        "3": {"rows": 30},
        "7": {"rows": 70},
        "9": {"rows": 90},
    }
    rb = man.rollback(1)
    assert man.committed_units(rb["snapshot_id"]) == {3, 7}


def test_expire_gcs_unreferenced_segments(tmp_path):
    """Segments only reachable from expired snapshots are deleted (age 0);
    every segment a retained snapshot references survives, and the
    retained unit map is intact afterwards."""
    import os

    from caraspark.manifest import SnapshotManifest

    man = SnapshotManifest(str(tmp_path / "tbl"))
    for i in range(20):
        man.commit({i: {"rows": i}})
    before = {
        n for n in os.listdir(man.mdir) if n.startswith("segment-")
    }
    res = man.expire_snapshots(
        keep_last=1, gc_orphans=False, orphan_min_age_s=0.0
    )
    assert res["expired_segments"], res
    kept = set(man.current_snapshot()["segments"])
    after = {n for n in os.listdir(man.mdir) if n.startswith("segment-")}
    assert kept <= after < before
    assert man.committed_units() == set(range(20))


def test_incremental_read_covers_chain_disjointly(spark, tmp_path):
    """Incremental reads between consecutive snapshots partition the final
    table: each slice is exactly the rows its commit added, slices are
    disjoint, and their union is the full snapshot-consistent view. A
    compaction rewrite surfaces the rewritten units as changed."""
    from caraspark.maintenance import compact_table
    from caraspark.manifest import SnapshotManifest
    from jobs.extract_job import read_incremental

    out = str(tmp_path / "inc")
    run_job(spark, None, out, units=8, unit_chunk=2, synth_docs=120)
    from caraspark.manifest import SnapshotManifest

    man = SnapshotManifest(out)
    sids = man.snapshots()
    assert len(sids) >= 3

    full = {r["url"] for r in read_extracted(spark, out).collect()}
    seen: set = set()
    prev = 0
    for sid in sids:
        inc = read_incremental(spark, out, prev, sid)
        urls = {r["url"] for r in inc.collect()}
        assert not (urls & seen), "incremental slices must be disjoint"
        seen |= urls
        prev = sid
    assert seen == full

    # nothing changed since the head → empty increment, but with the REAL
    # extracted schema (ADVICE r2: a consumer selecting text/verdict must
    # not crash only in the nothing-changed case)
    empty = read_incremental(spark, out, sids[-1])
    assert empty.count() == 0
    full_cols = set(read_extracted(spark, out).columns)
    assert set(empty.columns) == full_cols
    assert empty.select("text", "verdict.valid").count() == 0

    # unknown snapshot ids error loudly instead of silently reading
    # nothing / everything (Iceberg posture)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown from_snapshot_id"):
        read_incremental(spark, out, 987654)
    with _pytest.raises(ValueError, match="unknown to_snapshot_id"):
        read_incremental(spark, out, sids[0], 987654)

    # a compaction commit reports the rewritten units as changed
    res = compact_table(spark, out)
    if res["compacted_buckets"]:
        inc = read_incremental(spark, out, sids[-1])
        got = {r["url"] for r in inc.collect()}
        assert got  # rewritten buckets resurface
        assert got <= full  # but only with already-known rows
        # and the full view is unchanged by the rewrite
        assert {r["url"] for r in read_extracted(spark, out).collect()} == full


def test_wet_wat_offramps_roundtrip(spark, tmp_path):
    """The job's --wet/--wat off-ramps: the snapshot's text and metadata
    serialize to WARC conversion/metadata records that parse back with
    byte-identical payloads per url."""
    from caraspark.warc import parse_warc, wat_sink_df, wet_sink_df

    out = str(tmp_path / "tbl")
    run_job(spark, None, out, units=4, unit_chunk=4, synth_docs=48)
    snap = read_extracted(spark, out)
    expected = {
        r["url"]: (r["text"] or b"")
        for r in snap.select("url", "text").collect()
    }

    wet = wet_sink_df(snap.select("url", "text"), partitions=2)
    got = {}
    for row in wet.collect():
        for rec in parse_warc(bytes(row["warc"])):
            if rec["rec_type"] == "conversion":
                got[rec["url"]] = rec["payload"]
    assert got == expected

    wat = wat_sink_df(
        snap.select("url", "title", "outlinks"), partitions=2
    )
    meta = {
        r["url"]: (r["title"], list(r["outlinks"] or []))
        for r in snap.select("url", "title", "outlinks").collect()
    }
    seen = set()
    for row in wat.collect():
        for rec in parse_warc(bytes(row["warc"])):
            if rec["rec_type"] != "metadata":
                continue
            t, links = meta[rec["url"]]
            body = rec["payload"].decode("utf-8")
            assert body.startswith('{"links":[')
            assert f'"title":"{t or ""}"' in body
            for ln in links:
                assert f'"{ln}"' in body
            seen.add(rec["url"])
    assert seen == set(meta)


def test_honor_robots_drops_noindex_before_commit(spark, tmp_path):
    """--honor-robots: pages declaring noindex never reach the snapshot;
    the run reports the dropped count; compliant pages are unaffected."""
    import pyspark.sql.functions as F

    from caraspark.schemas import DOCUMENTS_RAW

    rows = []
    for i in range(24):
        directive = "noindex,nofollow" if i % 3 == 0 else "index, follow"
        html = (
            f"<html><head><meta name='robots' content='{directive}'>"
            f"</head><body><p>doc {i} body text</p></body></html>"
        ).encode()
        rows.append((f"u{i}", None, html, None, "en"))
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, DOCUMENTS_RAW).write.parquet(src)
    out = str(tmp_path / "tbl")
    stats = run_job(spark, src, out, units=4, unit_chunk=4,
                    honor_robots=True)
    assert stats["noindex_dropped"] == 8
    snap = read_extracted(spark, out)
    assert snap.count() == 16
    assert snap.filter(
        F.col("robots_meta").contains("noindex")
    ).count() == 0


def test_min_quality_gates_snapshot_commit(spark, tmp_path):
    """--min-quality: rows scoring below the shared quality-classifier
    threshold (and empty-text rows) never reach the snapshot; every
    committed row re-scores at/above the threshold; the run reports the
    dropped count."""
    import pyspark.sql.functions as F

    from caraspark.curation import quality_features
    from caraspark.schemas import DOCUMENTS_RAW

    rows = []
    for i in range(24):
        if i % 4 == 0:  # digit/uppercase-heavy junk the classifier rejects
            body = "1234 5678 90AB CDEF " * 6
        else:  # stopword-rich plain prose it keeps
            body = ("the and of to a in that it is was " * 5) + f"doc {i}"
        html = f"<html><body><p>{body}</p></body></html>".encode()
        rows.append((f"u{i}", None, html, None, "en"))
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, DOCUMENTS_RAW).write.parquet(src)
    out = str(tmp_path / "tbl")
    threshold = 0
    stats = run_job(spark, src, out, units=4, unit_chunk=4,
                    min_quality=threshold)
    snap = read_extracted(spark, out)
    n_kept = snap.count()
    assert stats["filtered_dropped"] == 24 - n_kept
    assert 0 < n_kept < 24
    rescored = quality_features(
        snap.select(F.col("url").alias("doc_id"), "text")
    )
    assert rescored.filter(F.col("score") < threshold).count() == 0


def test_read_extracted_schema_evolution_old_snapshot(spark, tmp_path):
    """A snapshot written BEFORE a surface column existed must still read
    under the grown schema: the missing columns come back NULL instead of
    crashing consumers that select them."""
    import pyspark.sql.functions as F

    out = str(tmp_path / "tbl")
    stats = run_job(spark, None, out, units=4, unit_chunk=4, synth_docs=24)
    assert not stats["crashed"]
    # simulate an old-era bucket: rewrite bucket files without the two
    # newest surface columns (as a pre-v16 engine would have written)
    snap = read_extracted(spark, out)
    old_cols = [
        c for c in snap.columns
        if c not in ("refresh_meta", "base_href", "bucket")
    ]
    from caraspark.manifest import SnapshotManifest

    man = SnapshotManifest(out)
    victim = man.unit_paths()[0]
    old_rows = (
        spark.read.parquet(victim).select(*old_cols).collect()
    )
    old_schema = spark.read.parquet(victim).select(*old_cols).schema
    import shutil

    shutil.rmtree(victim)
    spark.createDataFrame(old_rows, old_schema).write.parquet(victim)
    evolved = read_extracted(spark, out)
    got = evolved.select("url", "refresh_meta", "base_href", "text")
    rows = got.collect()
    assert len(rows) == 24
    assert all(r.refresh_meta is None or isinstance(r.refresh_meta, str)
               for r in rows)
    # every row from the rewritten bucket reads NULL for the new columns
    n_old = spark.read.parquet(victim).count()
    n_null = evolved.filter(
        F.col("refresh_meta").isNull() & F.col("base_href").isNull()
    ).count()
    assert n_null >= n_old > 0


def test_frontier_offramp_resolves_outlinks(spark, tmp_path):
    """--frontier: the snapshot's outlinks come back as absolute URLs
    resolved base-aware against each page, with host shard keys."""
    import pyspark.sql.functions as F

    from caraspark.schemas import DOCUMENTS_RAW
    from jobs.extract_job import frontier_df

    rows = []
    for i in range(12):
        base = "<base href='/Sub/'>" if i % 2 == 0 else ""
        html = (
            f"<html><head>{base}</head><body>"
            f"<p>doc {i}</p><a href='next{i}.html'>n</a>"
            f"<a href='https://hub.example/t'>hub</a></body></html>"
        ).encode()
        rows.append((f"https://s{i % 3}.example/d/p{i}.html",
                     None, html, None, "en"))
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, DOCUMENTS_RAW).write.parquet(src)
    out = str(tmp_path / "tbl")
    stats = run_job(spark, src, out, units=4, unit_chunk=4)
    assert not stats["crashed"]
    got = {
        (r.url, r.href): (r.abs_url, r.host)
        for r in frontier_df(read_extracted(spark, out)).collect()
    }
    assert len(got) == 24
    for i in range(12):
        url = f"https://s{i % 3}.example/d/p{i}.html"
        want_rel = (
            f"https://s{i % 3}.example/Sub/next{i}.html"
            if i % 2 == 0
            else f"https://s{i % 3}.example/d/next{i}.html"
        )
        assert got[(url, f"next{i}.html")] == (
            want_rel, f"s{i % 3}.example"
        ), i
        assert got[(url, "https://hub.example/t")] == (
            "https://hub.example/t", "hub.example"
        )


def test_compaction_upgrades_old_era_buckets(spark, tmp_path):
    """Compacting a bucket written before a surface column existed must
    rewrite it under the current schema (NULL surface columns), not
    inherit the old file's schema."""
    from caraspark.maintenance import compact_table
    from caraspark.manifest import SnapshotManifest

    out = str(tmp_path / "tbl")
    stats = run_job(spark, None, out, units=4, unit_chunk=2, synth_docs=16)
    assert not stats["crashed"]
    man = SnapshotManifest(out)
    victim = man.unit_paths()[0]
    # rewrite the bucket as an OLD-era fragment pair (no newest columns,
    # two files → fragmented, so compaction picks it up)
    old = spark.read.parquet(victim).drop("refresh_meta", "base_href")
    rows, schema = old.collect(), old.schema
    import shutil

    shutil.rmtree(victim)
    spark.createDataFrame(rows, schema).repartition(2).write.parquet(victim)
    res = compact_table(spark, out)
    assert res["compacted_buckets"]
    snap = read_extracted(spark, out)
    assert snap.count() == 16
    assert "refresh_meta" in snap.columns and "base_href" in snap.columns


def test_upsert_recrawl_merges_by_url(spark, tmp_path):
    """Re-crawl MERGE: a re-fetched url replaces its old row, a new url
    appends, the latest fetch wins inside the batch, untouched buckets
    keep their generation (never rewritten), and the pre-upsert
    snapshot still time-travels to the old bytes."""
    import datetime

    from caraspark.manifest import SnapshotManifest
    from jobs.extract_job import upsert_recrawl

    out = str(tmp_path / "t")
    run_job(spark, None, out, units=UNITS, unit_chunk=UNITS, synth_docs=32)
    before = {r.url: bytes(r.text or b"")
              for r in read_extracted(spark, out).select("url", "text").collect()}
    man = SnapshotManifest(out)
    snap0 = man.current_snapshot()["snapshot_id"]
    gens0 = {int(u): int((m or {}).get("gen", 0))
             for u, m in man.units_map().items()}

    target = sorted(before)[0]
    ts = datetime.datetime(2026, 8, 19, 12, 0, 0)
    batch = spark.createDataFrame(
        [
            (target, ts, b"<html><body><p>recrawled body</p></body></html>",
             None, "en"),
            ("https://new.example/page", ts,
             b"<html><body><p>brand new</p></body></html>", None, "en"),
            ("https://dup.example/page", ts - datetime.timedelta(days=1),
             b"<html><body><p>stale fetch</p></body></html>", None, "en"),
            ("https://dup.example/page", ts,
             b"<html><body><p>fresh fetch</p></body></html>", None, "en"),
        ],
        "url string, warc_ts timestamp_ntz, html binary, text string,"
        " lang string",
    )
    stats = upsert_recrawl(spark, out, batch, units=UNITS)
    assert stats["upserted"] == 3  # in-batch dup collapsed

    after = {r.url: bytes(r.text or b"")
             for r in read_extracted(spark, out).select("url", "text").collect()}
    assert len(after) == len(before) + 2
    assert after[target] == b"recrawled body"          # replaced, not duped
    assert after["https://new.example/page"] == b"brand new"
    assert after["https://dup.example/page"] == b"fresh fetch"
    for u, t in before.items():
        if u != target:
            assert after[u] == t                        # untouched rows intact

    # only touched buckets moved generation
    gens1 = {int(u): int((m or {}).get("gen", 0))
             for u, m in man.units_map().items()}
    touched = set(stats["touched_buckets"])
    for u, g in gens1.items():
        if u in touched:
            assert g == stats["snapshot_id"]
        else:
            assert g == gens0[u]

    # pre-upsert snapshot still reads the OLD bytes (reader isolation)
    old_view = {r.url: bytes(r.text or b"")
                for r in read_extracted(spark, out, snapshot_id=snap0)
                .select("url", "text").collect()}
    assert old_view == before


def test_snapshot_diff_after_upsert(spark, tmp_path):
    """CDC between snapshots: the upserted batch shows up as exactly one
    'changed' + the appended 'added' rows, nothing else; a compaction-only
    rewrite diffs to zero rows; unknown snapshot ids raise."""
    import datetime

    import pytest

    from caraspark.maintenance import compact_table
    from caraspark.manifest import SnapshotManifest
    from jobs.extract_job import snapshot_diff, upsert_recrawl

    out = str(tmp_path / "t")
    run_job(spark, None, out, units=UNITS, unit_chunk=UNITS, synth_docs=32)
    man = SnapshotManifest(out)
    snap0 = man.current_snapshot()["snapshot_id"]
    target = sorted(
        r.url for r in read_extracted(spark, out).select("url").collect()
    )[0]
    ts = datetime.datetime(2026, 8, 19, 12, 0, 0)
    batch = spark.createDataFrame(
        [
            (target, ts, b"<html><body><p>rewritten</p></body></html>",
             None, "en"),
            ("https://new.example/p", ts,
             b"<html><body><p>fresh page</p></body></html>", None, "en"),
        ],
        "url string, warc_ts timestamp_ntz, html binary, text string,"
        " lang string",
    )
    upsert_recrawl(spark, out, batch, units=UNITS)
    diff = {r.url: (r.change, bytes(r.text or b""))
            for r in snapshot_diff(spark, out, snap0).collect()}
    assert diff == {
        target: ("changed", b"rewritten"),
        "https://new.example/p": ("added", b"fresh page"),
    }
    # compaction-only rewrite: generations move, content doesn't
    snap1 = man.current_snapshot()["snapshot_id"]
    compact_table(spark, out)
    if man.current_snapshot()["snapshot_id"] != snap1:
        assert snapshot_diff(spark, out, snap1).count() == 0
    with pytest.raises(ValueError):
        snapshot_diff(spark, out, 9999)


def test_export_jsonl_roundtrip_and_determinism(spark, tmp_path):
    """JSONL off-ramp: every snapshot row survives the export (url set
    and text bytes round-trip through spark.read.json), shards are
    gzip'd, and re-exporting the same snapshot reproduces byte-identical
    payloads (stable sharding + in-shard sort + timestamp-free gzip)."""
    import glob
    import hashlib

    from jobs.extract_job import export_jsonl

    out = str(tmp_path / "t")
    run_job(spark, None, out, units=4, unit_chunk=4, synth_docs=24)
    snap = read_extracted(spark, out)
    want = {r.url: bytes(r.text or b"").decode("utf-8", "replace")
            for r in snap.select("url", "text").collect()}

    def export(d):
        export_jsonl(read_extracted(spark, out), d, partitions=3)
        files = sorted(glob.glob(d + "/part-*.gz"))
        assert files, "no gzip shards written"
        return {hashlib.md5(open(f, "rb").read()).hexdigest()
                for f in files}

    h1 = export(str(tmp_path / "j1"))
    got = {r.url: r.text or ""
           for r in spark.read.json(str(tmp_path / "j1")).collect()}
    assert got == want
    h2 = export(str(tmp_path / "j2"))
    assert h1 == h2


def test_snapshot_codec_is_zstd_by_default(spark, tmp_path):
    """The snapshot's parquet files are zstd-compressed by default (the
    right footprint/CPU trade for column-compressed text at corpus
    scale); a snappy run honors the override."""
    import glob

    out = str(tmp_path / "z")
    run_job(spark, None, out, units=2, unit_chunk=2, synth_docs=8)
    assert glob.glob(out + "/data/gen=0/bucket=*/*.zstd.parquet")
    out2 = str(tmp_path / "s")
    run_job(spark, None, out2, units=2, unit_chunk=2, synth_docs=8,
            codec="snappy")
    assert glob.glob(out2 + "/data/gen=0/bucket=*/*.snappy.parquet")


def test_compaction_sort_by_clusters_buckets(spark, tmp_path):
    """sort_by compaction: each rewritten bucket file is totally sorted
    on the cluster column (so parquet row-group min/max stats are tight
    and range predicates skip at scan time), the readable table is
    unchanged, and the committed units record the clustering."""
    import glob
    import os

    import pyarrow.parquet as pq

    from caraspark.maintenance import bucket_file_counts, compact_table
    from caraspark.manifest import SnapshotManifest

    out = str(tmp_path / "tbl_sorted")
    run_job(spark, None, out, units=4, unit_chunk=1, synth_docs=N_DOCS)
    ref = _table_fingerprint(read_extracted(spark, out))

    res = compact_table(spark, out, sort_by=["url"])
    assert res["compacted_buckets"], res
    assert all(n == 1 for n in bucket_file_counts(out).values())
    assert _table_fingerprint(read_extracted(spark, out)) == ref

    man = SnapshotManifest(out)
    units = man.units_map()
    assert all(
        units[str(u)]["sort_by"] == ["url"]
        for u in res["compacted_buckets"]
    ), units
    gen = res["snapshot_id"]
    files = glob.glob(
        os.path.join(out, "data", f"gen={gen}", "bucket=*", "*.parquet")
    )
    assert files
    for f in files:
        urls = pq.read_table(f, columns=["url"]).column("url").to_pylist()
        assert urls == sorted(urls), f
