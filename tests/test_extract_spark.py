"""Spark-boundary tests for the extraction pipeline (SURVEY.md §5.2-5):
byte-identity through Arrow, and distribution invariance — identical results
regardless of partitioning."""

from __future__ import annotations

import pathlib
import random

import pytest

from caraspark.corpus import synth_df
from caraspark.extract import extract
from caraspark.synth import HTML_RECIPES, PDF_RECIPES

GOLDEN = pathlib.Path(__file__).parent / "golden"

N_DOCS = 64


@pytest.fixture(scope="module")
def extracted_rows(spark):
    # giants mode with threshold 0: every row takes the round-robin
    # exchange; the invariance tests below compare the narrow plan and a
    # mixed giants split against it — covering both plans AND
    # partitioning-independence
    df = extract(
        synth_df(spark, N_DOCS, partitions=8),
        num_partitions=8,
        salt="giants",
        giant_threshold=0,
    )
    rows = {r["url"]: r for r in df.collect()}
    assert len(rows) == N_DOCS
    return rows


def test_spark_matches_goldens(extracted_rows):
    """Every url's text through the full Spark pipeline == expected bytes:
    committed golden for PDFs (seed-free recipes); seed-matched local engine
    output for HTML (recipes vary with the per-doc rng)."""
    from caraspark.pdfengine import process_document

    checked = 0
    for url, row in extracted_rows.items():
        recipe = url.split("/")[-2]
        if recipe in HTML_RECIPES:
            idx = int(url.rsplit("/", 1)[1])
            blob = HTML_RECIPES[recipe](random.Random(f"42:{idx}"))
            expected = process_document(blob).text
        else:
            expected = (GOLDEN / recipe / "text.bin").read_bytes()
        got = bytes(row["text"]) if row["text"] is not None else b""
        assert got == expected, f"{url}: pipeline text != expected"
        checked += 1
    assert checked == N_DOCS


def test_spark_matches_local_engine(extracted_rows):
    """Arrow plumbing adds nothing: pipeline verdicts == direct calls."""
    from caraspark.pdfengine import process_document

    for url, row in list(extracted_rows.items())[:16]:
        recipe = url.split("/")[-2]
        if recipe in HTML_RECIPES:
            idx = int(url.rsplit("/", 1)[1])
            blob = HTML_RECIPES[recipe](random.Random(f"42:{idx}"))
        else:
            blob = PDF_RECIPES[recipe]()
        r = process_document(blob)
        assert row["verdict"]["valid"] == r.valid
        assert row["verdict"]["strict"] == r.strict
        assert row["metrics"]["n_objects"] == r.n_objects
        assert [e["code"] for e in row["errors"]] == [e.code for e in r.errors]


def test_distribution_invariance(spark, extracted_rows):
    """The narrow plan over 3 input partitions vs the fixture's exchange
    over 8 input partitions: byte-identical per url."""
    df1 = extract(synth_df(spark, N_DOCS, partitions=3))
    rows1 = {r["url"]: r for r in df1.collect()}
    assert set(rows1) == set(extracted_rows)
    for url, a in rows1.items():
        b = extracted_rows[url]
        assert bytes(a["text"] or b"") == bytes(b["text"] or b"")
        assert a["verdict"] == b["verdict"]
        assert a["metrics"]["n_objects"] == b["metrics"]["n_objects"]
        assert [e["code"] for e in a["errors"]] == [e["code"] for e in b["errors"]]


def test_giants_mode_invariance(spark, extracted_rows):
    """salt="giants" (selective: only docs over the threshold shuffle)
    produces byte-identical results to the fixture's all-exchange
    reference rows — including docs that sit exactly at the routing
    boundary."""
    df = extract(
        synth_df(spark, N_DOCS, partitions=5),
        num_partitions=4,
        salt="giants",
        giant_threshold=600,  # mid-corpus: both branches get real traffic
    )
    rows = {r["url"]: r for r in df.collect()}
    assert set(rows) == set(extracted_rows)
    routed_giant = 0
    for url, a in rows.items():
        b = extracted_rows[url]
        assert bytes(a["text"] or b"") == bytes(b["text"] or b"")
        assert a["verdict"] == b["verdict"]
        assert [e["code"] for e in a["errors"]] == [e["code"] for e in b["errors"]]
        if a["lineage"]["salt"] >= 0:
            routed_giant += 1
    # both branches actually ran (narrow rows carry salt=-1)
    assert 0 < routed_giant < N_DOCS


def test_salt_accepts_only_false_or_giants(spark):
    df = synth_df(spark, 4, partitions=1)
    for bad in (True, "salted", None):
        with pytest.raises(ValueError, match="salt"):
            extract(df, salt=bad)


def test_lineage_populated(extracted_rows):
    pids = {r["lineage"]["partition_id"] for r in extracted_rows.values()}
    assert all(p >= 0 for p in pids)
    assert len(pids) > 1  # work actually spread over partitions
    salts = {r["lineage"]["salt"] for r in extracted_rows.values()}
    assert all(s >= 0 for s in salts)


def test_column_pruning_on_parquet(spark, tmp_path):
    """C1 scan discipline: once the corpus is parquet, a metadata-only query
    must NOT read the blob column (ReadSchema excludes `html`)."""
    out = str(tmp_path / "corpus")
    synth_df(spark, 16, partitions=2).write.mode("overwrite").parquet(out)
    q = spark.read.parquet(out).select("url", "lang")
    physical = q._jdf.queryExecution().executedPlan().toString()
    read_schema = physical.split("ReadSchema:")[-1].splitlines()[0]
    assert "html" not in read_schema
    assert q.count() == 16


def test_quarter_million_docs_extract_without_oom(spark):
    """Memory regression guard: 250k docs incl. giant skew docs must flow
    through the byte-budgeted Arrow batches on a small local session."""
    from caraspark.corpus import synth_df
    from caraspark.extract import extract

    df = synth_df(spark, 250_000, include_giant=True)
    extract(df).write.format("noop").mode("overwrite").save()


def test_binaryfile_source_feeds_extract(spark, tmp_path):
    """S3: loose files on disk → binaryFile source → the same extract
    pipeline, byte-identical to processing the blobs directly."""
    from caraspark.corpus import from_binary_files
    from caraspark.pdfengine import process_document
    from caraspark.synth import PDF_RECIPES

    d = tmp_path / "loose" / "sub"
    d.mkdir(parents=True)
    names = ["pdf_minimal", "pdf_flate", "pdf_lzw", "pdf_xrefstream"]
    for n in names:
        (d / f"{n}.pdf").write_bytes(PDF_RECIPES[n]())

    df = from_binary_files(spark, str(tmp_path / "loose"))
    out = {r["url"].rsplit("/", 1)[1]: r for r in extract(df).collect()}
    assert len(out) == len(names)
    for n in names:
        expected = process_document(PDF_RECIPES[n]()).text
        assert bytes(out[f"{n}.pdf"]["text"]) == expected
        assert out[f"{n}.pdf"]["verdict"]["valid"]


def test_want_text_false_stats_only_path(spark):
    """Projection pushdown THROUGH the operator: want=() skips text
    assembly (text IS NULL for every row) while structural metrics match
    the full run exactly."""
    full = {
        r["url"]: r
        for r in extract(synth_df(spark, 90, partitions=4)).collect()
    }
    stats = {
        r["url"]: r
        for r in extract(
            synth_df(spark, 90, partitions=4), want=()
        ).collect()
    }
    assert set(full) == set(stats)
    for url, s in stats.items():
        assert s["text"] is None
        f = full[url]
        assert s["metrics"]["n_objects"] == f["metrics"]["n_objects"]
        assert s["metrics"]["bytes_in"] == f["metrics"]["bytes_in"]
        assert s["kind"] == f["kind"]
        assert s["flags"] == f["flags"]
        # verdict must agree between modes for EVERY doc kind (regression:
        # want=() used to add html.no_content to every HTML doc and
        # flip strict=False); the VALIDATION error taxonomy must agree too —
        # stats mode may only lack extraction-phase ``extract.*`` warnings,
        # which by contract never affect the verdict
        assert s["verdict"] == f["verdict"], url
        s_errs = [(e["code"], e["pos"]) for e in (s["errors"] or [])]
        f_errs = [
            (e["code"], e["pos"])
            for e in (f["errors"] or [])
            if not e["code"].startswith("extract.")
        ]
        assert not any(c.startswith("extract.") for c, _ in s_errs), url
        assert s_errs == f_errs, url
    assert any(s["kind"] == "html" for s in stats.values())


def test_extracted_schema_is_the_one_declaration():
    """EXTRACTED is pinned, the UDF's Arrow schema round-trips to it, and
    the surface table covers exactly its surface columns."""
    import hashlib

    from pyspark.sql.pandas.types import from_arrow_schema

    from caraspark.extract import _ARROW_SCHEMA
    from caraspark.schemas import EXTRACTED, SURFACE_COLUMNS

    assert (
        hashlib.sha256(EXTRACTED.json().encode()).hexdigest()
        == "dd093f5af4663773955e9c907f16a1376d5173e99951af39a16171098f2f46d9"
    )
    assert from_arrow_schema(_ARROW_SCHEMA, prefer_timestamp_ntz=True) == EXTRACTED
    surface_cols = [c for cols in SURFACE_COLUMNS.values() for c in cols]
    always = {"url", "warc_ts", "verdict", "kind", "errors", "metrics",
              "flags", "version", "lineage"}
    assert len(surface_cols) == len(set(surface_cols))
    assert set(surface_cols) == set(EXTRACTED.names) - always


def test_want_surface_projection_parity(spark):
    """want=(surfaces,) mode-parity: every requested surface is byte-equal
    to the full run's value, every unrequested one is NULL, and the verdict
    is want-invariant. This is the engine-side analogue of column pruning —
    Catalyst can't see inside the UDF, so the prune must be correct here."""
    full = {
        r["url"]: r
        for r in extract(synth_df(spark, 90, partitions=4)).collect()
    }
    surfaces = ("title", "headings")
    part = {
        r["url"]: r
        for r in extract(
            synth_df(spark, 90, partitions=4), want=surfaces
        ).collect()
    }
    assert set(full) == set(part)
    for url, p in part.items():
        f = full[url]
        assert p["title"] == f["title"], url
        assert p["headings"] == f["headings"], url
        for nulled in ("text", "spans", "outlinks", "canonical",
                       "description"):
            assert p[nulled] is None, (url, nulled)
        assert p["verdict"] == f["verdict"], url
        assert p["metrics"]["n_objects"] == f["metrics"]["n_objects"]
    # headmeta alias expands to title+canonical+description
    hm = {
        r["url"]: r
        for r in extract(
            synth_df(spark, 16, partitions=2), want=("headmeta",)
        ).collect()
    }
    for url, p in hm.items():
        f = full.get(url)
        if f is None:
            continue
        assert p["title"] == f["title"]
        assert p["canonical"] == f["canonical"]
        assert p["description"] == f["description"]
        assert p["text"] is None and p["spans"] is None


def test_want_text_only_matches_full_text(spark):
    """A text-only consumer gets byte-identical text to the full run (the
    north-rule invariant survives the pushdown) with spans/outlinks NULL."""
    full = {
        r["url"]: bytes(r["text"]) if r["text"] is not None else None
        for r in extract(synth_df(spark, 90, partitions=4)).collect()
    }
    only = {
        r["url"]: r
        for r in extract(
            synth_df(spark, 90, partitions=4), want=("text",)
        ).collect()
    }
    assert set(full) == set(only)
    for url, p in only.items():
        got = bytes(p["text"]) if p["text"] is not None else None
        assert got == full[url], url
        assert p["spans"] is None and p["outlinks"] is None


def test_want_unknown_surface_raises(spark):
    import pytest as _pytest

    from caraspark.pdfengine.api import normalize_want

    with _pytest.raises(ValueError):
        normalize_want(("text", "tittle"))
    assert normalize_want(()) == frozenset()
    assert "canonical" in normalize_want(("headmeta",))


def test_html_has_content_matches_full_extraction():
    """The early-exit probe must agree with bool(extract_html_text) on
    every HTML recipe plus edge inputs — mode-invariant verdicts depend on
    this equivalence."""
    import random

    from caraspark.htmlengine import extract_html_text, html_has_content
    from caraspark.synth import HTML_RECIPES

    cases = [b"", b"<html></html>", b"not html at all", b"\xff\xfe\x00"]
    for name, fn in sorted(HTML_RECIPES.items()):
        for seed in range(5):
            cases.append(fn(random.Random(f"probe:{name}:{seed}")))
    for blob in cases:
        assert html_has_content(blob) == bool(extract_html_text(blob)), blob[:60]


def test_giants_nbytes_col_routing(spark, tmp_path, extracted_rows):
    """Stored-nbytes routing (ingest size layout): extract with
    nbytes_col over a range-clustered corpus is byte-identical to the
    fixture's all-exchange reference, both branch filters PUSH to the
    parquet scan (row-group stats prune the other branch's bytes — no
    second blob-column decode), and the routing column never crosses the
    Arrow boundary into the UDF."""
    from caraspark.corpus import synth_df, write_size_layout
    from caraspark.extract import extract

    path = str(tmp_path / "sized_corpus")
    write_size_layout(synth_df(spark, N_DOCS, partitions=5), path)
    df = spark.read.parquet(path)
    assert "nbytes" in df.columns
    out = extract(
        df,
        num_partitions=4,
        salt="giants",
        giant_threshold=600,
        nbytes_col="nbytes",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # both branch scans carry a pushed nbytes predicate
    import re

    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    with_nbytes = [p for p in pushed if "nbytes" in p]
    assert len(with_nbytes) >= 2, plan
    rows = {r["url"]: r for r in out.collect()}
    assert set(rows) == set(extracted_rows)
    routed_giant = 0
    for url, a in rows.items():
        b = extracted_rows[url]
        assert bytes(a["text"] or b"") == bytes(b["text"] or b"")
        assert a["verdict"] == b["verdict"]
        assert [e["code"] for e in a["errors"]] == [
            e["code"] for e in b["errors"]
        ]
        if a["lineage"]["salt"] >= 0:
            routed_giant += 1
    assert 0 < routed_giant < N_DOCS
