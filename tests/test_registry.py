"""Guards on the driver registry window (__spark_entry__).

The driver verifies exactly the FIRST 50 registry entries per round, so
oracle-backed keys it has never verified must fill those 50 slots before any
key it has already seen.
"""

import glob
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import __spark_entry__ as ent  # noqa: E402

WINDOW = 50


def test_window_keys_all_have_oracles():
    # A window row without an oracle records a weak rows-only check — never
    # spend one of the 50 slots on that.
    merged = ent._merged()
    missing = [k for k in list(merged)[:WINDOW] if merged[k].sql is None]
    assert missing == []


def test_oracle_free_keys_sort_dead_last():
    # agg_approx (nondeterministic sketch) and partition_metrics (wall-clock
    # timing columns) are permanently oracle-free; each has a hash-verified
    # sibling. They must never occupy a driver window row.
    merged = list(ent._merged())
    free = [k for k, q in ent._merged().items() if q.sql is None]
    assert sorted(free) == ["agg_approx", "partition_metrics"]
    assert all(merged.index(k) >= len(merged) - len(free) for k in free)


def test_window_covers_every_driver_unseen_oracle_key():
    # While at least 50 oracle-backed keys have no driver row, the window
    # holds only such keys; once fewer remain, every one of them is in it.
    seen = set()
    for path in sorted(glob.glob(os.path.join(HERE, "CORRECTNESS_r*.json"))):
        with open(path, encoding="utf-8") as f:
            seen.update(json.load(f).keys())
    merged = ent._merged()
    unseen = {k for k, q in merged.items() if k not in seen and q.sql is not None}
    window = list(merged)[:WINDOW]
    if len(unseen) >= WINDOW:
        assert [k for k in window if k not in unseen] == []
    else:
        assert unseen <= set(window)


def test_every_query_key_has_callable_and_schema_free_name():
    qs = ent.queries()
    sql = ent.oracle_sql()
    assert set(sql) <= set(qs)
    assert len(qs) == len(ent._merged())


def test_every_qkey_output_schema_is_driver_canonicalizable(spark, sf_smoke):
    """Round-2 lost a driver window row because image_resize emitted an
    array column the driver canonicalizer could not hash (fixed in r3 by
    flattening to scalar rows). This guard makes that failure class
    impossible to reintroduce: every registered qkey's OUTPUT schema must
    be flat — no array/map/struct columns — so the driver's sort-columns-
    by-name + value-hash protocol can always canonicalize it. Complex
    types are fine INSIDE a plan (embeddings, token arrays, header maps);
    they must be flattened/exploded before the qkey returns."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    # Piggybacked registry-wide PLAN pin (same DataFrame construction, so
    # near-zero extra cost): no qkey's physical plan may contain a
    # CartesianProduct (every join must be equi/broadcast/banded — the
    # all-pairs scale-killer is structurally banned, incl. join_cross,
    # whose bounded build side plans as BroadcastNestedLoopJoin) or a
    # BatchEvalPython (row-at-a-time Python UDF — the hot-path slow lane;
    # Arrow-vectorized MapInArrow/FlatMapGroupsInPandas nodes are the
    # sanctioned Python boundary). One documented exception: udtf_objects
    # exists to cover the Python UDTF API itself (SURVEY §2 U6), and
    # Python UDTFs evaluate via BatchEvalPython by definition.
    PLAN_ALLOW = {"udtf_objects": {"BatchEvalPython"}}

    offenders = {}
    plan_offenders = {}
    for k, fn in ent.queries().items():
        df = fn(spark, sf_smoke)
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            offenders[k] = complex_cols
        plan = df._jdf.queryExecution().executedPlan().toString()
        marks = {
            m
            for m in ("CartesianProduct", "BatchEvalPython")
            if m in plan
        } - PLAN_ALLOW.get(k, set())
        if marks:
            plan_offenders[k] = sorted(marks)
    # one combined assert so a schema offender can't mask plan offenders
    assert (offenders, plan_offenders) == ({}, {})


def test_registering_a_name_twice_raises():
    # a silent overwrite would hide a qkey; each module's _q refuses it
    from caraspark import sidetables
    from caraspark.relational import registrar

    registry = {}
    _q = registrar(registry)
    _q("k", None)(lambda spark, sf: None)
    with pytest.raises(KeyError, match="duplicate qkey 'k'"):
        _q("k", "SELECT 1")(lambda spark, sf: None)
    assert registry["k"].sql is None
    with pytest.raises(KeyError, match="pdf_edges"):
        sidetables._q("pdf_edges", None)(lambda spark, sf: None)


def test_registry_size_is_pinned():
    # A pack that fails to import only prints to stderr and its keys drop
    # out, while the parity tests run over whatever remains: a stale
    # pdfacts_expected.py breaks sidetables' import and would take its
    # qkeys with it. Pin the counts so that shows.
    assert (len(ent.queries()), len(ent.oracle_sql())) == (400, 398)


def test_oracle_corpus_size_matches_the_spark_corpus(sf_smoke):
    # The oracles size the synth corpus from the customer table, the Spark
    # side from the scale in the directory name: both must agree at every
    # scale in the test data.
    from caraspark.corpus import corpus_rows_for_sf
    from caraspark.oracle_compare import duck_connection
    from caraspark.oracle_freeze import corpus_cte

    dirs = sorted(glob.glob(os.path.join(os.path.dirname(sf_smoke), "sf*")))
    assert dirs
    sql = f"WITH {corpus_cte()} SELECT count(*), max(idx) FROM docs"
    for sf_dir in dirs:
        with duck_connection(sf_dir) as con:
            n, last = con.execute(sql).fetchone()
        want = corpus_rows_for_sf(sf_dir)
        assert (n, last) == (want, want - 1), sf_dir


def test_a_stale_freeze_fails_its_oracles_not_the_import(monkeypatch):
    # A side table missing from pdfacts_expected.py, or frozen before it
    # gained a column, must not raise while the oracles are built: the
    # pack's import would fail, its qkeys drop out, and
    # tools/gen_pdfacts_expected.py (which imports it) could not
    # regenerate the freeze. DuckDB rejects the stale CTE instead, so
    # only the oracles that read it fail parity.
    import duckdb

    from caraspark import oracle_freeze

    stale = dict(oracle_freeze.SIDE_ROWS)
    del stale["ANNOTS"]
    stale["FONTS"] = [r[:-1] for r in stale["FONTS"]]
    assert stale["FONTS"]
    monkeypatch.setattr(oracle_freeze, "SIDE_ROWS", stale)
    con = duckdb.connect()
    for table in ("ANNOTS", "FONTS"):
        cte = oracle_freeze.frozen_cte("t", table)
        with pytest.raises(duckdb.Error):
            con.execute(f"WITH {cte} SELECT * FROM t")
    cte = oracle_freeze.frozen_cte("t", "PAGES")
    rows = con.execute(f"WITH {cte} SELECT * FROM t").fetchall()
    assert len(rows) == len(stale["PAGES"])
