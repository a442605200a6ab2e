"""bench.py's JSON line: every lane it times resolves, and the 4,096-doc
extraction corpus it fingerprints is still the pinned one."""

from __future__ import annotations

import json
import os

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# BENCH/corpus_manifest.json's corpus_md5: the bench corpus's bytes
CORPUS_MD5 = "9fa2c93b4930e88898fb7f2f22e9b79d"


def test_every_bench_lane_resolves():
    import __spark_entry__ as ent

    qs = ent.queries()
    keys = ["scan_parquet", *bench.HEADLINE, *bench.EXTRAS, *bench.CC_TRIO]
    assert [k for k in keys if k not in qs] == []
    assert len(set(bench.EXTRAS)) == len(bench.EXTRAS)
    assert not set(bench.VARIANTS) & set(qs)
    assert all(callable(lane) for lane in bench.VARIANTS.values())


def test_bench_corpus_bytes_are_pinned(spark, tmp_path):
    from caraspark.corpus import synth_df

    with open(os.path.join(ROOT, "BENCH", "corpus_manifest.json")) as f:
        assert json.load(f) == {"n_docs": 4096, "corpus_md5": CORPUS_MD5}
    path = str(tmp_path / "corpus")
    synth_df(spark, 4096, include_giant=True).write.parquet(path)
    assert bench.corpus_fingerprint(spark, path) == CORPUS_MD5
