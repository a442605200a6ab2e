"""Hardware scaling ceiling probe (no Spark).

Runs the SAME per-document work as the extract job (pdfengine
process_document over the bench corpus) via bare multiprocessing, 8
pinned workers vs 32, and reports the throughput ratio / 4.

This is the ceiling any framework can reach for this workload on this
VM at this moment: embarrassingly parallel, zero coordination, zero
serialization. The gap between 1.0 and this number is machine physics
(all-core memory bandwidth, turbo headroom, co-tenant steal) — NOT
software overhead — so BENCH/BASELINE.md reports the Spark job's
efficiency both raw and as a fraction of this ceiling. The ceiling
moves run-to-run on a shared VM; always pair the two measurements from
the same session.

Usage: python tools/hw_probe.py [corpus_dir] [docs_per_worker]
Prints one JSON line: {"hw_eff": ..., "dps8": ..., "dps32": ...}
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CORPUS = "/tmp/caraspark_bench/corpus"


def _load_blobs(corpus: str, n: int) -> list[bytes]:
    import pyarrow.dataset as ds

    blobs = []
    for batch in ds.dataset(corpus, format="parquet").to_batches(
        columns=["html"], batch_size=4096
    ):
        blobs.extend(batch.column("html").to_pylist())
        if len(blobs) >= n:
            break
    return blobs[:n]


def _worker(args):
    blobs, cpu_set = args
    if cpu_set:
        os.sched_setaffinity(0, cpu_set)
    from caraspark.pdfengine import process_document

    t0 = time.time()
    for b in blobs:
        process_document(b if b is not None else b"")
    return len(blobs), time.time() - t0


def run(nproc: int, blobs: list[bytes], cpus: list[int]) -> float:
    """Aggregate docs/s with nproc pinned workers; 1 warmup + best of 3."""
    chunks = [(blobs, set(cpus))] * nproc
    best = None
    with mp.Pool(nproc) as pool:
        for rep in range(4):
            t0 = time.time()
            res = pool.map(_worker, chunks)
            wall = time.time() - t0
            dps = sum(r[0] for r in res) / wall
            if rep > 0:
                best = dps if best is None else max(best, dps)
    return best


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 else CORPUS
    per_worker = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
    blobs = _load_blobs(corpus, per_worker)
    dps8 = run(8, blobs, list(range(8)))
    dps32 = run(32, blobs, list(range(32)))
    out = {
        "metric": "hw_scaling_ceiling_8_to_32",
        "hw_eff": round((dps32 / dps8) / 4, 3),
        "dps8": round(dps8, 1),
        "dps32": round(dps32, 1),
        "docs_per_worker": per_worker,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
