"""In-process engine pass: the workload's rows through ``extract._extract_batches``
with no Spark, as the single-process baseline of the traced run.

The rows go in as Arrow batches of ``session.ARROW_BATCH_ROWS`` (what
Spark hands a Python worker), and every output row is digested with
``perfbench.check``.
"""

from __future__ import annotations

import hashlib
import time

import pyarrow as pa

from perfbench.check import doc_digest, outcome

INPUT_COLUMNS = ("url", "warc_ts", "html")


def batches(table: pa.Table, rows: int) -> list[pa.RecordBatch]:
    return table.select(list(INPUT_COLUMNS)).to_batches(max_chunksize=rows)


def batch_digests(batch: pa.RecordBatch) -> list[tuple[str, str]]:
    cols = [batch.column(c).to_pylist() for c in ("url", "kind", "text", "verdict", "errors")]
    return [
        (u, doc_digest(k, None if t is None else hashlib.sha256(t).hexdigest(), outcome(v, e)))
        for u, k, t, v, e in zip(*cols)
    ]


def run(inputs: list[pa.RecordBatch], want, on_batch=None) -> tuple[float, list[pa.RecordBatch]]:
    """(seconds inside ``_extract_batches``, output batches). ``on_batch``
    is called around each step of the generator, for tracing."""
    from caraspark.extract import _extract_batches
    from caraspark.pdfengine.api import normalize_want

    gen = _extract_batches(iter(inputs), want=normalize_want(want))
    out, busy = [], 0.0
    while True:
        t0 = time.perf_counter()
        try:
            if on_batch is None:
                b = next(gen)
            else:
                with on_batch():
                    b = next(gen)
        except StopIteration:
            busy += time.perf_counter() - t0
            return busy, out
        busy += time.perf_counter() - t0
        out.append(b)
