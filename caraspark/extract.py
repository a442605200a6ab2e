"""The flagship extraction pipeline (SURVEY.md §3.2 EP1′, §4.3).

``extract(df)``: documents_raw → extracted, as ONE narrow mapInArrow stage —
the whole C2–C27 chain is per-document pure compute, so there is no shuffle
between parse stages; the only exchange is the giants plan's opt-in
round-robin repartition of the documents over a size threshold.

Scale design (the north_rule's "partitioning / shuffle / skew handled
explicitly"):

* **column pruning** — only (url, warc_ts, html) reach the UDF; `text`/`lang`
  never leave the parquet footer (check .explain: ReadSchema is 3 columns);
* **giants routing** — documents over a size threshold leave the narrow
  path and are dealt round-robin over the cluster, so a 1 GiB document
  never rides in a task with a cluster of other giants; everything else
  stays narrow;
* **byte-budgeted output batches** — the UDF re-chunks its output so one
  Arrow IPC message never exceeds ~64 MiB even when inputs are huge;
* **per-doc resource budgets** — parse depth/object caps inside the engine
  turn adversarial inputs into taxonomy rows, never hung executors.
"""

from __future__ import annotations

import functools
import os
from operator import attrgetter
from typing import Iterator

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from caraspark.schemas import EXTRACTED

OUTPUT_BATCH_BYTES = 64 * 1024 * 1024
# giants-branch round-robin slices per shuffle partition (see extract())
GIANT_FANOUT = 4

_ARROW_SCHEMA = to_arrow_schema(EXTRACTED, timestamp_utc=False)
# text stays large_binary (64-bit offsets): decoded text is not bounded by
# the input blob's size, so one batch may pass binary's 2 GiB limit
_ARROW_SCHEMA = _ARROW_SCHEMA.set(
    _ARROW_SCHEMA.get_field_index("text"),
    _ARROW_SCHEMA.field("text").with_type(pa.large_binary()),
)
# Output columns the UDF fills itself; every other one is read off the
# ExtractResult by ``_result_getter``.
_UDF_COLUMNS = ("url", "warc_ts", "errors", "lineage")


def _result_getter(f: pa.Field):
    """Reads output column ``f`` off an ExtractResult: the same-named
    attribute, or for a struct column the tuple of its fields'
    same-named attributes."""
    if pa.types.is_struct(f.type):
        return attrgetter(*(c.name for c in f.type))
    return attrgetter(f.name)


def _extract_batches(
    it: Iterator[pa.RecordBatch],
    want: frozenset = None,
) -> Iterator[pa.RecordBatch]:
    """The Arrow batch UDF: C2–C27 per blob, byte-budgeted output.

    Hot-loop discipline: columns in (one C-level ``to_pylist`` per column),
    columns out (one ``pa.array`` per field, structs as tuples) — never
    per-row Arrow scalars or row dicts; with ~0.4 ms of real work per
    document, per-row conversion overhead would otherwise dominate the
    profile.
    """
    # import inside the worker so the closure pickles only the module name
    from caraspark.pdfengine import process_document as _pd

    def process_document(blob):
        return _pd(blob, want=want)

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    attempt = ctx.attemptNumber() if ctx is not None else 0
    snapshot = os.environ.get("CARASPARK_SNAPSHOT")

    cols: dict[str, list] = {f.name: [] for f in _ARROW_SCHEMA}
    from_result = [
        (cols[f.name].append, _result_getter(f))
        for f in _ARROW_SCHEMA
        if f.name not in _UDF_COLUMNS
    ]
    pending = 0

    def flush():
        nonlocal pending
        if cols["url"]:
            arrays = [
                pa.array(cols[f.name], type=f.type) for f in _ARROW_SCHEMA
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=_ARROW_SCHEMA)
            for v in cols.values():
                v.clear()
            pending = 0

    for batch in it:
        urls = batch.column("url").to_pylist()
        tss = batch.column("warc_ts").to_pylist()
        blobs = batch.column("html").to_pylist()
        salts = (
            batch.column("salt").to_pylist()
            if "salt" in batch.schema.names
            else None
        )
        for i in range(batch.num_rows):
            blob = blobs[i]
            r = process_document(blob if blob is not None else b"")
            for append, get in from_result:
                append(get(r))
            cols["url"].append(urls[i])
            cols["warc_ts"].append(tss[i])
            cols["errors"].append(r.errors_as_rows())
            cols["lineage"].append(
                (pid, salts[i] if salts is not None else -1, attempt, snapshot)
            )
            pending += len(r.text or b"") + r.bytes_in // 4
            if pending >= OUTPUT_BATCH_BYTES:
                yield from flush()
    yield from flush()


def extract(
    df: DataFrame,
    num_partitions: int | None = None,
    salt: bool | str = False,
    giant_threshold: int = 4 << 20,
    want=None,
    nbytes_col: str | None = None,
) -> DataFrame:
    """documents_raw → extracted (EXTRACTED schema).

    ``want`` pushes the OUTPUT projection into the UDF: pass an iterable of
    surface names (``caraspark.schemas.SURFACE_COLUMNS``, plus the
    "headmeta" alias) and only those surfaces are assembled per document —
    the rest are NULL columns that never cross the Arrow boundary as data.
    ``want=None`` computes all 21 surfaces, ``want=()`` none (the
    stats-only mode, Caradoc's validate). Spark prunes INPUT
    columns at the scan for free; this is the matching engine-side prune
    for the computed surfaces, which Catalyst cannot see inside the UDF —
    a metadata-only consumer at 100 TB should not pay for text assembly,
    span materialization, or the outline walk on every document.

    Default is the NARROW plan: scan partitions feed mapInArrow directly —
    zero shuffle, scaling limited only by input splits (parquet scans split
    at spark.sql.files.maxPartitionBytes, so parallelism is already there).

    ``salt="giants"`` is the skew plan, for inputs whose physical layout
    clusters big documents (e.g. a crawl segment sorted by host): only
    documents ≥ ``giant_threshold`` bytes take an exchange — round-robin
    over ``num_partitions × GIANT_FANOUT`` slices (with few individually
    expensive rows the most-loaded task IS the wall; see the branch
    comment below for the exact balance guarantee) — everything else
    stays on the narrow zero-shuffle path, and the two branches union.
    At crawl-realistic skew (giants are a sub-percent tail of rows) this
    shuffles a sub-percent of bytes instead of all of them, while still
    guaranteeing no task inherits a cluster of giants from the input
    layout. Cost model vs shuffling every document at 100 TB: the blob
    column is scanned once per branch (each branch's filter discards the
    other's rows post-scan — `length(html)` cannot prune at the footer),
    so the giants plan trades one extra columnar scan for removing a
    100 TB shuffle (write + fetch + read); shuffle bytes drop to the
    giant tail only, and the small-doc branch keeps input locality.
    Giants-branch rows carry ``lineage.salt = hash(url) % 64``; narrow
    rows carry -1. Any other ``salt`` value raises ValueError.

    ``nbytes_col`` removes even that extra scan when the input table
    carries a stored byte-length column (our ingest layout job,
    ``corpus.write_size_layout``, writes one range-clustered by it): both
    branch filters become plain column predicates that push to the
    parquet scan, so row-group min/max stats route the bytes — the
    giants branch reads ONLY the giant row groups and the narrow branch
    skips exactly those. Routing uses the STORED column on both sides,
    so even a stale nbytes value can only mis-route a document between
    branches (a per-doc perf wobble), never drop or duplicate it.
    """
    from caraspark.pdfengine.api import normalize_want

    if salt not in (False, "giants"):
        raise ValueError(f"salt must be False or 'giants', got {salt!r}")
    udf = functools.partial(_extract_batches, want=normalize_want(want))
    cols = ["url", "warc_ts", "html"]
    if not salt:
        # routing column not needed on the narrow path — never select it
        return df.select(*cols).mapInArrow(udf, EXTRACTED)
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "64")
        )
    if nbytes_col is not None and nbytes_col not in cols:
        cols.append(nbytes_col)
    pruned = df.select(*cols)
    # routing predicates: the stored metadata column when the table has
    # one — kept as PLAIN column comparisons (a coalesce() wrapper
    # defeats parquet pushdown) so row-group stats prune at the footer;
    # NULL nbytes rows route to the giants branch via OR-IsNull (also
    # pushable), so the two filters partition the table exactly.
    # Without a stored column: computed length (decodes the blob column
    # in both branches — the documented extra-scan cost).
    if nbytes_col is not None:
        nb = F.col(nbytes_col)
        is_small = nb < giant_threshold
        is_giant = (nb >= giant_threshold) | nb.isNull()
    else:
        nbytes = F.coalesce(F.length("html"), F.lit(0))
        is_small = nbytes < giant_threshold
        is_giant = nbytes >= giant_threshold
    extra = cols[3:]
    small = pruned.filter(is_small).drop(*extra).mapInArrow(udf, EXTRACTED)
    # Round-robin over num_partitions × GIANT_FANOUT slices, NOT a hash
    # key: giants are few and individually expensive, so the tail is
    # set by the most-loaded TASK, and hashing G giants into P
    # partitions leaves birthday-collision bins of 3–4 giants
    # (measured: the r4 giants-mode straggler). Balance guarantee,
    # precisely: RoundRobinPartitioning deals each INPUT partition's
    # rows to consecutive slices from a per-partition pseudo-random
    # start — exactly even within an input partition, random-offset
    # across partitions. The clustered-tail pathology this mode exists
    # for (all giants in one file → one input partition) therefore gets
    # a ±1 deal-out; in the scattered regime (~1 giant per input
    # partition) balance degrades to uniform-random — no worse than the
    # hash key — and the fanout× extra bins still cut the expected max
    # load. The explicit count keeps AQE from coalescing the small
    # shuffle back into few partitions (coalescing only applies to
    # non-user-specified counts). Every slice runs as a Python task,
    # empty or not: dealing 4 rows over 32 slices through an identity
    # mapInArrow takes ≈0.55 s of wall on local[4] (4-vCPU VM) with the
    # caraspark.workerd daemon (≈1.8 s without it), a cost this
    # core-sized deal pays even for a handful of giants. Costs:
    # sortBeforeRepartition (default true, required for
    # retry-determinism — do NOT disable it on this branch or stage
    # retries can drop/duplicate rows) locally sorts the giant rows
    # incl. blobs before dealing — bounded by the giant tail's size, not
    # the corpus. salt rides as a provenance column into the UDF's
    # lineage struct.
    giants = (
        pruned.filter(is_giant)
        .drop(*extra)  # routing column must not ride the shuffle
        .withColumn("salt", F.pmod(F.xxhash64("url"), F.lit(64)).cast("int"))
        .repartition(num_partitions * GIANT_FANOUT)
        .mapInArrow(udf, EXTRACTED)
    )
    return small.unionByName(giants)
