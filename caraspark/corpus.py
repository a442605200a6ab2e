"""documents_raw as a Spark DataFrame, generated ON THE EXECUTORS.

``synth_df(spark, n)`` maps the synth recipes over ``spark.range`` with
mapInArrow — the corpus is born distributed (no driver-side materialization,
no collect), which is what lets the bench generate multi-GB inputs and the
scaling runs stay driver-light.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from caraspark.relational import map_rows
from caraspark.schemas import DOCUMENTS_RAW
from caraspark.synth import corpus_row

# documents_raw as Arrow; html is large_binary (64-bit offsets), so one
# batch of blobs may pass binary's 2 GiB limit
RAW_ARROW = to_arrow_schema(DOCUMENTS_RAW, timestamp_utc=False)
RAW_ARROW = RAW_ARROW.set(
    RAW_ARROW.get_field_index("html"),
    RAW_ARROW.field("html").with_type(pa.large_binary()),
)


def synth_df(
    spark: SparkSession,
    n: int,
    partitions: int | None = None,
    include_giant: bool = False,
) -> DataFrame:
    """Rows ``0..n-1`` of the synth corpus (``synth.corpus_row``)."""
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return map_rows(
        spark.range(0, n, 1, partitions),
        lambda idx: (corpus_row(idx, include_giant),),
        RAW_ARROW,
    )


def write_size_layout(
    df: DataFrame, path: str, partitions: int | None = None
) -> None:
    """Ingest-side size-aware layout job: append ``nbytes = length(html)``
    and write the corpus range-clustered by it, so every downstream
    byte-length predicate prunes at the parquet FOOTER instead of decoding
    blob pages.

    Why this exists (SURVEY.md §4.3 skew discipline): ``extract``'s
    giants mode routes documents by size into a narrow branch and a
    round-robin giants branch — two filters over the same table. Without
    a stored size column those filters must materialize
    ``length(html)``, i.e. each branch decodes the FULL blob column and
    discards the other's rows: at 100 TB that is a second 100 TB scan. With ``nbytes``
    range-clustered, row-group min/max stats answer both filters — the
    giants branch reads only the giant tail's row groups (sub-percent of
    bytes) and the narrow branch skips exactly those. The cluster job is
    one range exchange at ingest, paid once, amortized over every
    extraction / re-crawl pass that follows.

    Two row-balance details that matter for downstream task balance when
    PER-DOC cost dominates (parse-heavy workloads — byte-budgeted input
    splits balance bytes, not docs, and size clustering makes bytes a bad
    proxy for work):

    * the range key carries a hash TIEBREAK — crawl size distributions
      have heavy ties (boilerplate templates yield thousands of docs at
      the exact same byte length), and without the tiebreak the range
      partitioner packs whole tie-runs into single files (measured 3×
      doc-count skew across files on the 200k bench corpus);
    * default file count is 4 per shuffle slot, so a scan gets several
      row-count-bounded files per core instead of a few byte-balanced
      monsters (parquet cannot subdivide a row group, so the FILE is the
      effective parallelism unit for these small clustered files).
    """
    from pyspark.sql import functions as F

    if partitions is None:
        partitions = 4 * int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    sized = df.withColumn(
        "nbytes", F.coalesce(F.length("html"), F.lit(0)).cast("long")
    )
    # the tiebreak must be row-distinct WITHIN a tie-run — hashing the
    # range key itself would be constant across the run and break nothing
    tiebreak = (
        F.xxhash64("url")
        if "url" in df.columns
        else F.monotonically_increasing_id()
    )
    (
        sized.withColumn("_tb", tiebreak)
        .repartitionByRange(partitions, "nbytes", "_tb")
        .sortWithinPartitions("nbytes", "_tb")
        .drop("_tb")
        .write.mode("overwrite")
        .parquet(path)
    )


def sf_of(sf_dir: str) -> float:
    """Parse the scale factor from a testdata dir name; default 0.01."""
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.01


# synth corpus rows per scale factor; any other scale gets DEFAULT_ROWS
CORPUS_ROWS = {0.001: 128, 0.01: 384, 0.1: 1536}
DEFAULT_ROWS = 256


def corpus_rows_for_sf(sf_dir: str) -> int:
    return CORPUS_ROWS.get(sf_of(sf_dir), DEFAULT_ROWS)


def html_docs(docs: DataFrame, *parts, url=None) -> DataFrame:
    """documents_raw from a ``documents`` frame, batch or streaming: each
    row's blob is the UTF-8 of ``concat(*parts)`` — a ``str`` part is a
    literal, a Column part is used as is (typically ``F.col("text")``
    wrapped in closed-form HTML). ``url`` defaults to the doc_id as a
    string; ``warc_ts`` is NULL."""
    from pyspark.sql import Column, functions as F

    if url is None:
        url = F.col("doc_id").cast("string")
    html = F.concat(*(p if isinstance(p, Column) else F.lit(p) for p in parts))
    return docs.select(
        url.alias("url"),
        F.lit(None).cast("timestamp_ntz").alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
    )


def from_binary_files(spark: SparkSession, path: str) -> DataFrame:
    """documents_raw from LOOSE files via the binaryFile source (SURVEY.md
    S3): url = file path, warc_ts = filesystem mtime, blob = content.
    Feeds the same extract pipeline as parquet corpora — the on-ramp for a
    directory of crawled PDFs/HTML before they're compacted into a table.
    Column pruning applies: binaryFile supports pathGlobFilter and
    recursiveFileLookup, and Spark prunes `content` when only metadata
    columns are selected."""
    from pyspark.sql import functions as F

    raw = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(path)
    )
    return raw.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
