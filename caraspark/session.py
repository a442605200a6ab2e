"""SparkSession factory.

One place for every session knob so tests, bench, and the spark-submit job
agree.  Defaults target the sandbox (local[N], single JVM) but every setting
is the one we'd ship to a 1000-executor cluster too:

* UTC session timezone       — oracle (DuckDB) comparisons are TZ-naive.
* AQE on                     — runtime partition coalescing + skew-join split.
* shuffle.partitions ~ cores — 200 is wrong in both directions locally;
                               on a real cluster AQE coalesces from a high
                               initial value, so we set initialPartitionNum.
* Arrow on, batch-capped     — the extract stage streams BINARY blobs through
                               Python workers; a small maxRecordsPerBatch plus
                               the byte-budget logic in extract.py bounds the
                               per-batch footprint (SURVEY.md §4.3).
* driver heap                — min(24g, half the host's physical memory),
                               so two sessions fit on one machine;
                               $CARASPARK_DRIVER_MEM overrides it.
* caraspark.workerd daemon   — forks Python workers that skip the per-task
                               zip-directory rescan (≈0.1-0.2 s of CPU per
                               task; see workerd.py). It starts before any
                               --py-files include is on the worker's path,
                               so executorEnv.PYTHONPATH leads with
                               caraspark's import root (the repository, or
                               caraspark.zip itself).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow rows per batch for Python-UDF exchange. Extraction re-batches by a
# BYTE budget inside the UDF; this only caps the row count per IPC message.
ARROW_BATCH_ROWS = 1024

# The directory (or zip) that ``import caraspark`` resolved from.
_IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MAX_DRIVER_MEM_MB = 24 * 1024


def default_driver_memory() -> str:
    """``$CARASPARK_DRIVER_MEM``, else min(24g, half the physical memory)."""
    env = os.environ.get("CARASPARK_DRIVER_MEM")
    if env:
        return env
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(MAX_DRIVER_MEM_MB, phys // 2 // 2**20)}m"


def get_spark(
    app_name: str = "caraspark",
    master: str | None = None,
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the canonical session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]``.  ``cores`` is
    used to size shuffle partitions (2x cores: enough tasks to keep every
    core busy through stragglers without tiny-task overhead).
    """
    if master is None:
        n = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{n}]"
    if cores is None:
        try:
            cores = int(master.split("[", 1)[1].rstrip("]"))
        except (IndexError, ValueError):
            cores = os.cpu_count() or 8
    shuffle = max(2 * cores, 8)
    pythonpath = os.pathsep.join(
        p for p in (_IMPORT_ROOT, os.environ.get("PYTHONPATH")) if p
    )

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        .config("spark.sql.execution.arrow.useLargeVarTypes", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "caraspark.workerd")
        .config("spark.executorEnv.PYTHONPATH", pythonpath)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
