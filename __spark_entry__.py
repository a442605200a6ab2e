"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship smoke query on /root/testdata/sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2, compared against DuckDB at sf=0.01 by the driver.

The actual implementations live in the ``caraspark`` package; this module
only assembles the registries.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from caraspark import relational  # noqa: E402

_REGISTRIES = [relational.REGISTRY]

# Optional packs appended as they land (each module exposes REGISTRY).
# A broken module must never silently shrink the registry: import errors
# are printed to stderr so the driver log shows the missing pack.
for _mod in (
    "textops",
    "curation",
    "extract_queries",
    "sidetables",
    "streaming_queries",
    "pdfacts",
    "multimodal",
    "warc",
):
    try:
        _m = __import__(f"caraspark.{_mod}", fromlist=["REGISTRY"])
        _REGISTRIES.append(_m.REGISTRY)
    except Exception as exc:  # noqa: BLE001 — loud, never silent
        print(
            f"__spark_entry__: FAILED to import caraspark.{_mod}: "
            f"{type(exc).__name__}: {exc} — its qkeys are MISSING from the "
            "registry",
            file=sys.stderr,
        )


def _driver_verified_keys() -> set[str]:
    """qkeys that already have a row in any prior round's CORRECTNESS file.

    The driver only runs a prefix of the registry each round, so keys it has
    never seen are moved to the front (see ``_merged``). Reading the committed
    ``CORRECTNESS_r*.json`` files makes the ordering self-adapting per round.
    """
    seen: set[str] = set()
    for path in sorted(glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json"))):
        try:
            with open(path, encoding="utf-8") as f:
                seen.update(json.load(f).keys())
        except (OSError, ValueError):
            continue
    return seen


def _merged():
    out = {}
    for reg in _REGISTRIES:
        for k, q in reg.items():
            if k in out:
                raise KeyError(f"duplicate qkey {k!r}")
            out[k] = q
    # The driver verifies a 50-key prefix of this order each round: keys
    # it has never verified come first, then the verified ones. The two
    # permanently-oracle-free keys (agg_approx: nondeterministic sketch;
    # partition_metrics: wall-clock timing columns) sort dead last so they
    # never burn a window row — each has a hash-verified sibling
    # (agg_approx_check, partition_lineage) that IS the correctness
    # evidence. Ties keep registration order, so the result is
    # deterministic.
    seen = _driver_verified_keys()

    def rank(item):
        k, q = item
        return (q.sql is None, k in seen)

    return dict(sorted(out.items(), key=rank))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: extraction-shaped analytics — per-region revenue
    with broadcast dims, aggregation, and a window rank (swapped to the
    documents_raw extraction pipeline once caraspark.extract lands)."""
    sf = "/root/testdata/sf0.001"
    try:
        from caraspark.extract_queries import flagship

        return flagship(spark, sf)
    except ImportError:
        from caraspark.relational import join_broadcast

        return join_broadcast(spark, sf)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: q.fn for k, q in _merged().items()}


def oracle_sql() -> dict[str, str]:
    return {k: q.sql for k, q in _merged().items() if q.sql is not None}
