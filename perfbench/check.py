"""Output checks: per-document digests and the expected digest of every input.

A document's digest covers (kind, sha256(text), verdict, errors) — the
outputs that are pure functions of its bytes; ``parse_ms`` and
``lineage`` are excluded.

The expected digests do not come from the engine under test:

- a fixed synth recipe's digest is pinned in ``reference.json``;
- a seeded document's text is what the independent text oracle
  (``oracle.oracle_extract``, no code shared with the engine) reads from
  its bytes, and its kind, verdict and errors are pinned per recipe class
  in ``reference.json``. Every seeded PDF is built valid, so one turning
  invalid fails the check.

``pin_reference.py`` writes ``reference.json`` and refuses to pin a class
on which the engine and the oracle disagree.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

import pyarrow as pa

from perfbench.gen import recipe_of

ERROR_FIELDS = ("code", "pos", "obj_num", "obj_gen", "path", "msg")
CHECK_COLUMNS = ("url", "kind", "text_sha256", "verdict", "errors")
PINNED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "reference.json")


def outcome(verdict, errors) -> list:
    """The verdict and errors of one document, as digested and pinned."""
    return [verdict["valid"], verdict["strict"], [[e[f] for f in ERROR_FIELDS] for e in errors]]


def doc_digest(kind, text_sha256, outcome) -> str:
    payload = [kind, text_sha256, *outcome]
    return hashlib.sha256(
        json.dumps(payload, separators=(",", ":")).encode()
    ).hexdigest()


def digests(tbl: pa.Table) -> list[tuple[str, str]]:
    """(url, digest) per row of a table with CHECK_COLUMNS."""
    cols = [tbl.column(c).to_pylist() for c in CHECK_COLUMNS]
    return [(u, doc_digest(k, t, outcome(v, e))) for u, k, t, v, e in zip(*cols)]


def spark_check_frame(df):
    """The extracted DataFrame projected to CHECK_COLUMNS (text hashed on
    the JVM, so only 64 hex characters per document reach the Spark client process)."""
    from pyspark.sql import functions as F

    return df.select(
        "url", "kind", F.sha2("text", 256).alias("text_sha256"), "verdict", "errors"
    )


def pinned_mode(want) -> str:
    """Pinned digests exist for all surfaces and for validate-only."""
    return {None: "full", (): "validate"}[want]


def load_pinned() -> dict:
    with open(PINNED_PATH) as f:
        return json.load(f)


def expected_digests(table: pa.Table, want) -> dict[str, str]:
    """url → expected digest for every input row (see the module docstring)."""
    from oracle import oracle_extract

    pinned = load_pinned()[pinned_mode(want)]
    out = {}
    for url, blob in zip(table.column("url").to_pylist(), table.column("html").to_pylist()):
        r = recipe_of(url)
        if r in pinned["fixed"]:
            out[url] = pinned["fixed"][r]
            continue
        cls = pinned["seeded"][r]
        text = hashlib.sha256(oracle_extract(blob)).hexdigest() if cls["text"] else None
        out[url] = doc_digest(cls["kind"], text, cls["outcome"])
    return out


def failed_docs(expected: dict[str, str], got: list[tuple[str, str]]) -> set[str]:
    """Documents whose output row is missing, duplicated, unexpected, or
    whose digest differs from the expected one."""
    seen = Counter(u for u, _ in got)
    bad = {u for u, d in got if seen[u] > 1 or expected.get(u) != d}
    return bad | (expected.keys() - seen.keys())
