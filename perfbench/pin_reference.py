"""Pin the expected outputs the benchmark checks against into ``reference.json``.

    python3 perfbench/pin_reference.py

Run from the repository root on a tree whose engine output is known good
(the goldens under tests/golden pass). For each mode (all surfaces, and
validate-only) it pins:

- ``fixed``: the digest of each fixed synth PDF recipe;
- ``seeded``: per seeded recipe class, the kind, whether text is
  produced, and the verdict and errors, which must be the same on every
  document of the class. Where text is produced it must equal the
  independent oracle's on every document, or nothing is written.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402

from caraspark import synth  # noqa: E402
from oracle import oracle_extract  # noqa: E402
from perfbench import check, engine, gen  # noqa: E402

PIN_SEEDS = (0, 1, 2)


def fixed(want) -> dict[str, str]:
    names = sorted(synth.PDF_RECIPES)
    table = pa.table(
        {
            "url": [f"https://bench.example/pin/0/{i}/{k}" for i, k in enumerate(names)],
            "warc_ts": pa.nulls(len(names), gen.RAW_SCHEMA.field("warc_ts").type),
            "html": pa.array([synth.PDF_RECIPES[k]() for k in names], pa.large_binary()),
        }
    )
    _, out = engine.run(engine.batches(table, len(names)), want)
    return {gen.recipe_of(u): d for b in out for u, d in engine.batch_digests(b)}


def seeded(want) -> dict[str, dict]:
    """Per class, over the mixed corpus (every seeded class) of PIN_SEEDS."""
    classes: dict[str, dict] = {}
    for seed in PIN_SEEDS:
        table = gen.build(gen.WORKLOADS["mixed_narrow"], seed)
        blobs = dict(zip(table.column("url").to_pylist(), table.column("html").to_pylist()))
        _, out = engine.run(engine.batches(table, 256), want)
        for b in out:
            cols = [b.column(c).to_pylist() for c in ("url", "kind", "text", "verdict", "errors")]
            for url, kind, text, verdict, errors in zip(*cols):
                r = gen.recipe_of(url)
                if r in synth.PDF_RECIPES:
                    continue
                if text is not None and text != oracle_extract(blobs[url]):
                    sys.exit(f"engine and oracle disagree on the text of {url}")
                entry = {"kind": kind, "text": text is not None, "outcome": check.outcome(verdict, errors)}
                if classes.setdefault(r, entry) != entry:
                    sys.exit(f"{url}: outcome differs within class {r}")
    return classes


def main() -> None:
    ref = {
        check.pinned_mode(w): {"fixed": fixed(w), "seeded": seeded(w)} for w in (None, ())
    }
    with open(check.PINNED_PATH, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
