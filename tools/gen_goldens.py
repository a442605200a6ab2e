"""Generate tests/golden/<recipe>/{text.bin, verdict.json} (FIXTURES.md §3.3).

text.bin is the engine's extracted bytes; for every VALID document the test
suite additionally asserts the independent oracle produces the same bytes —
so the goldens are double-witnessed where the oracle's xref-free strategy is
semantics-preserving, and regression-pinned everywhere else.

Run once per deliberate spec change; the diff IS the review artifact.
"""

from __future__ import annotations

import json
import os
import pathlib
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from caraspark.pdfengine import process_document  # noqa: E402
from caraspark.synth import HTML_RECIPES, PDF_RECIPES  # noqa: E402

GOLDEN_DIR = pathlib.Path(ROOT, "tests", "golden")


def main() -> None:
    for name, fn in list(PDF_RECIPES.items()) + list(HTML_RECIPES.items()):
        blob = fn(random.Random("42:0")) if name in HTML_RECIPES else fn()
        r = process_document(blob, want_objects=True)
        d = GOLDEN_DIR / name
        d.mkdir(parents=True, exist_ok=True)
        (d / "text.bin").write_bytes(r.text)
        verdict = {
            "valid": r.valid,
            "strict": r.strict,
            "kind": r.kind,
            "version": r.version,
            "n_objects": r.n_objects,
            "n_updates": r.n_updates,
            "n_streams": r.n_streams,
            "n_holes": r.n_holes,
            "hybrid": r.hybrid,
            "linearized": r.linearized,
            "encrypted": r.encrypted,
            "errors": r.errors_as_rows(),
            "types": r.type_assignments,
        }
        (d / "verdict.json").write_text(
            json.dumps(verdict, indent=1, sort_keys=True) + "\n"
        )
        print(f"{name:26s} text={len(r.text):6d}B valid={r.valid} "
              f"errors={len(r.errors)}")


if __name__ == "__main__":
    main()
