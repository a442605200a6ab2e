"""Every Python row map crosses the Arrow boundary through one mapper:
under ``caraspark/`` there is no ``mapInPandas``, and ``mapInArrow`` is
called only by the extraction stage (``extract.extract``), the shared row
mapper (``relational.map_rows``) and the WARC writers' one-blob-per-batch
map (``warc._blobs``)."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_MAPS = ("mapInPandas", "mapInArrow")
_ALLOWED = {
    ("mapInArrow", "extract.py", "extract"),
    ("mapInArrow", "relational.py", "map_rows"),
    ("mapInArrow", "warc.py", "_blobs"),
}


def _sites(tree: ast.Module):
    """``(method, top-level def)`` of each ``.mapInPandas`` /
    ``.mapInArrow`` attribute in a module; the def is None at module
    level."""
    for top in tree.body:
        name = getattr(top, "name", None)
        for n in ast.walk(top):
            if isinstance(n, ast.Attribute) and n.attr in _MAPS:
                yield n.attr, name


def test_row_maps_go_through_the_shared_mapper():
    pkg = ROOT / "caraspark"
    found = {
        (attr, str(f.relative_to(pkg)), name)
        for f in sorted(pkg.rglob("*.py"))
        for attr, name in _sites(ast.parse(f.read_text(encoding="utf-8")))
    }
    assert found == _ALLOWED
