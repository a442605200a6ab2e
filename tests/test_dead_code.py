"""No statement follows an unconditional ``return``/``raise``/``continue``/
``break`` in the same block: such code never runs, and a stale copy of a
body left behind an early ``return`` reads as live logic."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_SOURCES = ("caraspark", "jobs", "tools", "perfbench", "bench.py")
_JUMPS = (ast.Return, ast.Raise, ast.Continue, ast.Break)


def _unreachable(tree: ast.AST):
    """Line numbers of statements that directly follow a jump."""
    for node in ast.walk(tree):
        for block in ("body", "orelse", "finalbody"):
            stmts = getattr(node, block, None)
            if isinstance(stmts, list):
                for a, b in zip(stmts, stmts[1:]):
                    if isinstance(a, _JUMPS):
                        yield b.lineno


def test_unreachable_detector_sees_each_block_kind():
    src = (
        "def f(x):\n"
        "    for i in x:\n"
        "        continue\n"
        "        g()\n"
        "    try:\n"
        "        raise E\n"
        "        g()\n"
        "    except E:\n"
        "        return 1\n"
        "        g()\n"
        "    return 2\n"
        "    g()\n"
    )
    assert sorted(_unreachable(ast.parse(src))) == [4, 7, 10, 12]


def test_no_statement_follows_a_jump():
    files = []
    for name in _SOURCES:
        p = ROOT / name
        files += [p] if p.is_file() else sorted(p.rglob("*.py"))
    assert len(files) > 50
    found = [
        f"{f.relative_to(ROOT)}:{line}"
        for f in files
        for line in _unreachable(ast.parse(f.read_text(encoding="utf-8")))
    ]
    assert found == []
