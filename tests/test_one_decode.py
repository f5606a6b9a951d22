"""One-decode guard: payload bytes decode in ONE place. Segment
encode, ``decode_segments`` and the query side's batch proto build all
go through ``codecs/columns.py``; the kernels only slice the decoded
arrays. A ``concat_safe`` read (the flag that lets a self-delimiting
codec fuse many blocks into one call) anywhere in pisa_spark outside
``pisa_spark/codecs/`` is a second hand-written payload decode that a
codec fix would then have to land in twice.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "pisa_spark"
CODECS = PKG / "codecs"
FLAG = "concat_safe"


class _FlagReads(ast.NodeVisitor):
    """(line, innermost enclosing def) for every ``x.concat_safe``
    and every ``"concat_safe"`` string (getattr/hasattr)."""

    def __init__(self):
        self.defs = ["<module>"]
        self.found: list[tuple[int, str]] = []

    def visit_FunctionDef(self, node):
        self.defs.append(node.name)
        self.generic_visit(node)
        self.defs.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Attribute(self, node):
        if node.attr == FLAG:
            self.found.append((node.lineno, self.defs[-1]))
        self.generic_visit(node)

    def visit_Constant(self, node):
        if node.value == FLAG:
            self.found.append((node.lineno, self.defs[-1]))


def test_concat_safe_read_only_in_codecs():
    reads = []
    for py in sorted(PKG.rglob("*.py")):
        if CODECS in py.parents:
            continue
        visitor = _FlagReads()
        visitor.visit(ast.parse(py.read_text(), filename=str(py)))
        reads += [f"{py.relative_to(REPO)}:{line}:{owner}"
                  for line, owner in visitor.found]
    assert reads == [], (
        "payload decode belongs in pisa_spark/codecs (columns.py); "
        f"concat_safe read at: {reads}"
    )
