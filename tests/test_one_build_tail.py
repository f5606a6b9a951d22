"""One-build-tail guard: term metadata and segments are built in ONE
place. ``build_dag`` and every IncrementalIndexer generation (refresh
and compact) encode through ``build.pipeline.encode_stages``; a second
inline ``build_term_meta(`` / ``build_segments(`` call anywhere in
pisa_spark (outside their defining module) is a copy of the tail that
a build fix would then have to land in twice.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "pisa_spark"
TAIL_FUNCS = ("build_term_meta", "build_segments")
DEFINING = PKG / "build" / "segments.py"


class _TailCalls(ast.NodeVisitor):
    """(called name, innermost enclosing def) for every tail call."""

    def __init__(self):
        self.defs = ["<module>"]
        self.found: list[tuple[str, str]] = []

    def visit_FunctionDef(self, node):
        self.defs.append(node.name)
        self.generic_visit(node)
        self.defs.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        f = node.func
        name = (f.id if isinstance(f, ast.Name)
                else f.attr if isinstance(f, ast.Attribute) else None)
        if name in TAIL_FUNCS:
            self.found.append((name, self.defs[-1]))
        self.generic_visit(node)


def test_term_meta_and_segments_built_only_in_encode_stages():
    calls: dict[str, list[str]] = {name: [] for name in TAIL_FUNCS}
    for py in sorted(PKG.rglob("*.py")):
        if py == DEFINING:
            continue
        visitor = _TailCalls()
        visitor.visit(ast.parse(py.read_text(), filename=str(py)))
        for name, owner in visitor.found:
            calls[name].append(f"{py.relative_to(REPO)}:{owner}")
    want = ["pisa_spark/build/pipeline.py:encode_stages"]
    assert calls == {name: want for name in TAIL_FUNCS}, (
        "term_meta/segments must be built only by the shared encode "
        f"tail (pipeline.encode_stages); calls found: {calls}"
    )
