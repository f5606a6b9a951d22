"""Dead-weight guard (VERDICT r3 next-#8): every public top-level
function/class defined in pisa_spark must be REFERENCED by name
somewhere outside its defining module — package code, scripts/,
tests/, or __spark_entry__.py. Superseded helpers get
deleted, not carried; deliberate agreement baselines (the DAAT
cursor loops) live under tests/, outside this guard's scope.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "pisa_spark"


def _defined_public() -> dict[str, list[str]]:
    """module-path -> public top-level def/class names."""
    out: dict[str, list[str]] = {}
    for py in sorted(PKG.rglob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        names = [
            n.name
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef))
            and not n.name.startswith("_")
        ]
        if names:
            out[str(py.relative_to(REPO))] = names
    return out


def test_every_public_symbol_is_referenced():
    corpus: list[tuple[str, str]] = []
    for root in (PKG, REPO / "tests", REPO / "scripts"):
        for py in root.rglob("*.py"):
            corpus.append((str(py.relative_to(REPO)), py.read_text()))
    corpus.append(("__spark_entry__.py", (REPO / "__spark_entry__.py").read_text()))

    texts = dict(corpus)
    dead: list[str] = []
    for mod, names in _defined_public().items():
        for name in names:
            pat = re.compile(rf"\b{re.escape(name)}\b")
            used = any(
                pat.search(text)
                for src, text in corpus
                if src != mod
            )
            if not used:
                # in-module CODE references (beyond the def line) keep
                # a public helper alive too — e.g. a default argument
                # or a composition root calling it
                own = texts[mod]
                n_refs = len(pat.findall(own))
                n_defs = len(re.findall(
                    rf"def {re.escape(name)}\b", own
                ))
                used = n_refs > n_defs
            if not used:
                dead.append(f"{mod}:{name}")
    assert not dead, (
        "public symbols referenced nowhere outside their module "
        f"(delete or test them): {dead}"
    )
