"""One-estimator-tail guard: every threshold estimator in
``query/thresholds.py`` is composed from the module's shared
primitives. The BM25 micro expression is built once
(``_micro_postings``); every window — a per-query k-th, a comb
prefix, a budget drain — goes through the two-phase
``_top_n_per_group`` (reached through ``_kth_tail`` / ``_comb_prefix``);
and the per-k workload guard lives in ``_at_k`` / ``_cached_kth``. An
estimator that re-inlines one of these is a copy a later fix would
have to land in twice.
"""

from __future__ import annotations

import ast
from pathlib import Path

THRESHOLDS = (Path(__file__).resolve().parent.parent
              / "pisa_spark" / "query" / "thresholds.py")
WINDOW_OWNERS = {"_top_n_per_group"}
K_GUARD_OWNERS = {"_at_k", "_cached_kth"}


def _owned(tree: ast.Module):
    """(node, innermost enclosing def name) for every node."""
    def walk(node, owner):
        for child in ast.iter_child_nodes(node):
            name = (child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else owner)
            yield child, name
            yield from walk(child, name)
    yield from walk(tree, "<module>")


def _call_name(node: ast.Call) -> str | None:
    f = node.func
    return (f.id if isinstance(f, ast.Name)
            else f.attr if isinstance(f, ast.Attribute) else None)


def _scan():
    tree = ast.parse(THRESHOLDS.read_text(), filename=str(THRESHOLDS))
    bm25, windows, k_guards = [], [], []
    for node, owner in _owned(tree):
        if isinstance(node, ast.Call) and _call_name(node) == "bm25_sql_expr":
            bm25.append(owner)
        # any Window.<spec>(...) use: partitionBy / orderBy / rowsBetween
        if (isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id == "Window"):
            windows.append(owner)
        # `"k" in <frame>.columns`
        if (isinstance(node, ast.Compare)
                and isinstance(node.left, ast.Constant)
                and node.left.value == "k"
                and any(isinstance(op, ast.In) for op in node.ops)
                and any(isinstance(c, ast.Attribute) and c.attr == "columns"
                        for c in node.comparators)):
            k_guards.append(owner)
    return bm25, windows, k_guards


def test_bm25_micro_expression_built_once():
    bm25, _, _ = _scan()
    assert bm25 == ["_micro_postings"], (
        "the BM25 micro expression must be built only by "
        f"thresholds._micro_postings; bm25_sql_expr( calls in: {bm25}"
    )


def test_every_window_is_the_shared_top_n():
    _, windows, _ = _scan()
    assert windows and set(windows) <= WINDOW_OWNERS, (
        "per-query k-ths, comb prefixes and drains must rank through "
        "_top_n_per_group (via _kth_tail / _comb_prefix); Window used "
        f"in: {sorted(set(windows) - WINDOW_OWNERS)}"
    )


def test_k_guard_written_once():
    _, _, k_guards = _scan()
    assert k_guards and set(k_guards) <= K_GUARD_OWNERS, (
        "the per-k workload guard belongs in _at_k / _cached_kth; "
        f'`"k" in ....columns` found in: {k_guards}'
    )
