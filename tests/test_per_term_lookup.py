"""Per-term guard: MaxScore's lookups cost Python work per TERM, not
per block. ``kernels._lookup`` scores a term's candidates with one
``searchsorted`` over the term's decoded docs and one ``_score`` call,
and ``kernels._maxscore`` walks terms only. A ``decode_block`` call in
either, or a loop over block indices (a ``for``/``while`` or
comprehension whose iterable is derived from a block-level array such
as ``block_max_doc``), brings back the per-block Python loop that used
to dominate the pruned route.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
KERNELS = REPO / "pisa_spark" / "query" / "kernels.py"
FUNCS = ("_lookup", "_maxscore")
BLOCK_ATTRS = {"block_max_doc", "block_max_score", "block_count",
               "block_offsets"}


def _names(node) -> set[str]:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def _is_blocky(node, tainted: set[str]) -> bool:
    """Whether an expression reads a block-level array, directly or
    through a block-index local."""
    return any(
        isinstance(n, ast.Attribute) and n.attr in BLOCK_ATTRS
        for n in ast.walk(node)
    ) or bool(_names(node) & tainted)


def _yields_block_indices(node, tainted: set[str]) -> bool:
    """Whether an assigned value is derived from a block-level array,
    e.g. ``searchsorted(tp.block_max_doc, docs)`` or a transform of
    such a local. A subscript gathers values (``block_max_score[bi]``
    is one bound per candidate, not a block index), so its subtree
    does not count."""
    if isinstance(node, ast.Subscript):
        return False
    if (isinstance(node, ast.Attribute) and node.attr in BLOCK_ATTRS) or (
            isinstance(node, ast.Name) and node.id in tainted):
        return True
    return any(_yields_block_indices(c, tainted)
               for c in ast.iter_child_nodes(node))


def _target_names(target) -> set[str]:
    if isinstance(target, ast.Name):
        return {target.id}
    if isinstance(target, (ast.Tuple, ast.List)):
        return set().union(*map(_target_names, target.elts))
    return set()  # attribute or subscript stores bind no local


def _tainted(fn: ast.FunctionDef) -> set[str]:
    """Locals holding block indices (transitively)."""
    assigns = [
        (t, n.value) for n in ast.walk(fn)
        if isinstance(n, (ast.Assign, ast.AugAssign, ast.AnnAssign))
        and n.value is not None
        for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
    ]
    tainted: set[str] = set()
    while True:
        grown = set(tainted)
        for target, value in assigns:
            if _yields_block_indices(value, tainted):
                grown |= _target_names(target)
        if grown == tainted:
            return tainted
        tainted = grown


def per_block_work(fn: ast.FunctionDef) -> list[str]:
    """(line: what) for every per-block construct in ``fn``."""
    tainted = _tainted(fn)
    found = []
    for n in ast.walk(fn):
        if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                and n.func.attr == "decode_block"):
            found.append(f"{n.lineno}: decode_block call")
        elif isinstance(n, (ast.For, ast.comprehension)) and _is_blocky(
                n.iter, tainted):
            found.append(f"{getattr(n, 'lineno', n.iter.lineno)}: "
                         "loop over block indices")
        elif isinstance(n, ast.While) and _is_blocky(n.test, tainted):
            found.append(f"{n.lineno}: while over block indices")
    return found


def kernel_functions(source: str) -> dict[str, ast.FunctionDef]:
    tree = ast.parse(source)
    return {n.name: n for n in tree.body
            if isinstance(n, ast.FunctionDef) and n.name in FUNCS}


def test_lookup_and_maxscore_are_per_term():
    fns = kernel_functions(KERNELS.read_text())
    assert set(fns) == set(FUNCS), sorted(fns)
    found = {name: per_block_work(fn) for name, fn in fns.items()}
    assert found == {name: [] for name in FUNCS}, found


def test_lint_flags_a_per_block_lookup():
    """The lint catches the per-block loop form of ``_lookup``."""
    per_block = '''
def _lookup(tp, docs, partial, stats):
    bi = np.searchsorted(tp.block_max_doc, docs, side="left")
    starts = np.flatnonzero(np.diff(bi, prepend=-1))
    for lo, hi in zip(starts.tolist(), [*starts[1:].tolist(), len(bi)]):
        b_docs, b_tfs, b_lens = tp.decode_block(int(bi[lo]))


def _maxscore(terms, k, stats, init_threshold, block_level):
    for bi in range(len(terms[0].block_count)):
        pass
'''
    found = {name: per_block_work(fn)
             for name, fn in kernel_functions(per_block).items()}
    assert found == {
        "_lookup": ["5: loop over block indices", "6: decode_block call"],
        "_maxscore": ["10: loop over block indices"],
    }, found
