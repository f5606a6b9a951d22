"""Per-term guard: the pruning kernels cost Python work per TERM, not
per block. ``kernels._lookup`` scores a term's candidates with one
``searchsorted`` over the term's decoded docs and one ``_score`` call;
``kernels._maxscore`` and ``kernels.block_max_ranked_and_kernel`` walk
terms only; ``kernels._interval_sweep`` walks terms once per
geometric round. A one-block decode (a ``decode_block`` call, or a
slice bounded by ``block_offsets``) in any of them, or a loop over
block indices (a ``for``/``while`` or comprehension whose iterable is
derived from a block-level array such as ``block_max_doc``), brings
back the per-block Python loop that used to dominate the pruned
routes; any other ``while`` is a cursor loop, per posting.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
KERNELS = REPO / "pisa_spark" / "query" / "kernels.py"
FUNCS = ("_lookup", "_maxscore", "_interval_sweep",
         "block_max_ranked_and_kernel")
BLOCK_ATTRS = {"block_max_doc", "block_max_score", "block_count",
               "block_offsets"}
# (function, loop test) of the loops allowed to read block-derived
# state: the sweep's geometric-round loop, whose batch of intervals
# grows 4x per pass, runs once per round, not once per block.
ROUND_LOOPS = {("_interval_sweep", "pos < n_iv and ubs_sorted[pos] > theta")}


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
    such a local. A subscript gathers values: from a block-level array
    they are not block indices (``block_max_score[bi]`` is one bound
    per candidate), from a block-index local they are
    (``term_bi[ti][chosen]``). A comprehension's ``if`` filters its
    elements without producing them (``[t for t in terms if
    len(t.block_count)]`` is a list of terms)."""
    if isinstance(node, ast.Subscript):
        while isinstance(node, ast.Subscript):
            node = node.value
        return isinstance(node, ast.Name) and node.id in tainted
    if isinstance(node, ast.comprehension):
        return _yields_block_indices(node.iter, tainted)
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
    """Locals holding block indices (transitively), including lists
    that block indices are appended to."""
    assigns = [
        (t, n.value) for n in ast.walk(fn)
        if isinstance(n, (ast.Assign, ast.AugAssign, ast.AnnAssign))
        and n.value is not None
        for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
    ] + [
        (n.func.value, arg) for n in ast.walk(fn)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr == "append"
        for arg in n.args
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


def _one_block_decode(node) -> bool:
    """A ``decode_block`` call, or its inline form: a slice with a
    ``block_offsets`` bound."""
    if isinstance(node, ast.Call):
        return (isinstance(node.func, ast.Attribute)
                and node.func.attr == "decode_block")
    return isinstance(node, ast.Slice) and any(
        isinstance(n, ast.Attribute) and n.attr == "block_offsets"
        for bound in (node.lower, node.upper) if bound is not None
        for n in ast.walk(bound)
    )


def per_block_work(fn: ast.FunctionDef) -> list[str]:
    """(line: what) for every per-block construct in ``fn``."""
    tainted = _tainted(fn)
    found = []
    for n in ast.walk(fn):
        if _one_block_decode(n):
            found.append(f"{n.lineno}: decode_block call")
        elif isinstance(n, (ast.For, ast.comprehension)) and _is_blocky(
                n.iter, tainted):
            found.append(f"{getattr(n, 'lineno', n.iter.lineno)}: "
                         "loop over block indices")
        elif (isinstance(n, ast.While)
              and (fn.name, ast.unparse(n.test)) not in ROUND_LOOPS):
            what = ("while over block indices"
                    if _is_blocky(n.test, tainted) else "cursor while loop")
            found.append(f"{n.lineno}: {what}")
    return found


def kernel_functions(source: str) -> dict[str, ast.FunctionDef]:
    tree = ast.parse(source)
    return {n.name: n for n in tree.body
            if isinstance(n, ast.FunctionDef) and n.name in FUNCS}


def test_lookup_and_maxscore_are_per_term():
    """_lookup, _maxscore, _interval_sweep and
    block_max_ranked_and_kernel have no per-block construct."""
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
        b_docs = tp.decoded[0][tp.block_offsets[bi[lo]]:tp.block_offsets[bi[lo] + 1]]


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


def test_lint_flags_a_per_block_sweep_and_a_cursor_loop():
    """The lint catches the per-block sweep (a single-term pass over
    blocks in bound order, a per-round pass over each term's touched
    blocks, one decode each) and a cursor-driven ranked AND, while the
    sweep's geometric-round loop stays allowed."""
    per_block = '''
def _interval_sweep(terms, k, stats, init_threshold, block_level):
    t = terms[0]
    for bi in np.argsort(-t.block_max_score):
        d, tf, ln = t.decode_block(int(bi))
    ends = np.unique(np.concatenate([t.block_max_doc for t in terms]))
    term_bi = []
    for t in terms:
        term_bi.append(np.searchsorted(t.block_max_doc, ends))
    while pos < n_iv and ubs_sorted[pos] > theta:
        for ti, t in enumerate(terms):
            bis = np.unique(term_bi[ti][chosen])
            for bi in bis:
                d = t.decoded[0][t.block_offsets[bi]:t.block_offsets[bi + 1]]


def block_max_ranked_and_kernel(terms, k, stats, init_threshold=0.0):
    candidate = terms[0].decoded[0][0]
    while candidate < SENTINEL:
        candidate = next_geq(terms, candidate)
'''
    found = {name: per_block_work(fn)
             for name, fn in kernel_functions(per_block).items()}
    assert found == {
        "_interval_sweep": [
            "4: loop over block indices", "5: decode_block call",
            "13: loop over block indices", "14: decode_block call",
        ],
        "block_max_ranked_and_kernel": ["19: cursor while loop"],
    }, found
