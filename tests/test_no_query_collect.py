"""No-driver-collect guard: the query executors build lazy DataFrames.

Every request plans one scan shape (executor._factored_rows) and
leaves every Spark action to its caller, so building a ranked or
Boolean request submits no job. A ``.collect()``, ``.toPandas()`` or
``.toLocalIterator()`` call in ``pisa_spark/query/executor.py``, or a
bare ``.count()`` / ``.first()`` (the DataFrame actions, not the
``F.count(col)`` / ``F.first(col)`` aggregates), would put a driver
round trip back on every request.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
EXECUTOR = REPO / "pisa_spark" / "query" / "executor.py"
ACTIONS = ("collect", "toPandas", "toLocalIterator")
BARE_ACTIONS = ("count", "first")


def _driver_actions(tree: ast.AST) -> list[str]:
    found = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)):
            continue
        name = node.func.attr
        bare = not node.args and not node.keywords
        if name in ACTIONS or (name in BARE_ACTIONS and bare):
            line = node.func.end_lineno  # the action's own line in a chain
            found.append(f"{EXECUTOR.relative_to(REPO)}:{line} .{name}()")
    return found


def test_executor_submits_no_driver_action():
    tree = ast.parse(EXECUTOR.read_text(), filename=str(EXECUTOR))
    found = _driver_actions(tree)
    assert not found, (
        "the query executors must leave Spark actions to their caller; "
        f"driver actions found: {found}"
    )


def test_guard_tells_actions_from_aggregates():
    flagged = _driver_actions(ast.parse(
        "df.collect()\ndf.toPandas()\ndf.toLocalIterator()\n"
        "df.count()\ndf.first()\n"
    ))
    assert [f.split(" ")[1] for f in flagged] == [
        ".collect()", ".toPandas()", ".toLocalIterator()",
        ".count()", ".first()",
    ]
    legal = ast.parse(
        'F.count("*")\nF.first("thr")\ntable.take(idx)\n'
        'F.first(F.col("x"), ignorenulls=True)\n'
    )
    assert _driver_actions(legal) == []
