"""The engine's caching rule, checked on the source (no Spark).

Every cache a query builder or engine helper makes is query-scoped
(``registry.scoped_persist``), except a cache shorter than its query
that the same function releases itself. A builder never runs a
``count()`` just to fill a cache; a discarded ``count()`` is allowed
only to materialize a frame right before another is released.
"""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "highload_kafka_streams_spark"
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG.parent), ast.parse(path.read_text())


def _parents(tree):
    return {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}


def _method_call(node, *names):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in names
    )


def _unpersisted_names(fn):
    """Names the function unpersists: ``x.unpersist()`` or a bound
    ``x.unpersist`` handed to someone else."""
    return {
        n.value.id
        for n in ast.walk(fn)
        if isinstance(n, ast.Attribute)
        and n.attr == "unpersist"
        and isinstance(n.value, ast.Name)
    }


def _unscoped_persists(tree):
    parents = _parents(tree)
    for call in ast.walk(tree):
        if not _method_call(call, "persist", "cache"):
            continue
        stmt = parents[call]
        names = {call.func.value.id} if isinstance(call.func.value, ast.Name) else set()
        if isinstance(stmt, ast.Assign) and stmt.value is call:
            names |= {t.id for t in stmt.targets if isinstance(t, ast.Name)}
        node, in_loop = stmt, False
        while node is not None and not isinstance(node, _FUNCS):
            in_loop = in_loop or isinstance(node, (ast.For, ast.While))
            node = parents.get(node)
        if node is not None and (
            getattr(node, "name", None) == "scoped_persist"
            or in_loop
            or names & _unpersisted_names(node)
        ):
            continue
        yield call.lineno


def _prefill_counts(tree):
    for node in ast.walk(tree):
        for field in ("body", "orelse", "finalbody"):
            body = getattr(node, field, None)
            if not isinstance(body, list):
                continue
            for stmt, nxt in zip(body, body[1:] + [None]):
                if not (
                    isinstance(stmt, ast.Expr)
                    and _method_call(stmt.value, "count")
                    and not stmt.value.args
                ):
                    continue
                if isinstance(nxt, ast.Expr) and _method_call(nxt.value, "unpersist"):
                    continue
                yield stmt.lineno


def test_caches_are_query_scoped():
    """A ``persist()``/``cache()`` may appear only inside
    ``scoped_persist``, inside a loop body, or on a name the same
    function unpersists."""
    bad = [
        f"{path}:{line}"
        for path, tree in _modules()
        for line in _unscoped_persists(tree)
    ]
    assert not bad, f"use registry.scoped_persist: {bad}"


def test_no_count_only_fills_a_cache():
    """A discarded ``count()`` must be followed by an ``unpersist()``:
    the count materializes the new frame before the old one goes."""
    bad = [
        f"{path}:{line}"
        for path, tree in _modules()
        for line in _prefill_counts(tree)
    ]
    assert not bad, f"pre-fill count() (the query's run fills caches): {bad}"


def test_guard_sees_both_shapes():
    """The checks flag the two shapes they exist for, and accept the
    loop-scoped exception."""
    leaky = ast.parse(
        "def q(df):\n"
        "    df = df.persist()\n"
        "    df.count()\n"
        "    return df\n"
    )
    assert list(_unscoped_persists(leaky)) == [2]
    assert list(_prefill_counts(leaky)) == [3]
    scoped = ast.parse(
        "def q(df, edges):\n"
        "    for _ in range(3):\n"
        "        nxt = df.persist()\n"
        "        nxt.count()\n"
        "        edges.unpersist()\n"
        "        edges = nxt\n"
        "    sh = df.persist()\n"
        "    return sh, sh.unpersist\n"
    )
    assert list(_unscoped_persists(scoped)) == []
    assert list(_prefill_counts(scoped)) == []
