"""Per-query content hashes — staleness detection for the driver window.

Round-4 verdict found a blind spot in the self-maintaining window
ordering: a query REWRITTEN after its driver-green round kept its old
evidence rank, so the driver never re-verified the new implementation
(concretely ``q_stream_late_data_drop``: rewritten in round 4, only
driver evidence from round 2, against the OLD code). Fix: every query
gets a content hash over its decorated source (which includes the
``@query`` decorator line and therefore the oracle SQL) plus the
registered oracle string, recorded in ``QUERY_HASHES.json`` at the repo
root as ``{name: {"hash": h, "since_round": N}}`` — "this
implementation has been in place since round N's verification ran".

``registry._driver_green_rounds`` then counts a green CORRECTNESS row
from round R only when the ledger says the CURRENT hash was already in
place at round R (``hash == current and since_round <= R``). A query
whose code or oracle changed after its last green round re-enters the
never-green tier and jumps to the front of the driver window.

Maintenance: run ``python -m highload_kafka_streams_spark.qhash update
--round N`` at the end of round N's build (part of the round-end
ritual). Entries whose hash changed (or are new) get
``since_round = N``; unchanged entries keep their earlier round.

Helper coverage (r9, closes the r8 advisor's gap): the main hash still
covers only the decorated function's own source (so the ledger format
and every recorded hash stay stable), but the ledger now ALSO records a
``helpers`` hash — the transitive source of every module-private
(``_``-prefixed) package function the query references, found by AST
walk (plain ``Name`` loads plus ``from X import _y`` inside the body).
The staleness gate demands the helpers hash match whenever the ledger
records one, and ``update_ledger`` bumps ``since_round`` when it moves
— so a behavior change hidden entirely in a shared helper (e.g. the
pair-derivation pipelines in llm/dedup.py) now demotes its consumers
back into the driver's verification window. Migration rule: entries
recorded before r9 carry no ``helpers`` field and gate on the main
hash alone until the round-end update writes one.

Cost: the hashes describe the code this process imported, and they are
computed once per code object. Each module file is read and parsed once
(``ast.parse``); every def in it yields its normalized source (cut the
way ``inspect.getsource`` cuts it, keyed on ``co_firstlineno``) and the
private names it references, kept as strings and frozensets while the
tree is dropped. Later lookups only resolve those names against the
live modules, so ``registry.get_queries()`` pays for hashing once per
process. Functions without a parseable module file go through
``inspect.getsource``, once each. A module file edited on disk after
its first parse keeps its first hashes until the next process.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import importlib.util
import inspect
import json
import linecache
import sys
import textwrap
import types
from pathlib import Path

HASH_FILE = "QUERY_HASHES.json"

_PKG_PREFIX = "highload_kafka_streams_spark"


def _normalize(src: str) -> str:
    return "\n".join(line.rstrip() for line in src.splitlines()).strip()


# A function's source facts: (name, normalized source or None, private
# references). A reference is ``(None, 0, "_name")`` for a bare name load
# and ``(module, level, "_name")`` for ``from <module> import _name``
# (``level`` dots of relative import). Only strings and frozensets are
# kept, never AST nodes: a retained tree would multiply the objects every
# full garbage collection walks.
_SourceInfo = tuple[str, str | None, frozenset]

# module file -> {first line of each def: its _SourceInfo}, built by one
# ast.parse per file; a def's first line is its first decorator's line,
# which is the code object's ``co_firstlineno``
_FILE_DEFS: dict[str, dict[int, _SourceInfo]] = {}
# code object -> _SourceInfo for functions the file parse cannot place
# (no source file, lambdas); these go through inspect.getsource
_FALLBACK: dict[types.CodeType, _SourceInfo] = {}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)
# node types with no Name or ImportFrom below them
_LEAVES = (
    ast.expr_context, ast.Constant, ast.operator, ast.unaryop, ast.cmpop,
    ast.boolop, ast.alias,
)


def _private_refs(tree: ast.AST) -> dict[ast.AST, set]:
    """Private references of every def in ``tree`` (decorators, signature
    and body, nested defs included), from a single pass over the tree: a
    reference counts for each def that encloses it. Keyed by def node;
    the tree itself, with no def around it, is keyed too."""
    out: dict[ast.AST, set] = {tree: set()}
    stack = [(tree, (out[tree],))]
    while stack:
        node, owners = stack.pop()
        kind = type(node)
        if kind is ast.Name:
            if node.id.startswith("_"):
                for refs in owners:
                    refs.add((None, 0, node.id))
            continue
        if kind is ast.ImportFrom:
            module = node.module or ""
            if node.level or module.startswith(_PKG_PREFIX):
                for alias in node.names:
                    if alias.name.startswith("_"):
                        for refs in owners:
                            refs.add((module, node.level, alias.name))
            continue
        if kind in _DEFS:
            out[node] = set()
            owners = owners + (out[node],)
        for field in node._fields:
            value = getattr(node, field, None)
            for child in value if type(value) is list else (value,):
                if isinstance(child, ast.AST) and not isinstance(child, _LEAVES):
                    stack.append((child, owners))
    return out


def _block_end(lines: list[str], node: ast.FunctionDef) -> int:
    """Last line of ``node`` as ``inspect.getsource`` cuts it: the last
    statement, plus the comment lines that follow it while they are
    indented at least as deep as the body (when the body starts on its
    own line)."""
    last = node.end_lineno
    first = node.body[0]
    if lines[first.lineno - 1][: first.col_offset].strip():
        return last  # one-line def: the block ends at its NEWLINE
    for i in range(last, len(lines)):
        text = lines[i].lstrip()
        if not text:
            continue
        if not text.startswith("#"):
            break
        if len(lines[i]) - len(text) >= first.col_offset:
            last = i + 1
    return last


def _parse_file(filename: str) -> dict[int, _SourceInfo]:
    lines = linecache.getlines(filename)
    try:
        tree = ast.parse("".join(lines), filename)
    except (SyntaxError, ValueError):
        return {}
    defs: dict[int, _SourceInfo] = {}
    for node, refs in _private_refs(tree).items():
        if type(node) in _DEFS:
            first = (node.decorator_list or [node])[0].lineno
            src = _normalize("".join(lines[first - 1 : _block_end(lines, node)]))
            defs[first] = (node.name, src, frozenset(refs))
    return defs


def _inspect_info(fn) -> _SourceInfo:
    name = getattr(fn, "__name__", "")
    try:
        src = _normalize(inspect.getsource(fn))
    except (OSError, TypeError):
        return (name, None, frozenset())
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return (name, src, frozenset())
    return (name, src, frozenset(_private_refs(tree)[tree]))


def _source_info(fn) -> _SourceInfo:
    """Source facts of ``fn`` (seen through ``functools.wraps``), computed
    once per code object for the life of the process."""
    fn = inspect.unwrap(fn)
    code = getattr(fn, "__code__", None)
    if not isinstance(code, types.CodeType):
        return _inspect_info(fn)
    # two threads may both parse a file on first use; they store equal
    # results, so the race costs time only
    defs = _FILE_DEFS.get(code.co_filename)
    if defs is None:
        defs = _FILE_DEFS[code.co_filename] = _parse_file(code.co_filename)
    info = defs.get(code.co_firstlineno)
    if info is not None and info[0] == code.co_name:
        return info
    info = _FALLBACK.get(code)
    if info is None:
        info = _FALLBACK[code] = _inspect_info(fn)
    return info


def _normalized_source(fn) -> str | None:
    return _source_info(fn)[1]


def _referenced_private_fns(fn) -> dict[str, types.FunctionType]:
    """Module-private package functions `fn` references, by AST walk of
    its source: bare ``_name`` loads resolved against the function's own
    module globals, plus names bound by ``from <mod> import _name``
    statements inside the body (the cross-module pattern the plans
    modules use; relative imports resolve against the function's own
    package). Unresolvable sources return {} — the main hash still
    covers the function itself. The names come from the memoized source
    facts; only their resolution to live objects runs on every call.

    Coverage limit (documented, r9 advisor): ONLY ``_``-prefixed
    FunctionType references are in the closure. Public helpers
    (``duplicate_clusters``, ``memo_parquet``) and module constants are
    outside both hashes — changes there rely on the consumer's own
    source or the round-end review to re-enter the window."""
    _, src, refs = _source_info(fn)
    if src is None:
        return {}
    mod = sys.modules.get(getattr(fn, "__module__", ""), None)
    mod_globals = getattr(mod, "__dict__", {})
    found: dict[str, types.FunctionType] = {}
    for module, level, ident in refs:
        if module is None:
            obj = mod_globals.get(ident)
            if isinstance(obj, types.FunctionType) and getattr(
                obj, "__module__", ""
            ).startswith(_PKG_PREFIX):
                found[f"{obj.__module__}.{obj.__qualname__}"] = obj
            continue
        target = module
        if level:
            # relative import: resolve against the module the function
            # actually lives in (r9 advisor: importing the top package
            # instead silently dropped `from .dedup import _helper`
            # helpers from the closure — the exact blind spot the
            # helpers hash exists to close)
            pkg = getattr(mod, "__package__", None) or getattr(
                fn, "__module__", ""
            ).rpartition(".")[0]
            try:
                target = importlib.util.resolve_name("." * level + module, pkg)
            except (ImportError, ValueError):
                continue
            if not target.startswith(_PKG_PREFIX):
                continue
        try:
            src_mod = importlib.import_module(target)
        except ImportError:
            continue
        obj = getattr(src_mod, ident, None)
        if isinstance(obj, types.FunctionType):
            found[f"{obj.__module__}.{obj.__qualname__}"] = obj
    found.pop(f"{fn.__module__}.{fn.__qualname__}", None)
    return found


def helper_hash(fn) -> str:
    """Hash over the transitive module-private helper closure of a query
    function (normalized sources, sorted by qualified name). Stable
    ``"0" * 16`` when the query calls no private helpers, so the ledger
    field is always present and comparable."""
    seen: dict[str, types.FunctionType] = {}
    frontier = list(_referenced_private_fns(fn).items())
    while frontier:
        key, obj = frontier.pop()
        if key in seen:
            continue
        seen[key] = obj
        frontier.extend(_referenced_private_fns(obj).items())
    if not seen:
        return "0" * 16
    h = hashlib.sha256()
    for key in sorted(seen):
        h.update(key.encode("utf-8"))
        h.update(b"\x00")
        h.update((_normalized_source(seen[key]) or "").encode("utf-8"))
        h.update(b"\x01")
    return h.hexdigest()[:16]


def content_hash(fn, oracle: str | None) -> str:
    """Hash of a query implementation: normalized function source
    (trailing-whitespace-insensitive, so formatting churn does not force
    re-verification) + the registered oracle SQL."""
    norm = _normalized_source(fn)
    if norm is None:
        # dynamically-created callable: fall back to stable code-object
        # facets (bytecode + consts repr) so the hash still moves when
        # behavior does
        code = getattr(fn, "__code__", None)
        norm = _normalize(
            repr((getattr(code, "co_code", b""), getattr(code, "co_consts", ())))
        )
    h = hashlib.sha256()
    h.update(norm.encode("utf-8"))
    h.update(b"\x00")
    h.update((oracle or "").strip().encode("utf-8"))
    return h.hexdigest()[:16]


def current_hashes() -> dict[str, str]:
    """Content hash for every registered query (imports all modules)."""
    from . import registry

    registry.load_all()
    return {
        name: content_hash(fn, registry.ORACLE.get(name))
        for name, fn in registry.QUERIES.items()
    }


def current_helper_hashes() -> dict[str, str]:
    """Transitive private-helper hash for every registered query."""
    from . import registry

    registry.load_all()
    return {name: helper_hash(fn) for name, fn in registry.QUERIES.items()}


def repo_root() -> Path:
    return Path(__file__).resolve().parents[1]


def load_ledger(root: Path | None = None) -> dict[str, dict] | None:
    """The recorded ledger, or None if no ledger exists yet (legacy
    behavior: all green rows count)."""
    path = Path(root or repo_root()) / HASH_FILE
    if not path.exists():
        return None
    try:
        data = json.loads(path.read_text())
    except (OSError, ValueError):
        return None
    return data if isinstance(data, dict) else None


def update_ledger(round_no: int, root: Path | None = None) -> dict[str, int]:
    """Refresh QUERY_HASHES.json against the live registry.

    Returns {"new": n, "changed": n, "unchanged": n, "removed": n}.
    """
    root = Path(root or repo_root())
    old = load_ledger(root) or {}
    cur = current_hashes()
    cur_helpers = current_helper_hashes()
    out: dict[str, dict] = {}
    stats = {"new": 0, "changed": 0, "unchanged": 0, "removed": 0}
    for name, h in sorted(cur.items()):
        prev = old.get(name)
        hh = cur_helpers.get(name, "0" * 16)
        if prev is None:
            out[name] = {"hash": h, "helpers": hh, "since_round": round_no}
            stats["new"] += 1
        elif prev.get("hash") != h or (
            "helpers" in prev and prev["helpers"] != hh
        ):
            # main source moved, or a recorded private-helper closure
            # moved — either way the implementation changed since the
            # last green and must re-enter the verification window
            out[name] = {"hash": h, "helpers": hh, "since_round": round_no}
            stats["changed"] += 1
        else:
            # unchanged main hash; record (or refresh a first-time)
            # helpers hash without bumping since_round — pre-r9 entries
            # have no helper baseline to compare against (documented
            # migration rule in the module docstring)
            out[name] = {**prev, "helpers": hh}
            stats["unchanged"] += 1
    stats["removed"] = len([n for n in old if n not in cur])
    (root / HASH_FILE).write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return stats


def main(argv: list[str] | None = None) -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    up = sub.add_parser("update", help="refresh QUERY_HASHES.json")
    up.add_argument("--round", type=int, required=True, dest="round_no")
    up.add_argument("--root", default=None)
    st = sub.add_parser("stale", help="list queries whose hash diverged from the ledger")
    st.add_argument("--root", default=None)
    ns = ap.parse_args(argv)
    if ns.cmd == "update":
        stats = update_ledger(ns.round_no, ns.root and Path(ns.root))
        print(json.dumps(stats))
    elif ns.cmd == "stale":
        ledger = load_ledger(ns.root and Path(ns.root)) or {}
        cur = current_hashes()
        stale = sorted(
            n for n, h in cur.items() if n not in ledger or ledger[n].get("hash") != h
        )
        print(json.dumps(stale))


if __name__ == "__main__":
    main()
