"""Query content hashes: the one-parse-per-module extractor agrees with
``inspect.getsource``, hashing is paid once per process, and the green
rounds still follow the evidence files on disk. No Spark session."""

import ast
import inspect
import json
import subprocess
import sys
import textwrap
from pathlib import Path

from highload_kafka_streams_spark import qhash
from highload_kafka_streams_spark import registry as reg

ROOT = Path(__file__).resolve().parents[1]


def _closure(fn):
    """The query function plus its transitive private-helper closure."""
    seen = {}
    frontier = [fn]
    while frontier:
        f = frontier.pop()
        key = f"{f.__module__}.{f.__qualname__}"
        if key not in seen:
            seen[key] = f
            frontier.extend(qhash._referenced_private_fns(f).values())
    return seen.values()


def _walk_refs(src):
    """Private names in a standalone parse of one function's source."""
    refs = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Name) and node.id.startswith("_"):
            refs.add((None, 0, node.id))
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level or module.startswith("highload_kafka_streams_spark"):
                refs.update(
                    (module, node.level, a.name)
                    for a in node.names
                    if a.name.startswith("_")
                )
    return refs


def test_extractor_matches_inspect_getsource():
    reg.load_all()
    checked = 0
    for fn in reg.QUERIES.values():
        for f in _closure(fn):
            want = "\n".join(
                line.rstrip() for line in inspect.getsource(f).splitlines()
            ).strip()
            _, src, refs = qhash._source_info(f)
            assert src == want, f.__qualname__
            try:
                old_refs = _walk_refs(textwrap.dedent(want))
            except SyntaxError:
                # a decorated nested def (q_dsl_topology) does not parse
                # on its own; the module parse still places it
                old_refs = refs
            assert refs == old_refs, f.__qualname__
            checked += 1
    assert checked > len(reg.QUERIES)
    # every registered query was placed by its module parse, none fell
    # back to inspect
    assert not [c for c in qhash._FALLBACK if c.co_filename.startswith(str(ROOT))]


def test_ledger_update_is_byte_identical(tmp_path):
    """Re-stamping the committed ledger from the live registry must not
    move a byte: every main and helper hash is what the old per-function
    extraction recorded."""
    committed = (ROOT / qhash.HASH_FILE).read_bytes()
    (tmp_path / qhash.HASH_FILE).write_bytes(committed)
    stats = qhash.update_ledger(10**6, tmp_path)
    assert stats["new"] == stats["changed"] == stats["removed"] == 0, stats
    assert (tmp_path / qhash.HASH_FILE).read_bytes() == committed


def test_repeat_lookup_parses_nothing(monkeypatch):
    first = list(reg.get_queries())
    calls = []

    def counting(name, real):
        return lambda *a, **k: calls.append(name) or real(*a, **k)

    monkeypatch.setattr(ast, "parse", counting("parse", ast.parse))
    monkeypatch.setattr(inspect, "getsource", counting("getsource", inspect.getsource))
    assert list(reg.get_queries()) == first
    assert list(reg.get_oracle_sql()) == [n for n in first if n in reg.ORACLE]
    assert calls == []


def test_hash_memo_keeps_no_trees():
    """The memo holds strings and frozensets only: after the first lookup
    a fresh process tracks at most 5% more objects than right after
    importing the query modules."""
    script = (
        "import gc\n"
        "from highload_kafka_streams_spark import registry\n"
        "registry.load_all(); gc.collect(); n0 = len(gc.get_objects())\n"
        "registry.get_queries(); gc.collect(); n1 = len(gc.get_objects())\n"
        "print(n0, n1)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    n0, n1 = map(int, out.stdout.split())
    assert n1 <= 1.05 * n0, (n0, n1)


def test_green_rounds_follow_rewritten_evidence(tmp_path):
    """The memo covers immutable code only: evidence and ledger files
    rewritten between two calls are read afresh."""
    name = "q_filter"
    live = qhash.current_hashes()[name]
    helpers = qhash.current_helper_hashes()[name]
    green = {"rows_match": True, "schema_match": True,
             "hash_match": True, "err": None}
    recorded = {name: {"hash": live, "helpers": helpers, "since_round": 1}}

    def write(fname, data):
        (tmp_path / fname).write_text(json.dumps(data))

    write("CORRECTNESS_r02.json", {name: green})
    write(qhash.HASH_FILE, recorded)
    assert reg._driver_green_rounds(root=tmp_path) == {name: 2}
    # ledger says the code moved since the evidence -> no longer green
    write(qhash.HASH_FILE, {name: {**recorded[name], "hash": "deadbeefdeadbeef"}})
    assert reg._driver_green_rounds(root=tmp_path) == {}
    assert reg._driver_green_rounds(root=tmp_path, pre_gate=True) == {name: 2}
    # ledger restored, but the latest round errored
    write(qhash.HASH_FILE, recorded)
    write("CORRECTNESS_r03.json", {name: {**green, "err": "boom"}})
    assert reg._driver_green_rounds(root=tmp_path) == {}
    # a newer green round brings it back
    write("CORRECTNESS_r04.json", {name: green})
    assert reg._driver_green_rounds(root=tmp_path) == {name: 4}
