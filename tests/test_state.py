"""Session state: one owner, held on the session, never stale.

``namedis_spark.state`` holds every memo the package keeps on the
SparkSession it belongs to. The guard below keeps module-level memos from
coming back; the subprocess test runs the memoized registry paths across
session close and an in-place rewrite of their input files.
"""

from __future__ import annotations

import ast
import glob
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# import-time registration tables, filled once by decorators; not memos
ALLOWED = {
    ("namedis_spark/queries.py", "REGISTRY"),
    ("namedis_spark/queries.py", "_SUBREPORTS"),
}
_EMPTY_CALLS = {"set", "dict", "list", "OrderedDict"}


def _is_empty_container(node: ast.AST | None) -> bool:
    if isinstance(node, (ast.Dict, ast.List, ast.Set)):
        return not (getattr(node, "keys", None) or getattr(node, "elts", None))
    if isinstance(node, ast.Call) and not node.args and not node.keywords:
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        return name in _EMPTY_CALLS
    return False


def _module_level(body):
    """Statements run at import: the module body, into if/try/with blocks,
    not into function or class bodies."""
    for stmt in body:
        yield stmt
        if isinstance(stmt, (ast.If, ast.Try, ast.With)):
            for block in ("body", "orelse", "finalbody"):
                yield from _module_level(getattr(stmt, block, []))
            for h in getattr(stmt, "handlers", []):
                yield from _module_level(h.body)


def _hits(rel: str, tree: ast.Module) -> list[str]:
    hits = []
    for stmt in _module_level(tree.body):
        if isinstance(stmt, ast.Assign):
            targets, value = stmt.targets, stmt.value
        elif isinstance(stmt, ast.AnnAssign):
            targets, value = [stmt.target], stmt.value
        else:
            continue
        if not _is_empty_container(value):
            continue
        for t in targets:
            name = getattr(t, "id", ast.unparse(t))
            if (rel, name) not in ALLOWED:
                hits.append(f"{rel}:{stmt.lineno}: module-level memo {name}")
    hits += [
        f"{rel}:{n.lineno}: global {', '.join(n.names)}"
        for n in ast.walk(tree)
        if isinstance(n, ast.Global)
    ]
    return hits


def test_no_module_level_memos():
    """Per-session state lives in ``namedis_spark.state``, on the session:
    a module-level empty container or a ``global`` statement in the package
    is a process-wide memo that can outlive its session."""
    pattern = os.path.join(ROOT, "namedis_spark", "**", "*.py")
    files = sorted(glob.glob(pattern, recursive=True))
    hits = []
    for path in files:
        rel = os.path.relpath(path, ROOT)
        with open(path) as f:
            hits += _hits(rel, ast.parse(f.read(), filename=path))
    assert not hits, "\n".join(hits)


def test_memo_guard_sees_what_it_forbids():
    src = (
        "A: dict[int, str] = {}\nB = set()\nC = collections.OrderedDict()\n"
        "if True:\n    D = []\nE = {1: 2}\nF = [1]\n"
        "def f():\n    global G\n    H = {}\n"
    )
    hits = _hits("m.py", ast.parse(src))
    assert [h.split(": ", 1)[1] for h in hits] == [
        "module-level memo A",
        "module-level memo B",
        "module-level memo C",
        "module-level memo D",
        "global G",
    ]


_SCRIPT = r"""
import sys
import pyarrow.parquet as pq
from namedis_spark import queries as Q
from namedis_spark.session import close_session, get_spark
from namedis_spark.state import state

d = sys.argv[1]
# feature cache (plus its row count), corpus probe, tracked_persist
QUERIES = (
    "tool_similarity", "tfidf_cosine_pairs", "ann_topk", "minhash_lsh_candidates"
)


def rows(spark, name):
    df = Q.REGISTRY[name].spark_fn(spark, d)
    return sorted(map(tuple, df.toPandas().round(6).astype(str).values))


def second_build_runs_no_job(spark, name):
    sc = spark.sparkContext
    sc.setJobGroup("memo-hit", "second build")
    try:
        Q.REGISTRY[name].spark_fn(spark, d)
        return sc.statusTracker().getJobIdsForGroup("memo-hit") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def empty(st):
    return (st.views, st.files, st.features, st.feature_rows, st.probes,
            st.tracked, st.irregulars) == (None, {}, {}, {}, {}, [], None)


spark = get_spark(master="local[1]", shuffle_partitions=2)
st = state(spark)
before = {q: rows(spark, q) for q in QUERIES}
feats, probes = st.features[d], dict(st.probes)
assert probes, "ann_topk left no corpus probe"
for q in QUERIES:
    assert second_build_runs_no_job(spark, q), q
assert Q._features(spark, d) is feats
assert all(st.probes[k] is v for k, v in probes.items()) and st.probes == probes
assert st.tracked and all(t.is_cached for t in st.tracked)

old = st
close_session(spark)
assert empty(old), old
spark = get_spark(master="local[1]", shuffle_partitions=2)
st = state(spark)
assert st is not old and empty(st), st

# fill the new session's memos, then rewrite two inputs in place
for q in QUERIES:
    rows(spark, q)
stale = dict(st.probes)
for t, keep in (("embeddings", 0.6), ("events", 0.5), ("documents", 0.5)):
    path = f"{d}/{t}.parquet"
    tbl = pq.read_table(path)
    pq.write_table(tbl.slice(0, int(tbl.num_rows * keep)), path)
after = {q: rows(spark, q) for q in QUERIES}
new = [v for k, v in st.probes.items() if k not in stale]
assert new and max(new)[0] < max(stale.values())[0], (stale, st.probes)

# a fresh computation: no memo, no cached plan
state(spark).release()
spark.catalog.clearCache()
fresh = {q: rows(spark, q) for q in QUERIES}
for q in QUERIES:
    assert fresh[q] != before[q], q + ": the rewrite did not change the result"
    assert after[q] == fresh[q], q + ": a memo went stale"
print("STATE-OK")
spark.stop()
"""


def test_memos_survive_close_and_in_place_rewrite(tmp_path):
    """Feature-cached registry queries (one reading the table's memoized
    row count), ann_topk (corpus probe) and a tracked_persist query: a
    second build hits (same objects, no Spark job); close_session empties
    the state and a new session starts empty; after the inputs are
    rewritten in place with fewer rows, each query equals a fresh
    computation over the new files. Runs in its own driver process so the
    suite's session is not stopped."""
    from scripts.regen_goldens import DEFAULT_SF_DIRS

    src = next(p for p in DEFAULT_SF_DIRS if p.endswith("sf0.001"))
    d = str(tmp_path / "sf0.001")
    shutil.copytree(src, d, copy_function=shutil.copyfile)
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, d],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "STATE-OK" in out.stdout
