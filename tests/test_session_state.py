"""The session-state registry (snapflow_spark/session.py): one mechanism
for plan memos, staged layouts, pins and temp dirs, with a session and
an invocation lifetime.

Pin counts are read from the JVM's live persisted-RDD map (the
benchmark's ``pins`` figure). They are compared as sets of RDD ids
taken by the invocations under test, so persists that earlier tests
left for the context cleaner cannot make the counts drift.
"""

from __future__ import annotations

import ast
import gc
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from snapflow_spark import session
from snapflow_spark.catalog import DEFAULT_SF_DIR
from snapflow_spark.registry import all_queries
from snapflow_spark.session import memo, pin, scope, temp_dir

# the smaller fixture scale factors sit beside the catalog's default one
SF = str(Path(DEFAULT_SF_DIR).parent / "sf0.001")
SF_01 = str(Path(DEFAULT_SF_DIR).parent / "sf0.01")
ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "snapflow_spark"


class _Owner:
    """A weakly referenceable stand-in owner for Spark-free checks."""


def lookup(owner, key: tuple):
    """The registry's live entry for (owner, key), or None."""
    return session._OWNERS.get(owner, {}).get(key)


def _pinned_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _run(spark, name: str, sf: str = SF) -> None:
    all_queries()[name](spark, sf).write.format("noop").mode("overwrite").save()


# --- Spark-free registry semantics -----------------------------------


def test_memo_stamp_owner_isolation_and_owner_death():
    owner, other = _Owner(), _Owner()
    released: list[str] = []
    key = ("test.stamped",)

    def get(o, value, stamp):
        return memo(key, lambda: value, owner=o, stamp=stamp, release=released.append)

    assert get(owner, "a", 1) == "a"
    assert get(owner, "b", 1) == "a"  # same stamp: hit
    assert released == []
    assert get(owner, "b", 2) == "b"  # new stamp: release, rebuild
    assert released == ["a"]
    assert lookup(owner, key).stamp == 2
    assert get(other, "c", 2) == "c"  # owners never share entries
    assert lookup(owner, key).value == "b"
    del owner
    gc.collect()
    assert released == ["a", "b"]  # the owner's death releases its entries


def test_invocation_and_scope_lifetimes(tmp_path):
    owner = _Owner()
    with scope(owner, "q"):
        d1 = temp_dir("t_", tmp_path)
    assert os.path.isdir(d1)  # outlives the call
    with scope(owner, "other"):
        d_other = temp_dir("t_", tmp_path)
    with scope(owner, "q"):
        assert not os.path.exists(d1)  # the next call of q released it
        assert os.path.isdir(d_other)  # another query's entries stay
        with scope(owner, "nested"):  # the outer call holds these
            d_nested = temp_dir("t_", tmp_path)
        with scope():
            d_inner = temp_dir("t_", tmp_path)
        assert not os.path.exists(d_inner)  # a with-scope releases on exit
    assert os.path.isdir(d_nested)
    with scope(owner, "q"):
        pass
    assert not os.path.exists(d_nested)
    d_free = temp_dir("t_", tmp_path)  # unscoped: lives until exit
    assert os.path.isdir(d_free) and d_free in session._LIVE_DIRS
    with scope(owner, "q"):
        d_last = temp_dir("t_", tmp_path)
    del owner
    gc.collect()
    assert not os.path.exists(d_last)  # the owner's death releases it


def test_live_temp_dirs_are_tracked_for_exit(tmp_path):
    """A registered temp dir stays on the exit path's list (removed at
    process exit) until its scope releases it."""
    owner = _Owner()
    with scope(owner, "q"):
        d = temp_dir("t_", tmp_path)
    assert d in session._LIVE_DIRS
    with scope(owner, "q"):
        pass
    assert d not in session._LIVE_DIRS
    assert not os.path.exists(d)


# --- invocation lifetime of declared queries -------------------------


def test_incremental_result_raises_after_reinvocation(spark):
    """q_incremental_semantics returns a lazy read of its warehouse,
    an invocation entry: materialize before re-invoking. The first
    result fails loudly once the query has been invoked again."""
    q = all_queries()["q_incremental_semantics"]
    first = q(spark, SF)
    n = first.count()
    assert n > 0
    second = q(spark, SF)
    with pytest.raises(Exception, match="FILE_NOT_EXIST|does not exist"):
        first.count()
    assert second.count() == n


def test_incremental_warehouse_removed_at_exit(tmp_path):
    """A process that runs q_incremental_semantics and exits leaves no
    incr_* warehouse behind."""
    scratch = ROOT / ".scratch"
    before = set(scratch.glob("incr_*"))
    code = textwrap.dedent(
        f"""
        from snapflow_spark import session
        from snapflow_spark.registry import all_queries
        from snapflow_spark.session import build_session

        spark = build_session("incr-exit", master="local[2]")
        df = all_queries()["q_incremental_semantics"](spark, {SF!r})
        assert df.count() > 0
        (entry,) = session._OWNERS[spark][("invocation", "q_incremental_semantics")].value
        print("WAREHOUSE", entry.value)
        """
    )
    env = dict(os.environ, PYTHONPATH=str(ROOT), SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    (line,) = [ln for ln in out.stdout.splitlines() if ln.startswith("WAREHOUSE ")]
    warehouse = Path(line.split(" ", 1)[1])
    assert warehouse.name.startswith("incr_")
    assert not warehouse.exists()
    assert set(scratch.glob("incr_*")) - before == set()


@pytest.mark.parametrize("name", ["q_dedup_ngram", "q_text_stats"])
def test_pins_constant_across_invocations(spark, name):
    """Each invocation releases the previous one's pins, so the live
    persisted-RDD count is the same after the 2nd and the 3rd call."""
    taken: set[int] = set()
    live = []
    for _ in range(3):
        before = _pinned_ids(spark)
        _run(spark, name)
        after = _pinned_ids(spark)
        taken |= after - before
        live.append(after & taken)
    assert live[1], "the query pins nothing: the check is vacuous"
    assert len(live[2]) == len(live[1])
    assert not live[1] & live[2]  # the 2nd call's pins are released


def test_pipeline_releases_node_pins(spark, tmp_path):
    """run_node releases the pins a node's operators take once the
    node's output is written: a node that pins directly, and the yaml
    core.pagerank builtin (two pins plus per-round checkpoints)."""
    from snapflow_spark.plans import graph, load_graph

    held = []

    def node_fn(spark, input):  # noqa: A002
        out = pin(input.withColumn("w", F.lit(1)))
        held.append(out)
        return out

    g = graph(str(tmp_path / "wh_release"))
    g.source("src")
    g.create_node("n", node_fn, upstream="src")
    g.pipeline.sources["src"].append(
        spark.createDataFrame([(7, "a")], "id long, v string")
    )
    assert g.produce(spark) == 1
    assert not held[0].storageLevel.useMemory
    assert g.read(spark, "n").count() == 1

    pages = spark.createDataFrame(
        [
            ("https://one.com/p", ["https://two.com/a", "https://three.org/"]),
            ("https://two.com/q", ["https://one.com/"]),
        ],
        "target_uri string, links array<string>",
    )
    cfg = {
        "warehouse": str(tmp_path / "wh_graph"),
        "sources": [{"name": "pages"}],
        "nodes": [
            {"name": "edges", "function": "core.link_graph",
             "upstream": "pages", "overwrite": True},
            {"name": "ranks", "function": "core.pagerank",
             "upstream": {"input": "edges"},
             "params": {"iterations": 3}, "overwrite": True},
        ],
    }
    yg = load_graph(cfg)
    for _ in range(2):
        yg.pipeline.sources["pages"].append(pages)
        before = _pinned_ids(spark)
        assert yg.produce(spark) == 2
        assert _pinned_ids(spark) - before == set()
    assert yg.read(spark, "ranks").count() == 3


# --- session entries ---------------------------------------------------


def test_ann_staged_index_lifecycle(spark):
    """The q_similarity_ann index is ONE session entry stamped (sf_dir,
    mtime): a repeat call with the same inputs reuses the SAME trained
    index (no re-training, no new pin); a different sf_dir re-stages
    and releases the stale pin exactly once; a second session gets its
    own entry and is untouched by the first session's re-staging."""
    from snapflow_spark.queries import northstar as ns

    key = ("northstar.ann_index",)
    mine, other = spark.newSession(), spark.newSession()
    assert lookup(mine, key) is None

    def run(s, sf):
        ns.q_similarity_ann(s, sf).write.format("noop").mode("overwrite").save()

    # Asserts on registry entries + per-DataFrame storage levels, NOT on
    # global RDD-block counts: unpersist is non-blocking, so block
    # counts drift while earlier tests' dead pins drain.
    run(mine, SF)
    entry = lookup(mine, key)
    first = entry.value
    assert entry.stamp[0] == SF
    assert first.coded.storageLevel.useMemory  # pinned

    # repeat call, same inputs: the staged index is REUSED — same
    # object, no release
    released = []
    orig_unpersist = first.coded.unpersist
    first.coded.unpersist = lambda *a, **k: (
        released.append(True),
        orig_unpersist(*a, **k),
    )[1]
    run(mine, SF)
    assert lookup(mine, key).value is first
    assert released == []

    # a second session stages its own entry; ours is untouched
    run(other, SF_01)
    other_idx = lookup(other, key).value
    assert other_idx is not first
    assert first.coded.storageLevel.useMemory

    # a DIFFERENT sf_dir in our session re-stages: the stale pin is
    # released exactly once, the other session's stays pinned
    run(mine, SF_01)
    assert released == [True]
    assert lookup(mine, key).stamp[0].endswith("sf0.01")
    assert lookup(mine, key).value is not first
    assert other_idx.coded.storageLevel.useMemory
    for s in (mine, other):
        lookup(s, key).value.coded.unpersist()


def test_isin_seq_entry_keeps_value_types(spark):
    """isin_literals memoizes the converted JVM Seq per (SparkContext,
    typed value tuple): a repeat call reuses the entry, and [1] never
    hits the Seq of [True] (python's True == 1)."""
    from snapflow_spark.functions.psl import isin_literals

    ctx = spark.sparkContext
    vals = [f"gen{i}.example" for i in range(300)]
    isin_literals(F.col("h"), vals)
    key = ("psl.seq",) + tuple(("str", v) for v in vals)
    entry = lookup(ctx, key)
    assert entry is not None
    isin_literals(F.col("h"), list(vals))  # fresh list, same values
    assert lookup(ctx, key) is entry
    isin_literals(F.col("h"), [True])
    isin_literals(F.col("h"), [1])
    as_bool = lookup(ctx, ("psl.seq", ("bool", True)))
    as_int = lookup(ctx, ("psl.seq", ("int", 1)))
    assert as_bool is not None and as_int is not None
    assert as_bool.value is not as_int.value


# --- one mechanism ---------------------------------------------------


def test_session_state_has_one_mechanism():
    """Only session.py may keep session caches: no other module declares
    a WeakKeyDictionary or hangs a ``*_cache(s)`` attribute on an
    object (the old DataFrame pin-handle convention)."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "session.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        rel = path.relative_to(ROOT)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and node.id == "WeakKeyDictionary":
                offenders.append(f"{rel}:{node.lineno} WeakKeyDictionary")
            elif isinstance(node, ast.Attribute) and node.attr == "WeakKeyDictionary":
                offenders.append(f"{rel}:{node.lineno} WeakKeyDictionary")
            elif isinstance(node, ast.alias) and node.name == "WeakKeyDictionary":
                offenders.append(f"{rel} imports WeakKeyDictionary")
            targets = []
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                targets = [node.target]
            for t in targets:
                if isinstance(t, ast.Attribute) and t.attr.endswith(("_cache", "_caches")):
                    offenders.append(f"{rel}:{t.lineno} .{t.attr} =")
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "setattr"
                and len(node.args) > 1
                and isinstance(node.args[1], ast.Constant)
                and str(node.args[1].value).endswith(("_cache", "_caches"))
            ):
                offenders.append(f"{rel}:{node.lineno} setattr {node.args[1].value}")
    assert offenders == []
