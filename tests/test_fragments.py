"""Parity pins for expression-fragment memos in the session-state
registry (``session.memo`` with the active SparkContext as owner).

The memo must be invisible to query semantics: a query constructed
twice in one session (second construction served from the memo) must
analyze to the same logical plan, the memo must never outlive or
cross SparkContexts, and distinct tuple keys must never collide.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import functions as F

from snapflow_spark import session
from snapflow_spark.session import memo


def lookup(owner, key: tuple):
    """The registry's live entry for (owner, key), or None."""
    return session._OWNERS.get(owner, {}).get(key)


def _same_result(df1, df2) -> bool:
    """Catalyst's own plan-equivalence check (normalizes exprIds)."""
    p1 = df1._jdf.queryExecution().analyzed()
    p2 = df2._jdf.queryExecution().analyzed()
    return bool(p1.sameResult(p2))


def test_memo_hits_and_returns_identical_object(spark):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return F.length(F.col("x"))

    a = memo(("test.frag", "x"), build)
    b = memo(("test.frag", "x"), build)
    assert a is b
    assert calls["n"] == 1
    # a different key builds fresh
    c = memo(("test.frag", "y"), lambda: F.length(F.col("y")))
    assert c is not a


def test_memo_is_keyed_by_context_and_bounded(spark, monkeypatch):
    sc = spark.sparkContext
    key = ("test.frag", "ctx")
    frag = memo(key, lambda: F.length(F.col("ctx")))
    # stored under the active SparkContext, not under the session
    entry = lookup(sc, key)
    assert entry is not None and entry.value is frag
    assert lookup(spark, key) is None
    # with no active context nothing is stored: every call builds fresh
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    n1 = memo(("test.frag", "no_ctx"), object)
    n2 = memo(("test.frag", "no_ctx"), object)
    assert n1 is not n2
    monkeypatch.undo()
    assert lookup(sc, ("test.frag", "no_ctx")) is None
    # cap: past MAX_ENTRIES the memo degrades to build-fresh, never grows
    size = len(session._OWNERS[sc])
    monkeypatch.setattr(session, "MAX_ENTRIES", size)
    o1 = memo(("test.overflow",), lambda: F.lit(1))
    o2 = memo(("test.overflow",), lambda: F.lit(1))
    assert o1 is not o2
    assert lookup(sc, ("test.overflow",)) is None
    assert len(session._OWNERS[sc]) == size


def test_memo_tuple_keys_do_not_collide(spark):
    """Keys that were equal as ``|``-joined strings ("test.sep|a|b|c")
    — a column name containing ``|`` — are distinct tuple keys, so
    each gets its own entry and its own fragment."""
    sc = spark.sparkContext
    k1 = ("test.sep", "a|b", "c")
    k2 = ("test.sep", "a", "b|c")
    assert "|".join(k1) == "|".join(k2)
    f1 = memo(k1, lambda: F.concat(F.col("`a|b`"), F.col("c")))
    f2 = memo(k2, lambda: F.concat(F.col("a"), F.col("`b|c`")))
    assert f1 is not f2
    assert lookup(sc, k1).value is f1
    assert lookup(sc, k2).value is f2
    df = spark.createDataFrame(
        [("x", "y", "z", "w")], "`a|b` string, c string, a string, `b|c` string"
    )
    row = df.select(f1.alias("one"), f2.alias("two")).first()
    assert (row.one, row.two) == ("xy", "zw")


def test_reconstructed_query_plans_are_equivalent(spark, tmp_path):
    """A fragment-consuming query built twice (cold memo, then warm)
    analyzes to the same plan — the round-18 plan-equality pin for the
    construction-chatter memos."""
    df = spark.createDataFrame(
        [(1, "the cat and the hat", "en"), (2, "der die das und", "de"),
         (3, None, "en"), (4, "a b a b a b a b a b", "fr")],
        "doc_id long, text string, lang string",
    )

    from snapflow_spark.operators.c4 import c4_pass_expr, c4_signals
    from snapflow_spark.operators.gopher import (
        gopher_pass_expr,
        gopher_signals,
    )

    def build_once():
        g = gopher_signals(df).where(gopher_pass_expr())
        c = c4_signals(df).where(c4_pass_expr())
        return g.select("doc_id"), c.select("doc_id")

    g1, c1 = build_once()
    g2, c2 = build_once()  # memo-served second construction
    assert _same_result(g1, g2)
    assert _same_result(c1, c2)
    # and the values agree (tiny eager check)
    assert sorted(r.doc_id for r in g1.collect()) == sorted(
        r.doc_id for r in g2.collect()
    )


def test_text_fragment_builders_memoize_only_string_inputs(spark):
    from snapflow_spark.functions.text import fingerprint_expr, tokens_expr

    s1 = tokens_expr("text")
    s2 = tokens_expr("text")
    assert s1 is s2  # string input: memoized
    c1 = tokens_expr(F.col("text"))
    c2 = tokens_expr(F.col("text"))
    assert c1 is not c2  # Column input: built fresh
    f1 = fingerprint_expr("text")
    f2 = fingerprint_expr("text", n_chars=8)
    assert f1 is not f2  # params are part of the key


def test_shared_fragment_used_twice_in_one_plan(spark):
    """The SAME memoized fragment object may appear in two branches of
    one plan (e.g. a union) — resolution must stay per-occurrence."""
    from snapflow_spark.functions.text import token_count_expr

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e")], "doc_id long, text string"
    )
    frag = token_count_expr("text")
    u = df.select(frag.alias("n")).unionAll(df.select(frag.alias("n")))
    assert sorted(r.n for r in u.collect()) == [2, 2, 3, 3]
