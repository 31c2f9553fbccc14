"""Public Suffix List resolver (functions/psl.py): the full
publicsuffix.org longest-match algorithm as a codegen expression,
checked three ways against each other — Spark expression, pure-Python
reference, and the generated DuckDB SQL replay the 'url' roster
oracle uses — plus parser/compile semantics and the file loader."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from snapflow_spark.functions.psl import (
    compile_psl,
    default_psl,
    load_psl,
    parse_psl,
    public_suffix_len_py,
    registered_domain_py,
    registered_domain_select_items,
)
from snapflow_spark.functions.psl import (
    registered_domain_expr as psl_expr,
)
from snapflow_spark.functions.urls import registered_domain_expr

# (host, expected eTLD+1) — every rule CLASS is represented:
# default '*', 2-level exact, 3-level exact, 1-label wildcard,
# 2-label wildcard, 2-label exception, 3-label exception, ports,
# unregistrable pass-through.
CASES = [
    ("example.com", "example.com"),
    ("a.b.example.com", "example.com"),
    ("news.bbc.co.uk", "bbc.co.uk"),
    ("a.b.ac.uk", "b.ac.uk"),  # VERDICT's multi-level case
    ("deep.shop.example.com.au", "example.com.au"),
    ("shop.example.com.br", "example.com.br"),
    ("data.schools.k12.ca.us", "schools.k12.ca.us"),  # 3-level exact
    ("foo.site.example.ck", "site.example.ck"),  # wildcard *.ck
    ("example.ck", "example.ck"),  # host IS *.ck's match → pass-through
    ("x.www.ck", "www.ck"),  # exception !www.ck
    ("www.ck", "www.ck"),  # exception host itself registrable
    ("ck", "ck"),  # bare TLD: wildcard needs a label, default '*'
    ("a.blog.kawasaki.jp", "a.blog.kawasaki.jp"),  # wildcard *.kawasaki.jp
    ("b.a.blog.kawasaki.jp", "a.blog.kawasaki.jp"),
    ("x.city.kawasaki.jp", "city.kawasaki.jp"),  # exception !city.kawasaki.jp
    ("shop.co.jp", "shop.co.jp"),
    ("localhost", "localhost"),
    ("example.com:8080", "example.com"),
    ("bbc.co.uk", "bbc.co.uk"),
    ("co.uk", "co.uk"),  # unregistrable public suffix → pass-through
    ("", ""),
]


def test_python_reference_cases():
    for host, want in CASES:
        assert registered_domain_py(host) == want, host


def test_spark_expression_matches_reference_in_one_batch(spark):
    df = spark.createDataFrame([(h,) for h, _ in CASES], "h string")
    got = [
        r.d
        for r in df.select(registered_domain_expr("h").alias("d"))
        .orderBy(F.monotonically_increasing_id())
        .collect()
    ]
    # orderBy(mid) is not stable across partitions for createDataFrame
    # of tiny lists; compare as multisets keyed by input instead
    rows = df.select(
        F.col("h"), registered_domain_expr("h").alias("d")
    ).collect()
    by_host = {r.h: r.d for r in rows}
    for host, want in CASES:
        assert by_host[host] == want, host
    assert sorted(got) == sorted(by_host.values())


def test_duckdb_replay_matches_reference():
    items = registered_domain_select_items("host")
    hosts = [h for h, _ in CASES if h]  # '' splits differently only pre-gate
    rows = duckdb.connect().execute(
        f"SELECT host, rd FROM (SELECT host, {items} "
        "FROM (SELECT unnest(?) AS host))",
        [hosts],
    ).fetchall()
    for host, rd in rows:
        assert rd == registered_domain_py(host), host


def test_spark_expression_stays_codegen(spark):
    # the whole resolver must compile to expressions (InSet probes),
    # not a python UDF: no BatchEvalPython / ArrowEvalPython node
    df = spark.range(100).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example.co.uk")).alias("h")
    )
    plan = (
        df.select(registered_domain_expr("h").alias("d"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan
    # '*(n)' prefixes mark WholeStageCodegen stages in toString form
    assert "*(1) Project" in plan


def test_parse_and_compile_semantics():
    rules = parse_psl(
        """
        // comment line
        com
        co.uk  ac.uk
        *.ck
        !www.ck

        // ===END ICANN DOMAINS===
        """
    )
    assert rules == ["com", "co.uk", "ac.uk", "*.ck", "!www.ck"]
    c = compile_psl(rules)
    # 1-label exacts are redundant with the default '*' rule
    assert 1 not in c.exact
    assert c.exact[2] == frozenset({"co.uk", "ac.uk"})
    assert c.wildcard[1] == frozenset({"ck"})
    assert c.exception[2] == frozenset({"www.ck"})
    assert c.max_labels == 2
    # wildcard bumps max_labels past any exact rule
    assert compile_psl(["*.a.b.c"]).max_labels == 4


def test_load_psl_full_file_format(tmp_path, spark):
    # a production drop-in: the real file's layout (sections, unicode
    # comments, one rule per line) with a rule the snapshot lacks
    p = tmp_path / "public_suffix_list.dat"
    p.write_text(
        "// ===BEGIN ICANN DOMAINS===\n"
        "// xx : https://example.test\n"
        "xx\n"
        "zzz.xx\n"
        "*.wild.xx\n"
        "!ok.wild.xx\n"
        "// ===END ICANN DOMAINS===\n",
        encoding="utf-8",
    )
    c = load_psl(str(p))
    assert registered_domain_py("a.b.zzz.xx", c) == "b.zzz.xx"
    assert registered_domain_py("a.b.wild.xx", c) == "a.b.wild.xx"
    assert registered_domain_py("a.ok.wild.xx", c) == "ok.wild.xx"
    df = spark.createDataFrame([("a.b.zzz.xx",)], "h string")
    assert (
        df.select(psl_expr("h", c).alias("d")).first().d == "b.zzz.xx"
    )


def test_heuristic_fallback_still_available(spark):
    df = spark.createDataFrame([("news.bbc.co.uk",), ("x.k12.ca.us",)], "h string")
    got = [
        r.d
        for r in df.select(
            registered_domain_expr("h", psl="heuristic").alias("d")
        ).collect()
    ]
    assert got[0] == "bbc.co.uk"
    # the heuristic does NOT know k12.ca.us — that's why the PSL exists
    assert got[1] == "ca.us"


def test_expression_python_parity_generated_hosts(spark):
    # cross-product torture set: every suffix class × several label
    # prefixes, one DataFrame pass
    suffixes = [
        "com", "org", "co.uk", "ac.uk", "com.au", "com.br", "gob.mx",
        "k12.ny.us", "cc.tx.us", "us", "ck", "www.ck", "kawasaki.jp",
        "city.kawasaki.jp", "blog.kawasaki.jp", "jp", "co.jp",
        "unknown-tld", "internal",
    ]
    prefixes = ["", "a", "a.b", "a.b.c"]
    hosts = []
    for s in suffixes:
        for p in prefixes:
            hosts.append(f"{p}.{s}" if p else s)
    df = spark.createDataFrame([(h,) for h in hosts], "h string")
    rows = df.select("h", registered_domain_expr("h").alias("d")).collect()
    for r in rows:
        assert r.d == registered_domain_py(r.h), r.h


def test_icann_only_section_filtering(tmp_path):
    text = (
        "// ===BEGIN ICANN DOMAINS===\n"
        "com\nco.uk\n"
        "// ===END ICANN DOMAINS===\n"
        "// ===BEGIN PRIVATE DOMAINS===\n"
        "github.io\nblogspot.com\n"
        "// ===END PRIVATE DOMAINS===\n"
    )
    assert parse_psl(text) == ["com", "co.uk", "github.io", "blogspot.com"]
    assert parse_psl(text, icann_only=True) == ["com", "co.uk"]
    # marker-less input keeps everything either way
    assert parse_psl("com\nco.uk", icann_only=True) == ["com", "co.uk"]
    p = tmp_path / "full.dat"
    p.write_text(text)
    c = load_psl(str(p), icann_only=True)
    # private-suffix host groups at the REGISTERED domain, not the
    # platform suffix, once the private section is dropped
    assert registered_domain_py("user.github.io", c) == "github.io"
    c_all = load_psl(str(p))
    assert registered_domain_py("user.github.io", c_all) == "user.github.io"


def test_isin_literals_one_command_ship_and_cache(spark):
    """Round 17: isin_literals ships a string literal list as ONE py4j
    payload (JVM-side split). Results must match the public
    Column.isin path exactly — including NULL and miss semantics — and
    values the fast path cannot carry (empty string, the separator
    byte) must fall back to the per-element converter unchanged. (The
    memoized Seq entry is pinned in test_session_state.py.)"""
    from snapflow_spark.functions import psl as psl_mod

    vals = sorted(
        {h for h, _ in CASES if h} | {f"gen{i}.example" for i in range(300)}
    )
    df = spark.createDataFrame(
        [("news.bbc.co.uk",), ("gen7.example",), ("absent.example",), (None,)],
        "h string",
    )
    got = df.select(
        psl_mod.isin_literals(F.col("h"), vals).alias("x"),
        F.col("h").isin(*vals).alias("ref"),  # the per-literal public path
    ).collect()
    for r in got:
        assert r.x == r.ref
    odd = ["", "with\x1fsep", "plain.example"]
    got2 = df.select(
        psl_mod.isin_literals(F.col("h"), odd).alias("x"),
        F.col("h").isin(*odd).alias("ref"),
    ).collect()
    for r in got2:
        assert r.x == r.ref
