"""Curation operators: deterministic splits/samples, sequence packing,
contamination detection (SURVEY §2.B.11 north-star; tests mirror the
oracle-parity strategy — the split hash is replayed in DuckDB here the
same way driver oracles replay query semantics)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from snapflow_spark.operators.curation import (
    contamination_pairs,
    pack_sequences,
    split_by_hash,
    stratified_sample_by_hash,
)
from snapflow_spark.session import scope


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, ["en", "de", "fr"][i % 3], f"doc {i} body " + ("tok " * (i % 7)))
        for i in range(600)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, lang string, text string")


def test_split_by_hash_deterministic_and_balanced(docs):
    a = {r.doc_id: r.split for r in split_by_hash(docs, test_frac=0.2).collect()}
    b = {
        r.doc_id: r.split
        for r in split_by_hash(docs.repartition(13), test_frac=0.2).collect()
    }
    assert a == b  # invariant under partitioning
    frac = sum(1 for v in a.values() if v == "test") / len(a)
    assert 0.12 < frac < 0.28  # 600 docs at 20%: well within binomial range

    # cross-engine: DuckDB replays the sha256-bucket assignment exactly
    duck = dict(
        duckdb.sql(
            """
            SELECT i AS doc_id,
                   CASE WHEN CAST(list_sum(list_transform(range(0, 8), j ->
                          (CAST(instr('0123456789abcdef',
                                substr(sha256('split-v1' || CAST(i AS VARCHAR)), j + 1, 1))
                           AS BIGINT) - 1) << (4 * (7 - CAST(j AS INT))))) AS BIGINT)
                        % 10000 < 2000
                        THEN 'test' ELSE 'train' END AS split
            FROM range(600) t(i)
            """
        ).fetchall()
    )
    assert a == duck


def test_split_salt_rerolls(docs):
    a = {r.doc_id: r.split for r in split_by_hash(docs, salt="v1").collect()}
    b = {r.doc_id: r.split for r in split_by_hash(docs, salt="v2").collect()}
    assert a != b
    assert set(a) == set(b)


def test_stratified_sample_rates_and_stability(docs):
    fr = {"en": 1.0, "de": 0.5, "fr": 0.0}
    kept = stratified_sample_by_hash(docs, fr).collect()
    by_lang = {}
    for r in kept:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    assert len(by_lang.get("en", set())) == 200  # frac 1.0: all 200
    assert "fr" not in by_lang  # frac 0.0: none
    assert 60 <= len(by_lang.get("de", set())) <= 140  # frac 0.5 of 200
    # stable under repartition (the sampleBy failure mode)
    kept2 = {
        r.doc_id
        for r in stratified_sample_by_hash(docs.repartition(7), fr).collect()
    }
    assert {r.doc_id for r in kept} == kept2
    # unknown strata use default_frac
    none_kept = stratified_sample_by_hash(docs, {"xx": 1.0}).count()
    assert none_kept == 0


def test_pack_sequences_exact_layout(spark):
    rows = [(1, 100), (2, 50), (3, 80), (4, 200), (5, 10)]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tokens int")
    out = {
        r.doc_id: (r.chunk_start, r.chunk_id, r.chunk_spans)
        for r in pack_sequences(df, budget=128).collect()
    }
    # concat order 1..5: starts 0,100,150,230,430
    assert out[1] == (0, 0, False)  # [0,100) inside chunk 0
    assert out[2] == (100, 0, True)  # [100,150) crosses 128
    assert out[3] == (150, 1, False)  # [150,230) inside chunk 1
    assert out[4] == (230, 1, True)  # [230,430) crosses 256 and 384
    assert out[5] == (430, 3, False)


def test_pack_sequences_per_partition(spark):
    rows = [(i, "en" if i % 2 == 0 else "de", 60) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, n_tokens int")
    out = pack_sequences(df, budget=100, partition_col="lang").collect()
    for r in out:
        rank = sorted(x.doc_id for x in out if x.lang == r.lang).index(r.doc_id)
        assert r.chunk_start == 60 * rank  # cumsum restarts per lang
        assert r.chunk_id == (60 * rank) // 100


def test_pack_sequences_zero_token_doc(spark):
    df = spark.createDataFrame(
        [(1, 0), (2, 100)], "doc_id bigint, n_tokens int"
    )
    out = {r.doc_id: (r.chunk_start, r.chunk_spans) for r in pack_sequences(df, 64).collect()}
    assert out[1] == (0, False)  # empty doc occupies nothing, spans nothing
    assert out[2] == (0, True)


def test_contamination_detects_planted_leak(spark):
    leak = "alpha beta gamma delta epsilon zeta eta theta"  # exactly 8 tokens
    train_rows = [
        (1, f"clean document one with its own words {0}"),
        (2, f"prefix text {leak} suffix text"),
        (3, "another clean one entirely different tokens here"),
    ]
    eval_rows = [(100, f"benchmark question {leak} benchmark answer")]
    train = spark.createDataFrame(train_rows, "doc_id bigint, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id bigint, text string")
    got = contamination_pairs(train, ev, n=8).collect()
    assert [(r.train_id, r.eval_id, r.n_shared) for r in got] == [(2, 100, 1)]
    # shuffle-join fallback agrees with the broadcast path
    got2 = contamination_pairs(train, ev, n=8, broadcast_eval=False).collect()
    assert [(r.train_id, r.eval_id, r.n_shared) for r in got2] == [(2, 100, 1)]


def test_contamination_min_overlap_threshold(spark):
    a = "one two three four five six seven eight nine ten"
    train = spark.createDataFrame([(1, a)], "doc_id bigint, text string")
    ev = spark.createDataFrame([(9, a)], "doc_id bigint, text string")
    # identical 10-token docs share 3 distinct 8-grams
    got = contamination_pairs(train, ev, n=8, min_overlap=3).collect()
    assert [(r.train_id, r.eval_id, r.n_shared) for r in got] == [(1, 9, 3)]
    assert contamination_pairs(train, ev, n=8, min_overlap=4).count() == 0


def test_repetition_signals_pinned(spark):
    from snapflow_spark.functions.text import repetition_signals_expr

    docs = [
        (1, "a b c d e"),                      # no repeats
        (2, "x y x y x y"),                   # heavy 2-gram repetition
        (3, "line one\nline one\nline two\n\n"),  # dup line, empty ignored
        (4, ""),                               # degenerate
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {r.doc_id: r.sig.asDict() for r in
           df.select("doc_id", repetition_signals_expr("text").alias("sig")).collect()}
    assert out[1] == {"dup_line_frac": 0.0, "dup_2gram_frac": 0.0, "dup_3gram_frac": 0.0}
    # "x y x y x y": 2-grams = [xy, yx, xy, yx, xy] -> 5 total, 2 distinct
    assert abs(out[2]["dup_2gram_frac"] - 3 / 5) < 1e-12
    # 3-grams = [xyx, yxy, xyx, yxy] -> 4 total, 2 distinct
    assert abs(out[2]["dup_3gram_frac"] - 2 / 4) < 1e-12
    assert abs(out[3]["dup_line_frac"] - 1 / 3) < 1e-12
    assert out[4] == {"dup_line_frac": 0.0, "dup_2gram_frac": 0.0, "dup_3gram_frac": 0.0}


def test_dedup_lines_preserves_order(spark):
    from snapflow_spark.functions.text import dedup_lines_expr

    df = spark.createDataFrame(
        [(1, "nav\nbody one\nnav\nbody two\nnav")], "doc_id bigint, text string"
    )
    assert df.select(dedup_lines_expr("text").alias("t")).first().t == "nav\nbody one\nbody two"


def test_scrub_pii(spark):
    from snapflow_spark.functions.text import scrub_pii_expr

    cases = [
        ("mail me at john.doe+x@example.co.uk now", "mail me at <EMAIL> now"),
        ("see https://a.b/c?d=1#e and http://x.y", "see <URL> and <URL>"),
        ("server 10.0.255.1 down", "server <IP> down"),
        ("call 555-867-5309 or (415) 555 2671", "call <PHONE> or <PHONE>"),
        ("version 1.2.3 stays, math 2+2=4 stays", "version 1.2.3 stays, math 2+2=4 stays"),
    ]
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(cases)], "i bigint, text string")
    got = {r.i: r.t for r in df.select("i", scrub_pii_expr("text").alias("t")).collect()}
    for i, (_src, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_split_and_sample_threshold_consistency(docs):
    """split_by_hash and stratified_sample_by_hash must derive the SAME
    bucket threshold from the same fraction. 0.35 is not exactly
    representable in binary (0.35 * 10000 = 3499.999...), so a
    truncating SQL cast gives 3499 where python round() gives 3500 —
    the off-by-one-bucket inconsistency this pins down."""
    frac = 0.35
    test_ids = {
        r.doc_id
        for r in split_by_hash(docs, test_frac=frac, salt="s").collect()
        if r.split == "test"
    }
    sampled = {
        r.doc_id
        for r in stratified_sample_by_hash(
            docs, {"en": frac, "de": frac, "fr": frac}, salt="s"
        ).collect()
    }
    assert test_ids == sampled


def _excised(spark, rows, n=4, **kw):
    from snapflow_spark.operators.dedup_text import excise_shared_spans

    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    with scope():  # releases the victims pin on exit
        out = excise_shared_spans(df, n=n, **kw)
        return {
            r.doc_id: (r.text, r.n_excised_spans, r.n_excised_tokens)
            for r in out.collect()
        }


def test_excise_shared_spans_planted_leak(spark):
    """ExactSubstr shape (Lee et al. 2022): a verbatim leak planted
    inside a longer doc is cut from the lower-priority doc while the
    SURROUNDING text survives byte-exact; the keeper and clean docs
    come back untouched."""
    leak = "the quick brown fox jumps over the lazy dog tonight"  # 10 toks
    rows = [
        (1, "benchmark item: " + leak),  # keeper (min doc_id)
        (2, "intro   words here " + leak + " trailing  tail text"),
        (3, "completely unrelated document with no overlap at all here"),
    ]
    got = _excised(spark, rows)
    assert got[1] == ("benchmark item: " + leak, 0, 0)  # keeper untouched
    assert got[3][0] == rows[2][1] and got[3][1:] == (0, 0)  # clean untouched
    # victim: leak gone, surroundings byte-exact incl. original runs
    # of whitespace ("intro   words", "trailing  tail")
    assert got[2] == ("intro   words here trailing  tail text", 1, 10)


def test_excise_trailing_span_and_whole_doc(spark):
    leak = "alpha beta gamma delta epsilon zeta"  # 6 toks
    rows = [
        (1, leak),                      # keeper holds the whole text
        (2, "prefix words stay " + leak),  # trailing cut
        (3, leak),                      # duplicated WHOLE doc -> empty
    ]
    got = _excised(spark, rows)
    assert got[1] == (leak, 0, 0)
    assert got[2] == ("prefix words stay", 1, 6)  # no trailing whitespace
    assert got[3] == ("", 1, 6)


def test_excise_min_span_threshold_and_priority(spark):
    """min_span_tokens drops short merged spans AFTER merging; a
    priority column (not doc_id) picks the keeper."""
    leak = "one two three four five"  # 5 tokens: spans of 5 with n=4
    rows = [
        (1, "aa bb " + leak + " cc dd"),
        (2, leak + " unrelated trailing words here"),
    ]
    # threshold above the span length -> nothing excised anywhere
    got = _excised(spark, rows, min_span_tokens=6)
    assert got[1][1:] == (0, 0) and got[2][1:] == (0, 0)
    assert got[1][0] == rows[0][1] and got[2][0] == rows[1][1]
    # priority flips the keeper: doc 2 outranks doc 1
    from snapflow_spark.operators.dedup_text import excise_shared_spans

    df = spark.createDataFrame(
        [r + (9 - r[0],) for r in rows], "doc_id bigint, text string, rank bigint"
    )
    with scope():
        out = excise_shared_spans(df, n=4, priority_col="rank")
        got2 = {r.doc_id: (r.text, r.n_excised_spans) for r in out.collect()}
    assert got2[2][0] == rows[1][1]  # keeper now doc 2 (rank 7 < 8)
    assert got2[1] == ("aa bb cc dd", 1)


def test_excise_keeper_is_partial_agg_not_window(spark):
    """VERDICT r7 #2 (de-skew): a boilerplate gram planted in EVERY
    doc must not route through a window over raw gram occurrences —
    the keeper comes from a partial-aggregable groupBy + join, so the
    physical plan contains NO Window node; output semantics are the
    window form's (every holder but the min-(prio,id) doc loses the
    span)."""
    from snapflow_spark.operators.dedup_text import excise_shared_spans

    boiler = "all rights reserved by the example site"  # 7 toks
    rows = [
        (i, f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} " + boiler)
        for i in range(1, 9)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    with scope():
        out = excise_shared_spans(df, n=4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        got = {r.doc_id: r for r in out.collect()}
    assert got[1].text == rows[0][1]  # keeper (min id) untouched
    for i in range(2, 9):
        assert got[i].text == f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}"
        assert got[i].n_excised_tokens == 7


def test_excise_max_df_skips_boilerplate(spark):
    """max_df: a gram held by more distinct docs than the cap is
    boilerplate — left in place everywhere — while a rarer leak is
    still excised. Doc frequency is DISTINCT docs: within-doc repeats
    don't count toward the cap."""
    boiler = "standard footer text appears on every page"  # 7 toks
    leak = "rare leaked span of unique tokens here"        # 7 toks
    rows = [(i, f"body {i} " + boiler) for i in range(1, 7)]  # 6 distinct docs
    # the leak occurs 6 times across the corpus (5 in the keeper, 1 in
    # the victim) but in only 2 DISTINCT docs: with max_df=5 the boiler
    # (df=6) is skipped while the leak (df=2) is excised — and an
    # occurrence-counting implementation would wrongly skip the leak
    # too (6 occurrences > 5)
    rows += [
        (7, "keeper carries " + " ".join([leak] * 5)),
        (8, "victim has " + leak + " tail word"),
    ]
    got = _excised(spark, rows, max_df=5)
    for i in range(1, 7):
        assert got[i][1:] == (0, 0) and boiler in got[i][0]
    assert got[7][1:] == (0, 0)
    assert got[8] == ("victim has tail word", 1, 7)


def test_excise_sha256_mode_parity_and_min_gram(spark):
    """hash_fn='sha256' (the oracle-replayable tier): identical
    surgery output to the xxhash64 production mode, plus a
    min_excised_gram column carrying the smallest marked gram hash —
    cross-checked against hashlib on the planted leak. cache_victims
    =False leaves no persisted table behind."""
    import hashlib

    from snapflow_spark.operators.dedup_text import excise_shared_spans

    leak = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, "benchmark item: " + leak),
        (2, "intro   words here " + leak + " trailing  tail text"),
        (3, "completely unrelated document with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    with scope():
        base = excise_shared_spans(df, n=4)
        got64 = {
            r.doc_id: (r.text, r.n_excised_spans, r.n_excised_tokens)
            for r in base.collect()
        }
    out = excise_shared_spans(df, n=4, hash_fn="sha256", cache_victims=False)
    got256 = {r.doc_id: r for r in out.collect()}
    assert {
        k: (v.text, v.n_excised_spans, v.n_excised_tokens)
        for k, v in got256.items()
    } == got64
    # victims carry the min marked gram hash; clean docs carry NULL
    assert got256[1].min_excised_gram is None
    assert got256[3].min_excised_gram is None
    toks = leak.split()
    shared = [" ".join(toks[i : i + 4]) for i in range(len(toks) - 3)]
    expect = min(hashlib.sha256(g.encode()).hexdigest() for g in shared)
    assert got256[2].min_excised_gram == expect
    with pytest.raises(ValueError, match="hash_fn"):
        excise_shared_spans(df, hash_fn="md5")


def test_excise_short_docs_pass_through(spark):
    """Docs shorter than n tokens hold no n-gram: exact short-doc
    duplicates pass through UNTOUCHED (no victim marking, no python) —
    'n is the minimum detectable span' (ADVICE r7; whole-doc dupes
    below n are exact_dedup's job)."""
    rows = [
        (1, "tiny duplicate doc"),   # 3 toks < n=4, duplicated
        (2, "tiny duplicate doc"),
        (3, "a long enough document with many unique tokens inside"),
    ]
    got = _excised(spark, rows)
    for i, text in ((1, rows[0][1]), (2, rows[1][1]), (3, rows[2][1])):
        assert got[i] == (text, 0, 0)


def test_excise_composes_into_curation_pipeline(spark):
    """Excision slots between dedup and the split/pack stages of the
    curation pipeline: exact dedup -> span excision -> deterministic
    split -> packing, over the documents table plus one planted
    contaminated pair; schema and determinism survive the composition."""
    from snapflow_spark.catalog import load_table
    from snapflow_spark.functions.text import token_count_expr
    from snapflow_spark.operators.dedup_text import (
        exact_dedup,
        excise_shared_spans,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    leak = " ".join(f"leaked{i}" for i in range(12))
    extra = spark.createDataFrame(
        [
            (900001, "en", "keeper doc carrying " + leak),
            (900002, "en", "victim prefix " + leak + " victim suffix"),
        ],
        "doc_id bigint, lang string, text string",
    )
    base = d.unionByName(extra)
    keep = exact_dedup(base, text_col="text", id_col="doc_id").select("doc_id")
    with scope():  # releases both runs' victims pins on exit
        surg = excise_shared_spans(base.join(keep, "doc_id", "left_semi"), n=8)
        out = split_by_hash(
            surg.withColumn("n_toks", token_count_expr("text")), test_frac=0.1
        )
        packed = pack_sequences(
            out.where(F.col("split") == "train"),
            budget=512,
            token_col="n_toks",
            partition_col="lang",
        )
        assert packed.count() > 0
        vict = {
            r.doc_id: r for r in surg.where(F.col("doc_id") > 900000).collect()
        }
        assert vict[900002].text == "victim prefix victim suffix"
        assert vict[900002].n_excised_tokens == 12
        assert vict[900001].text.endswith(leak)  # keeper intact
        # determinism: a second run assigns identical splits + texts
        surg2 = excise_shared_spans(base.join(keep, "doc_id", "left_semi"), n=8)
        again = split_by_hash(
            surg2.withColumn("n_toks", token_count_expr("text")), test_frac=0.1
        )
        a = {(r.doc_id, r.split, r.text) for r in out.collect()}
        b = {(r.doc_id, r.split, r.text) for r in again.collect()}
    assert a == b


def _naive_ffd(items, budget):
    """O(n^2) first-fit-decreasing reference: items = [(id, size)]."""
    order = sorted(items, key=lambda t: (-t[1], t[0]))
    bins, assign = [], {}
    for i, s in order:
        if s > budget:
            assign[i] = len(bins)
            bins.append(0)  # closed oversize bin
            continue
        for b, rem in enumerate(bins):
            if rem >= s:
                bins[b] -= s
                assign[i] = b
                break
        else:
            assign[i] = len(bins)
            bins.append(budget - s)
    return assign


def test_pack_bfd_matches_naive_reference_and_caps(spark):
    from snapflow_spark.operators.curation import pack_sequences_bfd

    rng = __import__("random").Random(7)
    items = [(i, rng.randint(1, 90)) for i in range(200)]
    df = spark.createDataFrame(items, "doc_id bigint, n_tokens long")
    out = pack_sequences_bfd(df, budget=100).collect()
    got = {r.doc_id: r.chunk_bin for r in out}
    assert got == _naive_ffd(items, 100)
    # no bin overflows; every doc assigned
    fill = {}
    for i, s in items:
        fill[got[i]] = fill.get(got[i], 0) + s
    assert all(v <= 100 for v in fill.values())
    assert not any(r.chunk_oversize for r in out)
    # FFD packs tighter than sequential running-sum chunk count
    n_bins = len(fill)
    seq_bins = 0
    acc = 0
    for i, s in sorted(items):
        if acc + s > 100:
            seq_bins += 1
            acc = 0
        acc += s
    assert n_bins <= seq_bins + 1


def test_pack_bfd_oversize_shards_and_determinism(spark):
    from snapflow_spark.operators.curation import pack_sequences_bfd

    rows = [
        (1, "en", 150),  # oversize: own bin
        (2, "en", 60), (3, "en", 50), (4, "en", 40),
        (5, "de", 80), (6, "de", 30),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, n_tokens long")
    out = {r.doc_id: r for r in pack_sequences_bfd(
        df, budget=100, partition_col="lang").collect()}
    assert out[1].chunk_oversize and not out[2].chunk_oversize
    # en: oversize bin + (60+40) + (50): sizes desc = 150,60,50,40 ->
    # bins: [150closed], [60], [50] then 40 first-fits into the 60-bin
    assert out[2].chunk_bin == out[4].chunk_bin != out[3].chunk_bin
    # de packs independently (its own bin ids start at 0): 80+30=110
    # exceeds the budget, so the two docs take bins 0 and 1
    assert (out[5].chunk_bin, out[6].chunk_bin) == (0, 1)
    again = {r.doc_id: r.chunk_bin for r in pack_sequences_bfd(
        df.repartition(5), budget=100, partition_col="lang").collect()}
    assert again == {k: v.chunk_bin for k, v in out.items()}


# --- document chunking (round 10) -----------------------------------------


def test_chunk_text_windows_and_overlap(spark):
    from snapflow_spark.operators.curation import chunk_text

    words = [f"t{i:03d}" for i in range(600)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "a b c"), (3, "   "), (4, "solo")],
        "doc_id long, text string",
    )
    rows = chunk_text(df, max_tokens=512, overlap=64).collect()
    by = {}
    for r in rows:
        by.setdefault(r.doc_id, []).append(r)
    # 600 tokens at 512/64 (step 448): exactly windows [0:512), [448:600)
    one = sorted(by[1], key=lambda r: r.chunk_idx)
    assert [(r.chunk_idx, r.chunk_start, r.chunk_n_tokens) for r in one] == [
        (0, 0, 512), (1, 448, 152),
    ]
    assert one[0].chunk_text.split() == words[:512]
    assert one[1].chunk_text.split() == words[448:600]
    # overlap: the second window repeats exactly `overlap` tokens
    assert one[1].chunk_text.split()[:64] == words[448:512]
    # short docs: one window; token-less docs keep ONE empty window
    assert [(r.chunk_idx, r.chunk_n_tokens) for r in by[2]] == [(0, 3)]
    assert [(r.chunk_idx, r.chunk_n_tokens, r.chunk_text) for r in by[3]] == [
        (0, 0, "")
    ]
    assert [(r.chunk_idx, r.chunk_n_tokens) for r in by[4]] == [(0, 1)]


def test_chunk_text_exact_boundaries_and_guards(spark):
    import pytest

    from snapflow_spark.operators.curation import chunk_text

    # a doc exactly max_tokens long: ONE window, no empty tail
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(8)))], "doc_id long, text string"
    )
    assert chunk_text(df, max_tokens=8).count() == 1
    # 9 tokens at 8/0: two windows, second of length 1
    df9 = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(9)))], "doc_id long, text string"
    )
    got = sorted(
        (r.chunk_idx, r.chunk_n_tokens)
        for r in chunk_text(df9, max_tokens=8).collect()
    )
    assert got == [(0, 8), (1, 1)]
    with pytest.raises(ValueError, match="overlap"):
        chunk_text(df, max_tokens=8, overlap=8)
    with pytest.raises(ValueError, match="max_tokens"):
        chunk_text(df, max_tokens=0)


def test_chunk_text_plan_and_composition(spark):
    """Map-only codegen (no shuffle, no python) and the real hand-off:
    windows feed pack_sequences on their own token counts."""
    from snapflow_spark.operators.curation import chunk_text, pack_sequences

    df = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(50 + i))) for i in range(10)],
        "doc_id long, text string",
    )
    chunks = chunk_text(df, max_tokens=16, overlap=4)
    plan = chunks._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    keyed = chunks.selectExpr(
        "concat(doc_id, '#', chunk_idx) AS doc_id",
        "chunk_n_tokens AS n_tokens",
    )
    packed = pack_sequences(keyed, budget=64)
    assert packed.count() == chunks.count()


def test_yaml_builtin_chunk_text(spark):
    from snapflow_spark.plans.yaml_config import BUILTINS

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(20)))], "doc_id long, text string"
    )
    out = BUILTINS["core.chunk_text"](spark, df, max_tokens=8, overlap=2)
    assert out.count() == 3  # step 6: starts 0,6,12 cover all 20
