"""merge_delta — the CDC apply shape (round 15): upsert parity
against a python-reconstructed expected table, clause coverage
(update / delete / dict expressions / insert-only), the
multiple-source-rows guard, idempotent replay, CDF
preimage/postimage pairs, and SetTransaction idempotence."""

from __future__ import annotations

import json
from contextlib import contextmanager
from pathlib import Path

import pytest

from snapflow_spark.sources.delta import (
    delta_snapshot,
    merge_delta,
    read_delta,
    read_delta_cdf,
    write_delta,
)


def _tbl(spark, rows):
    return spark.createDataFrame(
        rows, "id long, val long, grp string"
    )


def _state(spark, path):
    return {
        (r.id, r.val, r.grp) for r in read_delta(spark, path).collect()
    }


def test_merge_upsert_parity_and_idempotent_replay(spark, tmp_path):
    path = tmp_path / "t"
    target = [(i, i * 10, "ab"[i % 2]) for i in range(10)]
    source = [(i, i * 100, "ab"[i % 2]) for i in range(5, 15)]
    write_delta(_tbl(spark, target), path, partition_by=["grp"])

    res = merge_delta(spark, path, _tbl(spark, source), on=["id"])
    assert res == {"rows_matched": 5, "rows_inserted": 5}
    # python-reconstructed expected: source wins on key collision
    expected = {r for r in target if r[0] < 5} | set(source)
    assert _state(spark, path) == expected

    # replay the same changelog: every source row now matches — the
    # table converges to the same state (upsert idempotence)
    res2 = merge_delta(spark, path, _tbl(spark, source), on=["id"])
    assert res2 == {"rows_matched": 10, "rows_inserted": 0}
    assert _state(spark, path) == expected


def test_merge_delete_and_insert_only_clauses(spark, tmp_path):
    path = tmp_path / "t"
    write_delta(
        _tbl(spark, [(i, i, "a") for i in range(6)]), path
    )
    # when_matched="delete": matched keys vanish, unmatched source
    # rows are dropped (no insert clause)
    res = merge_delta(
        spark,
        path,
        _tbl(spark, [(2, 0, "x"), (4, 0, "x"), (99, 0, "x")]),
        on=["id"],
        when_matched="delete",
        when_not_matched=None,
    )
    assert res == {"rows_matched": 2, "rows_inserted": 0}
    assert _state(spark, path) == {
        (i, i, "a") for i in (0, 1, 3, 5)
    }
    # insert-only merge: matched rows untouched, new keys append
    res = merge_delta(
        spark,
        path,
        _tbl(spark, [(3, 999, "x"), (7, 7, "b")]),
        on=["id"],
        when_matched=None,
    )
    assert res == {"rows_matched": 0, "rows_inserted": 1}
    assert _state(spark, path) == {
        (i, i, "a") for i in (0, 1, 3, 5)
    } | {(7, 7, "b")}


def test_merge_dict_set_expressions(spark, tmp_path):
    path = tmp_path / "t"
    write_delta(_tbl(spark, [(1, 10, "a"), (2, 20, "a")]), path)
    res = merge_delta(
        spark,
        path,
        _tbl(spark, [(2, 5, "z"), (3, 30, "b")]),
        on=["id"],
        when_matched={"val": "source.val + target.val"},
    )
    assert res == {"rows_matched": 1, "rows_inserted": 1}
    # grp NOT in the set dict: the target's value is kept
    assert _state(spark, path) == {
        (1, 10, "a"),
        (2, 25, "a"),
        (3, 30, "b"),
    }


def test_merge_multiple_source_rows_matching_raise(spark, tmp_path):
    path = tmp_path / "t"
    write_delta(_tbl(spark, [(1, 1, "a")]), path)
    with pytest.raises(ValueError, match="multiple source rows"):
        merge_delta(
            spark,
            path,
            _tbl(spark, [(1, 2, "a"), (1, 3, "a")]),
            on=["id"],
        )
    # duplicates among UNMATCHED rows are delta-legal (they insert)
    # only when no matched clause needs them to be unambiguous —
    # but a matched duplicate must raise even alongside clean rows
    res = merge_delta(
        spark, path, _tbl(spark, [(9, 9, "b")]), on=["id"]
    )
    assert res == {"rows_matched": 0, "rows_inserted": 1}


def test_merge_cdf_emits_update_pairs_and_inserts(spark, tmp_path):
    path = tmp_path / "t"
    write_delta(_tbl(spark, [(1, 10, "a"), (2, 20, "a")]), path)
    # flip on CDF the way an external writer would (v1)
    log = path / "_delta_log"
    meta = None
    for ln in (log / f"{0:020d}.json").read_text().splitlines():
        if '"metaData"' in ln:
            meta = json.loads(ln)["metaData"]
    meta["configuration"] = {"delta.enableChangeDataFeed": "true"}
    (log / f"{1:020d}.json").write_text(
        json.dumps({"metaData": meta}) + "\n"
    )

    res = merge_delta(
        spark,
        path,
        _tbl(spark, [(2, 99, "a"), (3, 30, "b")]),
        on=["id"],
    )  # v2
    assert res == {"rows_matched": 1, "rows_inserted": 1}
    ch = {
        (r.id, r.val, r._change_type)
        for r in read_delta_cdf(spark, path, 2, 2).collect()
    }
    assert ch == {
        (2, 20, "update_preimage"),
        (2, 99, "update_postimage"),
        (3, 30, "insert"),
    }


def test_merge_txn_exactly_once(spark, tmp_path):
    path = tmp_path / "t"
    write_delta(_tbl(spark, [(1, 1, "a")]), path)
    src = _tbl(spark, [(1, 2, "a"), (5, 5, "b")])
    res = merge_delta(spark, path, src, on=["id"], txn=("cdc", 0))
    assert res == {"rows_matched": 1, "rows_inserted": 1}
    # the replayed micro-batch is SKIPPED: the table records the txn
    assert merge_delta(
        spark, path, src, on=["id"], txn=("cdc", 0)
    ) is None
    assert delta_snapshot(spark, path).txns["cdc"] == 0
    assert _state(spark, path) == {(1, 2, "a"), (5, 5, "b")}


def test_merge_guards(spark, tmp_path):
    path = tmp_path / "t"
    write_delta(_tbl(spark, [(1, 1, "a")]), path)
    src = _tbl(spark, [(1, 2, "a")])
    with pytest.raises(ValueError, match="no clauses"):
        merge_delta(
            spark, path, src, on=["id"],
            when_matched=None, when_not_matched=None,
        )
    with pytest.raises(ValueError, match="key columns"):
        merge_delta(spark, path, src, on=["nope"])
    with pytest.raises(ValueError, match="when_matched"):
        merge_delta(spark, path, src, on=["id"], when_matched="upsert")
    with pytest.raises(ValueError, match="unknown columns"):
        merge_delta(
            spark, path, src, on=["id"], when_matched={"zz": "1"}
        )


def test_delta_stream_sink_upsert_mode_exactly_once(spark, tmp_path):
    """delta_stream_sink(keys=): a keyed changelog stream lands
    replace-by-key upserts; replaying the same batches from a fresh
    checkpoint after a restart changes nothing (SetTransaction)."""
    from snapflow_spark.sources.delta import delta_stream_sink

    src = tmp_path / "src"
    table = tmp_path / "tbl"
    schema = "id long, val long, grp string"
    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "a")], schema
    ).coalesce(1).write.parquet(str(src), mode="overwrite")

    def run(ckpt):
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.foreachBatch(
                delta_stream_sink(table, "cdc-test", keys=["id"])
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ck1")
    assert _state(spark, table) == {(1, 10, "a"), (2, 20, "a")}
    # the changelog: update key 2, insert key 3
    spark.createDataFrame(
        [(2, 99, "a"), (3, 30, "b")], schema
    ).coalesce(1).write.parquet(str(src), mode="append")
    run("ck1")
    want = {(1, 10, "a"), (2, 99, "a"), (3, 30, "b")}
    assert _state(spark, table) == want
    # a FRESH checkpoint replays everything as batch 0: the recorded
    # txn high-water mark suppresses the whole replay
    run("ck2")
    assert _state(spark, table) == want


def test_merge_prunes_target_files_by_source_key_bounds(
    spark, tmp_path, monkeypatch
):
    """Touched-file discovery: a narrow changelog prunes the target
    file list from log stats — with 4 single-range files and a
    changelog inside ONE range, every driver collect stays at 1-2
    rows (stage-A count row + descriptor row for the one touched
    file; unpruned it would be 4)."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    path = tmp_path / "t"
    for i in range(4):  # 4 files with disjoint doc_id ranges
        write_delta(
            _tbl(
                spark,
                [(j, j, "a") for j in range(i * 100, i * 100 + 10)],
            ).coalesce(1),
            path,
            mode="append" if i else "error",
        )
    collected: list[int] = []
    orig = _CDF.collect

    def spy(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(_CDF, "collect", spy)
    res = merge_delta(
        spark,
        path,
        _tbl(spark, [(205, 9999, "z"), (207, 9999, "z")]),
        on=["id"],
    )
    monkeypatch.undo()
    assert res == {"rows_matched": 2, "rows_inserted": 0}
    assert collected and max(collected) <= 2, (
        f"collect sizes {collected}: the 4-file table was not pruned "
        "to the one touched file"
    )
    got = _state(spark, path)
    assert (205, 9999, "z") in got and (207, 9999, "z") in got
    assert (206, 206, "a") in got and len(got) == 40


def test_merge_when_not_matched_by_source_full_sync(spark, tmp_path):
    """when_not_matched_by_source='delete' (round 15): after the
    merge the table holds exactly the source's key set — matched
    keys replaced, new keys inserted, everything else dropped, all
    in ONE commit / one DV pass."""
    path = tmp_path / "t"
    write_delta(
        _tbl(spark, [(i, i, "a") for i in range(6)]), path
    )
    src = _tbl(spark, [(2, 200, "a"), (3, 300, "a"), (9, 900, "b")])
    res = merge_delta(
        spark, path, src, on=["id"],
        when_not_matched_by_source="delete",
    )
    assert res == {
        "rows_matched": 2,
        "rows_inserted": 1,
        "rows_deleted_by_source": 4,
    }
    assert _state(spark, path) == {
        (2, 200, "a"), (3, 300, "a"), (9, 900, "b"),
    }
    # by-source delete with NO matched clause: matched rows untouched
    path2 = tmp_path / "t2"
    write_delta(
        _tbl(spark, [(i, i, "a") for i in range(4)]), path2
    )
    res = merge_delta(
        spark,
        path2,
        _tbl(spark, [(1, 999, "z"), (2, 999, "z")]),
        on=["id"],
        when_matched=None,
        when_not_matched=None,
        when_not_matched_by_source="delete",
    )
    assert res == {
        "rows_matched": 0,
        "rows_inserted": 0,
        "rows_deleted_by_source": 2,
    }
    assert _state(spark, path2) == {(1, 1, "a"), (2, 2, "a")}


def test_merge_by_source_cdf_emits_deletes(spark, tmp_path):
    path = tmp_path / "t"
    write_delta(_tbl(spark, [(1, 10, "a"), (2, 20, "a")]), path)
    log = path / "_delta_log"
    meta = None
    for ln in (log / f"{0:020d}.json").read_text().splitlines():
        if '"metaData"' in ln:
            meta = json.loads(ln)["metaData"]
    meta["configuration"] = {"delta.enableChangeDataFeed": "true"}
    (log / f"{1:020d}.json").write_text(
        json.dumps({"metaData": meta}) + "\n"
    )
    merge_delta(
        spark,
        path,
        _tbl(spark, [(2, 99, "a")]),
        on=["id"],
        when_not_matched_by_source="delete",
    )  # v2
    ch = {
        (r.id, r.val, r._change_type)
        for r in read_delta_cdf(spark, path, 2, 2).collect()
    }
    assert ch == {
        (2, 20, "update_preimage"),
        (2, 99, "update_postimage"),
        (1, 10, "delete"),
    }


def _upsert(target, source):
    """Python-reconstructed upsert: every target row whose (non-null)
    key some source row carries is replaced; every source row lands."""
    src_keys = {r[0] for r in source if r[0] is not None}
    return {r for r in target if r[0] not in src_keys} | set(source)


def _commit_data_adds(path, version):
    """The non-DV ``add`` actions of one commit: the data files it
    staged (DV re-adds of touched files are bookkeeping, not data)."""
    log = path / "_delta_log" / f"{version:020d}.json"
    actions = [json.loads(ln) for ln in log.read_text().splitlines()]
    return [
        a["add"]
        for a in actions
        if "add" in a and "deletionVector" not in a["add"]
    ]


@contextmanager
def _shuffle_partitions(spark, n):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _changelog(spark, n_keys, first_key):
    """A CDC changelog shaped like a real one: two events per key,
    reduced to the latest through dedupe_keep_latest — its window
    shuffle leaves the source at spark.sql.shuffle.partitions."""
    from pyspark.sql import functions as F

    from snapflow_spark.operators.dedupe import dedupe_keep_latest

    events = spark.createDataFrame(
        [
            (k, ts, k * 10 + ts, "ab"[k % 2])
            for k in range(first_key, first_key + n_keys)
            for ts in (1, 2)
        ],
        "id long, ts long, val long, grp string",
    )
    return dedupe_keep_latest(
        events, keys=["id"], order_by=[F.col("ts").desc()]
    ).drop("ts")


@pytest.mark.parametrize("partition_by", [None, ["grp"]])
def test_merge_upsert_stages_one_rebalanced_write(
    spark, tmp_path, monkeypatch, partition_by
):
    """An upsert stages its new rows in ONE parquet write, rebalanced
    so that a 32-partition changelog adds one file (one per touched
    partition value when partitioned) — not one per non-empty shuffle
    partition per clause."""
    from pyspark.sql.readwriter import DataFrameWriter

    path = tmp_path / "t"
    target = [(i, i, "ab"[i % 2]) for i in range(200)]
    write_delta(
        _tbl(spark, target).coalesce(1), path,
        partition_by=partition_by,
    )
    v0 = delta_snapshot(spark, path).version
    calls: list[str] = []
    orig = DataFrameWriter.parquet

    def spy(self, p, *a, **k):
        calls.append(p)
        return orig(self, p, *a, **k)

    with _shuffle_partitions(spark, 32):
        source = _changelog(spark, 200, 100)  # 100 match, 100 new
        expected = _upsert(
            target, [(r.id, r.val, r.grp) for r in source.collect()]
        )
        monkeypatch.setattr(DataFrameWriter, "parquet", spy)
        res = merge_delta(spark, path, source, on=["id"])
        monkeypatch.undo()
    assert res == {"rows_matched": 100, "rows_inserted": 100}
    assert len(calls) == 1, f"staged writes: {calls}"
    adds = _commit_data_adds(path, v0 + 1)
    if partition_by:
        values = [a["partitionValues"]["grp"] for a in adds]
        assert sorted(values) == ["a", "b"], values
    else:
        assert len(adds) == 1, [a["path"] for a in adds]
    assert _state(spark, path) == expected


@pytest.mark.parametrize("shuffle_partitions", [8, 64])
def test_merge_files_added_independent_of_shuffle_partitions(
    spark, tmp_path, shuffle_partitions
):
    """The number of files one small upsert adds does not follow
    spark.sql.shuffle.partitions: the staged write is rebalanced, so
    AQE sizes its files by bytes, whatever the source's partitioning."""
    path = tmp_path / "t"
    write_delta(_tbl(spark, [(i, i, "a") for i in range(50)]), path)
    v0 = delta_snapshot(spark, path).version
    with _shuffle_partitions(spark, shuffle_partitions):
        res = merge_delta(spark, path, _changelog(spark, 100, 25), on=["id"])
    assert res == {"rows_matched": 25, "rows_inserted": 75}
    assert len(_commit_data_adds(path, v0 + 1)) == 1


def test_merge_null_keys_never_match_and_insert(spark, tmp_path):
    path = tmp_path / "t"
    target = [(None, 5, "a"), (1, 10, "a"), (2, 20, "b")]
    write_delta(_tbl(spark, target), path)
    source = [(None, 7, "b"), (None, 8, "c"), (1, 11, "a"), (3, 30, "b")]
    res = merge_delta(spark, path, _tbl(spark, source), on=["id"])
    # the null-keyed rows match neither the null-keyed target row nor
    # each other: both insert (and are not a multiple-match)
    assert res == {"rows_matched": 1, "rows_inserted": 3}
    assert _state(spark, path) == _upsert(target, source)


def test_merge_unmatched_duplicate_keys_insert(spark, tmp_path):
    path = tmp_path / "t"
    target = [(1, 1, "a")]
    write_delta(_tbl(spark, target), path)
    source = [(5, 50, "a"), (5, 51, "b"), (1, 2, "a")]
    res = merge_delta(spark, path, _tbl(spark, source), on=["id"])
    assert res == {"rows_matched": 1, "rows_inserted": 2}
    assert _state(spark, path) == _upsert(target, source)


def test_merge_matched_duplicate_keys_raise_naming_the_key(
    spark, tmp_path
):
    path = tmp_path / "t"
    target = [(1, 1, "a"), (2, 2, "a")]
    write_delta(_tbl(spark, target), path)
    v0 = delta_snapshot(spark, path).version
    source = [(2, 20, "a"), (2, 21, "a"), (7, 7, "b"), (7, 8, "b")]
    with pytest.raises(ValueError, match=r"multiple source rows.*'id': 2"):
        merge_delta(spark, path, _tbl(spark, source), on=["id"])
    # refused before anything was staged or committed
    assert delta_snapshot(spark, path).version == v0
    assert _state(spark, path) == set(target)


def test_merge_two_live_target_rows_for_one_key(spark, tmp_path):
    path = tmp_path / "t"
    target = [(1, 10, "a"), (2, 20, "a"), (1, 11, "b")]
    write_delta(_tbl(spark, target[:2]), path)
    write_delta(_tbl(spark, target[2:]), path, mode="append")
    source = [(1, 99, "z")]
    res = merge_delta(spark, path, _tbl(spark, source), on=["id"])
    assert res == {"rows_matched": 2, "rows_inserted": 0}
    assert _state(spark, path) == _upsert(target, source)
