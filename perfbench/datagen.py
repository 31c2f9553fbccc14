"""Seeded synthetic inputs in the shape of the engine's fixture tables.

Every table the catalog knows (``snapflow_spark.catalog.TABLES``) is
written as one parquet file per directory, with the columns, types and
value distributions of the fixture generator the roster was written
against: independent uniform keys, a 30-word vocabulary for documents,
5% near-duplicate documents (another document's text plus " dup"),
64-dimensional unit embeddings, and a ts-ordered ``events`` table whose
keys are ``(user_id, event_type)``.  The same ``(seed, sf)`` always
writes the same bytes, and nothing here touches Spark, so input
generation never warms the session it feeds.
"""

from __future__ import annotations

import os
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(df: dict, path: Path) -> None:
    pq.write_table(pa.table(df), str(path))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(lo, hi, n) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def rows_for(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (the fixture ratios;
    documents and embeddings never drop below 500 rows)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def documents(rng: np.random.Generator, n: int) -> dict:
    """``n`` documents; 5% are another document's text plus " dup"."""
    words = np.asarray(VOCAB)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    n_dup = n // 20
    dups = rng.choice(n, n_dup, replace=False)
    bases = rng.integers(0, n, n_dup)
    for d, b in zip(dups.tolist(), bases.tolist()):
        if d != b:
            texts[d] = texts[b] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.fromiter((len(t) for t in texts), np.int64, n),
    }


def embeddings(rng: np.random.Generator, n: int) -> dict:
    x = rng.standard_normal((n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(x.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def events(rng: np.random.Generator, n: int, n_users: int, skew: float = 0.0) -> dict:
    """ts-ordered events over 30 days; keys are (user_id, event_type).
    ``skew`` > 0 draws users from a Zipf-like popularity ``1/(rank+10)**skew``
    over a seeded ranking instead of uniformly."""
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _EPOCH_2024
    ts += np.arange(n)  # strictly increasing: keep-latest has no ties
    if skew > 0:
        p = 1.0 / (np.arange(n_users) + 10.0) ** skew
        users = rng.permutation(n_users)[rng.choice(n_users, n, p=p / p.sum())]
    else:
        users = rng.integers(0, n_users, n)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": users.astype(np.int64),
        "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()],
    }


def write_tables(out: Path, seed: int, sf: float) -> dict[str, int]:
    """Write all catalog tables for ``(seed, sf)`` under ``out``; returns
    the row count per table."""
    out.mkdir(parents=True, exist_ok=True)
    n = rows_for(sf)
    rng = np.random.default_rng([seed, 0])
    _write({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
           out / "region.parquet")
    _write(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        out / "nation.parquet",
    )
    c = n["customer"]
    _write(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(rng, c, -999.99, 9999.99),
            "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, 5, c)],
        },
        out / "customer.parquet",
    )
    s = n["supplier"]
    _write(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(rng, s, -999.99, 9999.99),
        },
        out / "supplier.parquet",
    )
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(
        {
            "p_partkey": np.arange(p, dtype=np.int64),
            "p_name": np.asarray(names)[rng.integers(0, len(names), p)],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p).tolist()],
            "p_type": np.asarray(PART_TYPES)[rng.integers(0, 6, p)],
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1),
        },
        out / "part.parquet",
    )
    o = n["orders"]
    _write(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o).astype(np.int64),
            "o_orderstatus": np.asarray(["F", "O", "P"])[rng.integers(0, 3, o)],
            "o_totalprice": _money(rng, o, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, o, 0, 2404),
            "o_orderpriority": np.asarray(PRIORITIES)[rng.integers(0, 5, o)],
        },
        out / "orders.parquet",
    )
    li = n["lineitem"]
    _write(
        {
            "l_orderkey": rng.integers(0, o, li).astype(np.int64),
            "l_partkey": rng.integers(0, p, li).astype(np.int64),
            "l_suppkey": rng.integers(0, s, li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, li, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, li)],
            "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, li)],
            "l_shipdate": _days(rng, li, 1, 2499),
        },
        out / "lineitem.parquet",
    )
    _write(events(rng, n["events"], max(1, round(15_000 * sf))),
           out / "events.parquet")
    _write(documents(rng, n["documents"]), out / "documents.parquet")
    _write(embeddings(rng, n["embeddings"]), out / "embeddings.parquet")
    return n


def write_namespaced_copy(out: Path, base: Path, tag: str) -> None:
    """A copy of the tables under ``base`` that no earlier pass has read
    and that is isomorphic to them (``tools/gen_scale.py``'s replica
    transforms): every document token gets the same 9-character suffix
    derived from ``tag``, so exact- and near-duplicate structure and
    text lengths do not depend on the tag, and every embedding the same
    ``tag``-seeded sign flip per dimension, a reflection that leaves
    every cosine unchanged.  The other tables are hard-linked (copied
    where links are unsupported)."""
    out.mkdir(parents=True, exist_ok=True)
    docs = pq.read_table(base / "documents.parquet").to_pydict()
    key = zlib.crc32(tag.encode())
    suffix = f"~{key:08x}"
    docs["text"] = [" ".join(w + suffix for w in t.split(" ")) for t in docs["text"]]
    docs["n_chars"] = [len(t) for t in docs["text"]]
    _write(docs, out / "documents.parquet")
    emb = pq.read_table(base / "embeddings.parquet")
    flat = emb["embedding"].combine_chunks()
    x = flat.values.to_numpy().reshape(len(emb), EMBED_DIM)
    signs = np.random.default_rng([key, 1]).choice(
        np.array([-1.0, 1.0], np.float32), EMBED_DIM)
    vec = pa.FixedSizeListArray.from_arrays(pa.array((x * signs).ravel()), EMBED_DIM)
    emb = emb.set_column(emb.schema.get_field_index("embedding"), "embedding",
                         vec.cast(pa.list_(pa.float32())))
    pq.write_table(emb, str(out / "embeddings.parquet"))
    for f in base.glob("*.parquet"):
        if f.name in ("documents.parquet", "embeddings.parquet"):
            continue
        try:
            os.link(f, out / f.name)
        except OSError:
            (out / f.name).write_bytes(f.read_bytes())


def dir_bytes(path: Path) -> int:
    """Bytes of every regular file under ``path``."""
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())
