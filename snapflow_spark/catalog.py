"""Table catalog over the sf-parameterized parquet fixtures.

Snapflow's Storage/DataFormat layer (SURVEY.md §1.1 [P kvh/dcp]) is
subsumed by Spark's unified reader; the catalog is just a thin
name->path mapping per scale-factor directory. At cluster scale the
same API would point at partitioned table roots instead of single
files — readers take directories transparently.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snapflow_spark.session import file_stamp, memo, tune

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimension tables: always broadcast-join candidates.
DIM_TABLES = {"region", "nation", "supplier", "part"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


# Per-session memo of CONSTRUCTED DataFrames (lazy plans, never data):
# spark.read.parquet pays 150-250 ms of driver-side schema inference on
# every call, and a bench pass constructs the same ten fixture tables
# hundreds of times. Stamped with the mtime so a rewritten fixture
# (tools/gen_scale.py regenerating .scratch tables) is picked up; the
# registry entry dies with the session. Round 17 (optimization,
# guide §1.2 per-task work / §6 listing): this caches PLANS only —
# every action on the returned DataFrame still scans the parquet files
# in full, so bench/oracle runs keep computing from the inputs.
def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    tune(spark)
    path = table_path(sf_dir, name)
    return memo(
        ("catalog.table", path),
        lambda: _build_table(spark, path, name),
        owner=spark,
        stamp=file_stamp(path),
    )


def _build_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    if name == "events":
        # Normalize ts to µs TimestampType regardless of how the fixture
        # was written. Older fixtures use parquet TIMESTAMP(NANOS), which
        # nanosAsLong surfaces as a long — convert with *integer* division
        # (a double round-trip loses ~256 ns at 2024-epoch magnitudes;
        # fixture ns components are 000, so truncation is lossless). Newer
        # fixtures are native timestamp[us], read as TIMESTAMP/TIMESTAMP_NTZ —
        # a cast is exact with the session pinned to UTC (session.py).
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def ensure_parallelism(
    df: DataFrame,
    min_partitions: int | None = None,
    probe: DataFrame | None = None,
) -> DataFrame:
    """Repartition a too-coarse input up to the session's default
    parallelism before CPU-heavy per-row work (LSH signatures, UDF
    featurizers). The local fixtures are single-row-group parquet files
    -> 1 scan partition -> 1 busy core; at 100 TB a scan has thousands
    of splits and this is a no-op, so no extra shuffle at scale.

    ``probe``: take the narrow-or-wide decision from THIS frame's
    partition count instead of ``df``'s (round 17, guide §1.2): the
    partition probe (``.rdd``) analyzes and physically plans the whole
    query — ~0.1-1 s of driver work for a derived frame rebuilt on
    every query construction. When ``df`` is ``probe`` plus
    partitioning-preserving steps (a projection, a broadcast
    semi-join), the decision is identical, and probing the stable
    memoized base table costs one plan per session instead of one per
    construction."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    # Memoize per (DataFrame, target): load_table returns per-session
    # cached objects, so repeated query constructions hit this memo
    # instead of re-planning (round 17; derived one-off DataFrames
    # miss the OUTPUT memo but can still share the probe's DECISION
    # memo via probe=).
    memo = df.__dict__.setdefault("_ep_memo", {})
    out = memo.get(target)
    if out is None:
        basis = probe if probe is not None else df
        dmemo = basis.__dict__.setdefault("_ep_narrow", {})
        narrow = dmemo.get(target)
        if narrow is None:
            narrow = basis.rdd.getNumPartitions() < target
            dmemo[target] = narrow
        out = df.repartition(target) if narrow else df
        memo[target] = out
        # the output is wide by construction — prime its own memos so
        # chained ensure_parallelism calls skip the probe entirely
        out.__dict__.setdefault("_ep_memo", {}).setdefault(target, out)
        out.__dict__.setdefault("_ep_narrow", {}).setdefault(target, False)
    return out


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register temp views so SQL-snap style queries (SURVEY §2.A A2)
    can reference inputs by name, mirroring snapflow's table-ref binding."""
    for name in tables or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
