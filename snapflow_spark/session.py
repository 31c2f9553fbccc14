"""SparkSession construction and runtime tuning.

Snapflow's Environment (SURVEY.md §1.1 [P snapflow/core/environment.py])
is replaced by a SparkSession plus the runtime confs below. ``tune`` is
idempotent and safe to call on a session we did not create (the driver
passes its own session to ``__spark_entry__.entry``): it only touches
runtime-settable confs.

It also holds the engine's one session-state registry (``memo``,
``pin``, ``pin_checkpoint``, ``temp_dir``, ``scope``): every plan memo,
staged layout, persisted frame and temp warehouse the engine keeps
across calls is an entry here, under a weakly held owner (a
SparkSession or a SparkContext), with one of two lifetimes:

- **session**: ``memo`` entries, keyed by a tuple, live until the
  owner dies or the process exits. An entry with a freshness
  ``stamp`` (input mtimes) is released and rebuilt when it changes.
- **invocation**: ``pin``, ``pin_checkpoint`` and ``temp_dir``
  entries belong to the innermost open scope. A declared query
  (``registry.query``) opens one per call and keeps it until the same
  query is next invoked in that session, so its lazy result stays
  valid until then — materialize before re-invoking.
  ``Pipeline.run_node`` releases its scope once the node's output is
  written; any other caller opens ``with scope():``. Outside every
  scope a pin is a plain persist the caller owns, and a temp dir
  lives until process exit.

At process exit the temp dirs still registered are removed; that path
only touches the file system, never the JVM (it may be gone by then).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import weakref
from contextlib import contextmanager, suppress
from contextvars import ContextVar
from typing import Any, Callable, TypeVar

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs every query in this engine relies on.

    - UTC session timezone: the DuckDB oracle treats parquet timestamps
      as naive instants; Spark must extract date parts in UTC to match.
    - AQE on: runtime re-planning (partition coalescing, skew-join
      splitting) is the 100 TB story for every shuffle in this engine.
    - Arrow on: all pandas-UDF operators cross JVM->python in batches.
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    # DataFrame-debugging call-site capture OFF (round 17, guide §7.3
    # planning time): PySpark 4 wraps every DataFrame API call in
    # _with_origin, which per call pays a conf.get round trip, a JVM
    # PySparkCurrentOrigin.set + .clear pair and a python stack walk —
    # ~4 py4j round trips per DataFrame method. Interleaved min-of-6
    # A/B: q_text_quality construction 1.84 -> 0.96 s, q_dedup_exact
    # 0.67 -> 0.47 s, q_pipeline_docs 1.36 -> 1.12 s. The only loss is
    # the call-site line in error messages (the error itself is
    # unchanged). Host-independent: this is driver-side chatter on any
    # deployment. The python-side flag is cached globally on first
    # use; the conf itself is STATIC (builder-time, set in
    # build_session) and is only ever read to populate that cache, so
    # for driver-owned sessions the cache write below is the operative
    # switch.
    try:  # best-effort: private cache, absent on future pyspark
        import pyspark.errors.utils as _eu

        _eu._enable_debugging_cache = False
    except Exception:
        pass
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # pinned explicitly (not left to Spark's default) — SCALE.md's
    # skew story depends on AQE splitting oversized join partitions
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # spark.sql.execution.pythonUDTF.arrow.enabled is deliberately NOT
    # set: each UDTF in functions/udtfs.py pins useArrow explicitly at
    # the decorator (the conf is only consulted at decoration time
    # anyway, i.e. before any session exists for import-time UDTFs),
    # and the Arrow eval path measured ~2x SLOWER than plain pickle
    # for generator-style UDTFs — see the SplitSentences docstring.
    # InferFiltersFromGenerate synthesizes `size(arr) > 0` under every
    # explode(), and predicate pushdown then SUBSTITUTES the full array
    # expression into a Filter at the FileScan — for this engine's
    # exploded arrays (gram hashes, winnow fingerprints, LSH bands:
    # expensive to compute, never empty by construction) that evaluates
    # the whole tokenize/sha256 subtree TWICE per row, with the filter
    # copy running on the raw scan partitions BEFORE ensure_parallelism
    # (measured: q_fingerprint_winnow's span branch 31 s -> 2 s at
    # sf0.1 with the rule excluded; q_text_quality carried four such
    # pushed filters). The rule only ever saves work when exploded
    # arrays are frequently empty, which none of ours are.
    # MERGE with (never overwrite) any exclusions the deployment set
    rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    try:
        existing = conf.get("spark.sql.optimizer.excludedRules")
    except Exception:
        existing = None
    if existing and rule not in existing:
        conf.set("spark.sql.optimizer.excludedRules", f"{existing},{rule}")
    elif not existing:
        conf.set("spark.sql.optimizer.excludedRules", rule)
    # events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
    # default; read as long nanos, converted in catalog.load_table.
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    except Exception:
        pass  # static in some deployments; AQE coalescing still applies
    return spark


#: Confs that MUST be set at launch (spark-submit / cluster template)
#: — core/Hadoop settings Spark rejects via spark.conf.set at runtime.
#: tune_cluster() returns them so a deployment can diff its template
#: against the engine's requirements instead of re-deriving them.
CLUSTER_LAUNCH_CONFS: dict[str, str] = {
    # --- elasticity: a 100 TB job's stage widths vary 100x between
    # the scan (tens of thousands of tasks) and the final 1-row aggs;
    # fixed executor counts either starve the scan or idle the tail
    "spark.dynamicAllocation.enabled": "true",
    "spark.dynamicAllocation.shuffleTracking.enabled": "true",
    "spark.dynamicAllocation.minExecutors": "2",
    "spark.dynamicAllocation.maxExecutors": "1000",
    # --- shuffle robustness: executor loss must not replay whole
    # stages; zstd halves shuffle bytes vs lz4 at similar CPU on the
    # text-heavy shuffles this engine runs (gram/band keys)
    "spark.shuffle.service.enabled": "true",
    "spark.io.compression.codec": "zstd",
    "spark.shuffle.compress": "true",
    # --- stragglers: external-storage hiccups at 1000 executors are
    # routine; speculative re-attempts cap the tail
    "spark.speculation": "true",
    "spark.speculation.quantile": "0.9",
    # --- object-store output: the 'magic' S3A committer commits via
    # multipart-upload completion (atomic, no rename) — the ONLY safe
    # committer on S3; classic FileOutputCommitter v1/v2 either
    # renames (O(files) copies on S3) or exposes partial output
    "spark.hadoop.fs.s3a.committer.name": "magic",
    "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
    "spark.sql.sources.commitProtocolClass": (
        "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
    ),
    "spark.sql.parquet.output.committer.class": (
        "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
    ),
    # --- S3A throughput for the WARC/parquet scan tiers
    "spark.hadoop.fs.s3a.connection.maximum": "256",
    "spark.hadoop.fs.s3a.fast.upload": "true",
    # --- driver safety: the engine's driver-side collects are bounded
    # by construction (word-type dicts, centroids, index file lists),
    # but the bound should be enforced, not assumed
    "spark.driver.maxResultSize": "4g",
}


def tune_cluster(
    spark: SparkSession,
    target_partition_mb: int = 128,
    scan_partition_mb: int = 256,
    broadcast_mb: int = 64,
    shuffle_partitions: int | None = 2000,
) -> dict[str, dict[str, str]]:
    """The 100 TB twin of :func:`tune`: applies every runtime-settable
    cluster conf and returns ``{"applied": {...}, "launch_required":
    CLUSTER_LAUNCH_CONFS}`` so the launch template can be diffed
    against requirements the session API cannot set.

    What the local[32] shim cannot exercise and this profile encodes:

    - **Shuffle sizing**: ``shuffle_partitions`` starts HIGH (default
      2000) and AQE coalesces down per stage
      (``advisoryPartitionSizeInBytes`` = ``target_partition_mb``) —
      the opposite of the local shim's fixed 32. Under-partitioning a
      100 TB shuffle spills; over-partitioning is repaired free by AQE.
    - **Scan splits**: ``files.maxPartitionBytes`` = ``scan_partition_mb``
      — fewer, fuller scan tasks keep the task count at six figures,
      not seven, for a 100 TB parquet layout.
    - **Broadcast ceiling**: ``autoBroadcastJoinThreshold`` =
      ``broadcast_mb`` — the dimension tables and standing artifacts
      this engine broadcasts (centroid tables, blocklists, posting
      vocabularies) are MBs; raising the ceiling keeps them off the
      shuffle without risking an OOM-sized accidental broadcast.
    - **Parquet output**: zstd compression for the snapshot/sink tier.

    NOT settable here and therefore in ``launch_required``: dynamic
    allocation, external shuffle service, speculation, the S3A magic
    committer, and driver result caps (core/Hadoop confs are fixed at
    launch). TableLedger caveat: its ``os.link`` create-exclusive
    publish needs a real filesystem (NFS/EFS/HDFS-fuse); on S3-only
    metadata layouts pass ``TableLedger(publish=...)`` with a
    conditional-PUT (If-None-Match) implementation — the same
    commit-coordination contract, different primitive (SCALE.md
    §deploy)."""
    tune(spark)
    applied = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": (
            f"{int(target_partition_mb)}m"
        ),
        "spark.sql.files.maxPartitionBytes": f"{int(scan_partition_mb)}m",
        "spark.sql.autoBroadcastJoinThreshold": f"{int(broadcast_mb)}m",
        "spark.sql.parquet.compression.codec": "zstd",
    }
    if shuffle_partitions:
        applied["spark.sql.shuffle.partitions"] = str(int(shuffle_partitions))
    for k, v in applied.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static in some deployments; report what we tried
    return {"applied": applied, "launch_required": dict(CLUSTER_LAUNCH_CONFS)}


def build_session(app_name: str = "snapflow-spark", master: str | None = None) -> SparkSession:
    """Build the engine's own session (tests, bench, CLI runs)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return tune(builder.getOrCreate())


# --------------------------------------------------------------------
# Session-state registry (see the module docstring)
# --------------------------------------------------------------------

#: entries per owner: past it ``memo`` builds fresh instead of storing
#: (the pre-memo behavior, not an error) — memos are meant for module-
#: constant key families, not for dynamically generated keys
MAX_ENTRIES = 4096

T = TypeVar("T")

_OWNERS: "weakref.WeakKeyDictionary[Any, dict]" = weakref.WeakKeyDictionary()
# the entry list of the open scope; a ContextVar, not a global,
# because foreachBatch callbacks run on other threads
_SCOPE: "ContextVar[list | None]" = ContextVar("snapflow_scope", default=None)
# temp dirs still registered, removed at process exit
_LIVE_DIRS: set[str] = set()


class _Entry:
    """One registered resource: its value, freshness stamp and release."""

    __slots__ = ("value", "stamp", "release")

    def __init__(self, value, stamp=None, release=None):
        self.value, self.stamp, self.release = value, stamp, release

    def close(self) -> None:
        release, self.release = self.release, None
        with suppress(Py4JError):  # best-effort: a stopped JVM cannot unpersist
            if release is not None:
                release(self.value)


def _close_all(entries) -> None:
    for e in reversed(list(entries)):
        e.close()


def memo(
    key: tuple, build: Callable[[], T], *, owner=None, stamp=None, release=None
) -> T:
    """``build()`` memoized per (owner, key) for the owner's lifetime.

    ``owner`` defaults to the active SparkContext (expression
    fragments, literal Seqs); with none active, an owner that cannot
    be weakly referenced, or an unhashable key, it builds fresh.
    ``key`` is a tuple that must capture EVERY input that shapes the
    value (column names, thresholds, salts), led by a dotted family
    name. ``stamp`` is a freshness token: a stored entry with a
    different stamp is released and rebuilt. ``release(value)`` runs
    when the entry is replaced or its owner dies.

    Expression fragments (round 18): the big Column towers cost
    hundreds of py4j round trips per construction, and harnesses
    construct every query once per rep. Catalyst expressions are
    immutable, so a memoized UNALIASED fragment is as reusable as
    ``F.col("x") * 2``: alias it fresh at each use site (an alias's
    exprId must be unique per plan) and never mutate it. Helpers that
    take ``str | Column`` memoize only the string form (a Column may
    close over caller state). Entries are plans, never data: every
    action still evaluates from the inputs.

    Not synchronized: two threads that miss the same key both build,
    and the later store wins — harmless for plan memos; build entries
    that carry a ``release`` on the query thread."""
    if owner is None:
        owner = SparkContext._active_spark_context
        if owner is None:
            return build()
    try:
        per = _OWNERS.get(owner)
        if per is None:
            per = _OWNERS[owner] = {}
            weakref.finalize(owner, _close_all, per.values()).atexit = False
        e = per.get(key)
    except TypeError:
        return build()
    if e is not None:
        if e.stamp == stamp:
            return e.value
        del per[key]
        e.close()
    value = build()
    if len(per) < MAX_ENTRIES:
        per[key] = _Entry(value, stamp, release)
    return value


def file_stamp(path: str) -> float:
    """A file's mtime as a freshness stamp (-1.0 when it is missing)."""
    try:
        return os.path.getmtime(path)
    except OSError:
        return -1.0


def _hold(value: T, release: Callable[[T], Any]) -> T:
    entries = _SCOPE.get()
    if entries is not None:
        entries.append(_Entry(value, release=release))
    return value


def pin(df: DataFrame) -> DataFrame:
    """``df.persist()`` as an invocation entry: unpersisted when the
    current scope is released."""
    return _hold(df.persist(), lambda d: d.unpersist())


def pin_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=False)`` as an invocation entry: the
    checkpoint RDD (persisted like a pin) is unpersisted when the
    current scope is released."""
    return _hold(
        df.localCheckpoint(eager=False),
        lambda d: d._jdf.queryExecution().logical().rdd().unpersist(False),
    )


def temp_dir(prefix: str, parent: str | os.PathLike) -> str:
    """A fresh temp dir under ``parent`` as an invocation entry:
    removed when the current scope is released, or at process exit."""
    path = tempfile.mkdtemp(prefix=prefix, dir=parent)
    _LIVE_DIRS.add(path)
    return _hold(path, _remove_dir)


def _remove_dir(path: str) -> None:
    _LIVE_DIRS.discard(path)
    shutil.rmtree(path, ignore_errors=True)


# the exit path touches only the file system, never the JVM (it may
# be gone by then)
atexit.register(lambda: [_remove_dir(p) for p in list(_LIVE_DIRS)])


@contextmanager
def scope(owner=None, query: str | None = None):
    """Open an invocation scope.

    ``with scope():`` releases its entries on exit. ``scope(owner,
    query)`` is the scope of one call of a declared query (opened by
    ``registry.query``): it releases the previous call's entries in
    ``owner`` (a fresh stamp per call) and keeps this call's entries
    live until the next call. Inside an already open scope a query
    call opens none: the outer scope holds its entries."""
    if query is not None and _SCOPE.get() is not None:
        yield None
        return
    entries = [] if query is None else memo(
        ("invocation", query), list, owner=owner, stamp=object(), release=_close_all
    )
    token = _SCOPE.set(entries)
    try:
        yield entries
    finally:
        _SCOPE.reset(token)
        if query is None:
            _close_all(entries)
