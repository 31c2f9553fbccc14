"""The three benchmark workloads.

Each is a closed loop with one client: a single thread issues the
next operation only when the previous one has returned.  A workload
object prepares its inputs (``prepare``, part of set-up), runs timed
passes until the run's seconds are spent (``measure``), then checks
outputs on an untimed pass (``check``).
"""

from __future__ import annotations

import random
import statistics
import time
import traceback
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, datagen
from perfbench.tracing import python_eval_nodes

#: Queries of the ``roster`` workload: relational queries from the
#: declared roster whose warm time is construction, planning and the
#: per-job floor rather than execution (a CASE/pivot aggregate, a
#: bucketed join whose layout the session stages once, a SQL-text query
#: in pipe syntax).  The whole 50-query roster takes ~50 s warm and
#: ~140 s cold on 4 cores even at sf0.001 (q_scan_formats alone stages
#: for ~50 s on its first call), longer than a run may last.  An odd
#: count with well-separated warm times (~0.4, ~0.7, ~0.85 s) puts the
#: median and p90 inside one query's samples instead of in a gap
#: between two queries.
ROSTER = [
    "q_agg_case",
    "q_join_inner",
    "q_sql_passthrough",
]

#: Queries of the ``llm_corpus`` workload: LLM-data operators whose time
#: is execution rather than construction: text simhash dedup (Python
#: crossings), n-gram Jaccard dedup, embedding LSH near-duplicates.
LLM = [
    "q_dedup_ngram",
    "q_dedup_simhash",
    "q_embed_near_dup",
]

KEYS = ["user_id", "event_type"]

#: Seed and scale factor of the tables ``roster`` and ``llm_corpus``
#: start from: their ``--seed`` sets query order and corpus namespaces,
#: not table content, so runs with different seeds do the same work.
TABLES_SEED = 0
SF = 0.001


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


class Workload:
    """Shared loop state: operation counts, failures, per-pass records."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.passes: list[dict] = []
        self._inv = 0

    def op(self, name: str, fn):
        """Run one timed operation; returns its seconds, or None if it
        raised (counted as failed, the run continues)."""
        ctx = self.ctx
        self._inv += 1
        self.attempted += 1
        t = time.perf_counter()
        try:
            with ctx.tracer.operation(f"inv-{self._inv}", ctx.spark.sparkContext, name):
                fn()
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None
        return time.perf_counter() - t

    def check_one(self, what: str, got, want) -> None:
        """One untimed output check of two thunks; a mismatch, or either
        side raising, counts as a failed operation and an incorrect run."""
        self.attempted += 1
        try:
            g, w = got(), want()
        except Exception:
            traceback.print_exc()
            g, w = "raised", None
        if g != w:
            self.failed += 1
            self.mismatches.append(f"{what}: got {g}, want {w}")

    def action(self, df) -> None:
        """Materialize ``df`` through the ``noop`` sink; a traced run first
        forces its executed plan (``spark.plan``) and counts the Python
        evaluation nodes in it."""
        tr = self.ctx.tracer
        if tr.enabled:
            with tr.span("plan", "spark.plan"):
                plan = df._jdf.queryExecution().executedPlan().toString()
            tr.counts["functions.python_eval_nodes"] += python_eval_nodes(plan)
        with tr.span("exec", "spark.action"):
            df.write.format("noop").mode("overwrite").save()

    def invoke(self, fn, sf_dir: str) -> None:
        """One query invocation: construction, then the action."""
        with self.ctx.tracer.span("construct", "queries.construct"):
            df = fn(self.ctx.spark, sf_dir)
        self.action(df)


class QueryLoop(Workload):
    """Passes over a fixed query list until the run's seconds are spent.
    The first pass is the cold pass; later passes give the warm figures."""

    names: list[str] = []
    release_cache = False
    #: warm passes a run makes at least, whatever ``--seconds`` says
    min_warm: int

    def pass_input(self, p: int) -> str:
        raise NotImplementedError

    def order(self) -> list[str]:
        return list(self.names)

    def measure(self) -> None:
        from snapflow_spark.registry import all_queries

        queries = all_queries()
        spent, p = 0.0, 0
        while p <= self.min_warm or spent < self.ctx.seconds:
            sf_dir = self.pass_input(p)
            lat: dict[str, float] = {}
            t = time.perf_counter()
            for name in self.order():
                dt = self.op(name, lambda q=queries[name]: self.invoke(q, sf_dir))
                if dt is not None:
                    lat[name] = dt
            wall = time.perf_counter() - t
            spent += wall
            rec = {"wall_s": wall, "latency_s": lat, "pins": persisted_rdds(self.ctx.spark)}
            self.passes.append(rec)
            if self.release_cache:
                self.ctx.spark.catalog.clearCache()
            p += 1

    def check_queries(self, sf_dir: str) -> None:
        """Each query's (rows, digest) against its DuckDB oracle over the
        same files (every query in the workload lists has an oracle)."""
        from snapflow_spark.catalog import TABLES
        from snapflow_spark.registry import QUERIES

        con = checks.duck(sf_dir, TABLES)
        for name in self.names:
            spec = QUERIES[name]
            self.check_one(
                name,
                lambda: checks.spark_digest(spec.fn(self.ctx.spark, sf_dir)),
                lambda: checks.duck_digest(con, spec.oracle),
            )
        con.close()

    def results(self) -> dict:
        cold, warm = self.passes[0], self.passes[1:]
        lat = [s for p in warm for s in p["latency_s"].values()]
        return {
            "cold_pass_s": cold["wall_s"],
            "warm_pass_s": _median([p["wall_s"] for p in warm]),
            "op_p50_s": _median(lat),
            "op_p90_s": _p90(lat),
            "detail": {
                "passes": len(self.passes),
                "ops_per_pass": len(self.names),
                "query_p50_s": {"value": _median(lat), "unit": "s", "n": len(lat)},
                "query_p90_s": {"value": _p90(lat), "unit": "s", "n": len(lat)},
                "warm_pass_s": {"value": _median([p["wall_s"] for p in warm]),
                                "unit": "s", "n": len(warm)},
                "cold_pass_s": {"value": cold["wall_s"], "unit": "s", "n": 1},
                "pins_per_pass": [p["pins"] for p in self.passes],
                "per_query_warm_p50_s": {
                    n: _median([p["latency_s"][n] for p in warm if n in p["latency_s"]])
                    for n in self.names
                },
            },
        }


class Roster(QueryLoop):
    """Repeated input: every pass reads the same tables, so the engine's
    session caches are used; Spark's cache is released between passes."""

    name = "roster"
    names = ROSTER
    release_cache = True
    min_warm = 6

    def prepare(self) -> None:
        self.sf_dir = self.ctx.out / "tables"
        self.rows = datagen.write_tables(self.sf_dir, TABLES_SEED, SF)
        self.rng = random.Random(self.ctx.seed)

    def pass_input(self, p: int) -> str:
        return str(self.sf_dir)

    def order(self) -> list[str]:
        names = list(self.names)
        self.rng.shuffle(names)
        return names

    def check(self) -> None:
        self.check_queries(str(self.sf_dir))

    def input_size(self) -> dict:
        return {"rows": sum(self.rows.values()),
                "mb": datagen.dir_bytes(self.sf_dir) / 2**20}


class LlmCorpus(QueryLoop):
    """Distinct inputs: every pass reads a corpus directory no earlier
    pass read, so no session memo, staged index or leaked persist can
    serve it; nothing is released between passes."""

    name = "llm_corpus"
    names = LLM
    min_warm = 4

    def prepare(self) -> None:
        self.base = self.ctx.out / "tables"
        datagen.write_tables(self.base, TABLES_SEED, SF)
        self.corpora: list[Path] = []

    def pass_input(self, p: int) -> str:
        tag = f"{self.ctx.seed}-{p}"
        d = self.ctx.out / f"corpus-{tag}"
        datagen.write_namespaced_copy(d, self.base, tag)
        self.corpora.append(d)
        return str(d)

    def check(self) -> None:
        self.check_queries(str(self.corpora[-1]))

    def input_size(self) -> dict:
        d = self.corpora[0]
        rows = sum(pq.ParquetFile(d / f"{t}.parquet").metadata.num_rows
                   for t in ("documents", "embeddings"))
        mb = sum((d / f"{t}.parquet").stat().st_size
                 for t in ("documents", "embeddings")) / 2**20
        return {"rows_per_pass": rows, "mb_per_pass": mb}


class IngestUpsert(Workload):
    """Write beside read: ts-ordered micro-batches of ``events`` flow into
    three maintained current states (a snapflow Pipeline, a Delta table
    kept by MERGE, an Iceberg table kept by equality-delete upserts),
    and each state is read back after every tick."""

    name = "ingest_upsert"

    def prepare(self) -> None:
        ctx = self.ctx
        rng = np.random.default_rng([ctx.seed, 2])
        # seeded batch boundaries: sizes within ±50% of the nominal size
        rows = ctx.ingest_batch_rows
        sizes = rng.integers(rows // 2, rows * 3 // 2 + 1, ctx.ingest_batches)
        bounds = np.concatenate([[0], np.cumsum(sizes)]).tolist()
        table = pa.table(datagen.events(rng, bounds[-1], ctx.ingest_users, skew=0.8))
        bdir = ctx.out / "batches"
        bdir.mkdir(parents=True, exist_ok=True)
        self.batches = []
        for i in range(ctx.ingest_batches):
            f = bdir / f"batch-{i:04d}.parquet"
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), str(f))
            self.batches.append(f)
        self.wh = ctx.out / "warehouse"
        self.delta_hist = self.wh / "delta_events"
        self.delta_cur = self.wh / "delta_current"
        self.ice_hist = self.wh / "iceberg_events"
        self.ice_cur = self.wh / "iceberg_current"
        self.ingested: list[Path] = []
        self.node_runs = 0

    def _pipeline(self):
        from pyspark.sql import functions as F

        from snapflow_spark.incremental.pipeline import Node, Pipeline
        from snapflow_spark.operators.dedupe import dedupe_keep_latest

        pipe = Pipeline(str(self.wh / "pipeline"))
        src = pipe.add_source("events_src")
        pipe.add_node(Node(
            name="accumulated",
            fn=lambda spark, delta: delta,
            upstream={"delta": ("events_src", "consumable")},
        ))
        pipe.add_node(Node(
            name="latest_state",
            fn=lambda spark, history: dedupe_keep_latest(
                history, keys=KEYS,
                order_by=[F.col("ts").desc(), F.col("event_id").desc()]),
            upstream={"history": ("accumulated", "reference")},
            overwrite=True,
        ))
        return pipe, src

    def _tick(self, k: int) -> None:
        from pyspark.sql import functions as F

        from snapflow_spark.operators.dedupe import dedupe_keep_latest
        from snapflow_spark.sources.delta import merge_delta, write_delta
        from snapflow_spark.sources.iceberg import upsert_iceberg, write_iceberg

        spark, tr = self.ctx.spark, self.ctx.tracer
        batch = spark.read.parquet(str(self.batches[k])).withColumn(
            "ts", F.col("ts").cast("timestamp"))
        latest = dedupe_keep_latest(
            batch, keys=KEYS,
            order_by=[F.col("ts").desc(), F.col("event_id").desc()])
        with tr.span("store"):
            self.src.append(batch)
            self.node_runs += self.pipe.produce(spark)
        with tr.span("delta"):
            write_delta(batch, self.delta_hist, mode="append")
            if k == 0:
                write_delta(latest, self.delta_cur, mode="append")
            else:
                merge_delta(spark, self.delta_cur, latest, on=KEYS)
        with tr.span("iceberg"):
            write_iceberg(batch, self.ice_hist, mode="append")
            upsert_iceberg(spark, self.ice_cur, latest, keys=KEYS)

    def _states(self):
        from snapflow_spark.sources.delta import read_delta
        from snapflow_spark.sources.iceberg import read_iceberg

        spark = self.ctx.spark
        return {
            "pipeline": lambda: self.pipe.store("latest_state").read_latest(spark),
            "delta": lambda: read_delta(spark, self.delta_cur),
            "iceberg": lambda: read_iceberg(spark, self.ice_cur),
        }

    def measure(self) -> None:
        self.pipe, self.src = self._pipeline()
        states = self._states()
        spent, k = 0.0, 0
        # the first tick creates the tables; at least one more merges
        while (k < 2 or spent < self.ctx.seconds) and k < len(self.batches):
            t = time.perf_counter()
            tick = self.op(f"tick-{k}", lambda k=k: self._tick(k))
            self.ingested.append(self.batches[k])
            reads = []
            for name, read in states.items():
                dt = self.op(f"read-{name}", lambda read=read: self.action(read()))
                if dt is not None:
                    reads.append(dt)
            wall = time.perf_counter() - t
            spent += wall
            self.passes.append({"wall_s": wall, "tick_s": tick, "read_s": reads,
                                "pins": persisted_rdds(self.ctx.spark)})
            k += 1

    def check(self) -> None:
        """incremental == batch: all three states equal DuckDB's
        keep-latest over every ingested event."""
        import duckdb
        from pyspark.sql import functions as F

        cols = ["event_id", "user_id", "event_type", "value", "props"]
        files = ", ".join(f"'{f}'" for f in self.ingested)
        want = checks.duck_digest(duckdb.connect(), f"""
            SELECT {', '.join(cols)}, epoch_us(ts) AS ts_us FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                ORDER BY ts DESC, event_id DESC) AS rn
              FROM read_parquet([{files}])) WHERE rn = 1""")
        for name, read in self._states().items():
            self.check_one(
                f"{name} state",
                lambda read=read: checks.spark_digest(
                    read().select(*cols, F.unix_micros("ts").alias("ts_us"))),
                lambda: want,
            )

    def results(self) -> dict:
        cold, warm = self.passes[0], self.passes[1:]
        ticks = [p["tick_s"] for p in warm if p["tick_s"] is not None]
        reads = [r for p in warm for r in p["read_s"]]
        ingested = sum(f.stat().st_size for f in self.ingested)
        on_disk = datagen.dir_bytes(self.wh)
        return {
            "cold_pass_s": cold["wall_s"],
            "warm_pass_s": _median([p["wall_s"] for p in warm]),
            "op_p50_s": _median(ticks),
            "op_p90_s": _p90(ticks),
            "detail": {
                "passes": len(self.passes),
                "tick_p50_s": {"value": _median(ticks), "unit": "s", "n": len(ticks)},
                "tick_p90_s": {"value": _p90(ticks), "unit": "s", "n": len(ticks)},
                "read_p50_s": {"value": _median(reads), "unit": "s", "n": len(reads)},
                "read_p90_s": {"value": _p90(reads), "unit": "s", "n": len(reads)},
                "write_amp": {"value": on_disk / ingested, "unit": "ratio",
                              "n": len(self.ingested)},
                "cold_pass_s": {"value": cold["wall_s"], "unit": "s", "n": 1},
                "warm_pass_s": {"value": _median([p["wall_s"] for p in warm]),
                                "unit": "s", "n": len(warm)},
                "tick_s": [p["tick_s"] for p in self.passes],
                "read_s": [p["read_s"] for p in self.passes],
                "pins_per_pass": [p["pins"] for p in self.passes],
            },
        }

    def layer_counts(self) -> dict:
        """Node runs, and the on-disk shape of the maintained tables."""
        def files(root: Path, pattern: str) -> list[Path]:
            return [f for f in root.rglob(pattern) if f.is_file()]

        mb = 2**20
        store = self.wh / "pipeline"
        delta = (self.delta_hist, self.delta_cur)
        ice = (self.ice_hist, self.ice_cur)
        return {
            "pipeline.node_runs": self.node_runs,
            "store.snapshots": sum(1 for d in store.glob("*/snapshot-*") if d.is_dir()),
            "store.bytes_mb": datagen.dir_bytes(store) / mb,
            "delta.log_files": sum(len(files(d / "_delta_log", "*.json")) for d in delta),
            "delta.data_files": sum(
                1 for d in delta for f in files(d, "*.parquet")
                if "_delta_log" not in f.parts),
            "delta.bytes_mb": sum(datagen.dir_bytes(d) for d in delta) / mb,
            "iceberg.delete_files": sum(len(files(d / "data", "*-eq-deletes.parquet"))
                                        for d in ice),
            "iceberg.manifests": sum(len(files(d / "metadata", "manifest-*.avro"))
                                     for d in ice),
            "iceberg.bytes_mb": sum(datagen.dir_bytes(d) for d in ice) / mb,
        }

    def input_size(self) -> dict:
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in self.ingested)
        return {"rows_ingested": rows,
                "mb_ingested": sum(f.stat().st_size for f in self.ingested) / 2**20}


WORKLOADS = {w.name: w for w in (Roster, LlmCorpus, IngestUpsert)}

