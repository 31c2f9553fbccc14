"""Benchmark of the snapflow_spark engine: one workload per run.

    python3 perfbench/run.py --workload roster --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones of BENCHMARK.json.  The line before it carries the
run's detail: every workload-specific figure with its unit and sample
count, per-pass pins, input size and host metadata.  ``--smoke`` shrinks
the ``ingest_upsert`` input to three 200-row micro-batches over 100 users
for the benchmark's own tests; the other workloads already run at their
smallest size (sf0.001, a 500-document corpus).

Everything the run writes stays under ``perfbench/_out/`` (inputs, Spark
local dirs, the event log of a traced run, ``*-trace.json`` span files)
and under the engine's own ``.scratch/``.  See perfbench/NOTES.md for
why each workload exists and the defects found while sizing them.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "_out"

#: ``ingest_upsert`` input sizes: (full run, --smoke).
SIZES = {
    "ingest_batches": (12, 3),
    "ingest_batch_rows": (500, 200),
    "ingest_users": (1500, 100),
}


#: On-disk and run counts of the ingest layers (0 where a workload
#: does not exercise them).
INGEST_COUNTS = [
    "pipeline.node_runs", "store.snapshots", "store.bytes_mb", "delta.log_files",
    "delta.data_files", "delta.bytes_mb", "iceberg.delete_files",
    "iceberg.manifests", "iceberg.bytes_mb",
]

#: Per-layer metrics a traced run prints.  Times are only those every
#: workload exercises; a layer time only some workloads reach
#: (queries.construct_s, catalog.load_table_s, pipeline/store/delta/
#: iceberg seconds) goes to the detail line and the span file instead.
PER_LAYER = [
    "session.start_s", "operators.construct_s", "queries.py4j_roundtrips",
    "py4j.roundtrips", "catalog.load_table_calls", "functions.python_eval_nodes",
    "spark.plan_s", "spark.exec_s", "spark.task_busy_s", "spark.core_util",
    "spark.sched_wait_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.failed_tasks", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
    "spark.spill_mb", "spark.persisted_rdds", "incremental.incr_dirs_left",
    *INGEST_COUNTS,
]


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    ticks = os.sysconf("SC_CLK_TCK")
    start = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start / ticks


AGE0 = _process_age_s()


def _steal_s() -> float:
    """CPU time the hypervisor gave other guests, summed over CPUs."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def _source_digest() -> str:
    """The commit if the checkout is a git repository, else a digest of
    the engine's sources."""
    if (ROOT / ".git").exists():
        try:
            return subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, check=True, timeout=10,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for f in sorted((ROOT / "snapflow_spark").rglob("*.py")):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return "src-" + h.hexdigest()[:16]


class Ctx:
    """What a workload needs from the run: session, tracer, paths, sizes."""

    def __init__(self, args, out: Path, tracer, cores: int):
        self.seed = args.seed
        self.seconds = args.seconds
        self.out = out
        self.tracer = tracer
        self.cores = cores
        self.spark = None
        pick = 1 if args.smoke else 0
        for key, vals in SIZES.items():
            setattr(self, key, vals[pick])


def _environment(out: Path, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``out``."""
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(out / "spark-local")
    # the inputs are a few MB; the engine's 8g default heap is sized for
    # sf0.1 and would let one run claim memory other processes need
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # The serial collector grows the heap only as far as the live set
    # needs, so the JVM's peak RSS tracks what the engine holds (pins,
    # memos): peak RSS moved by ~2% between runs of identical work, against
    # ~25% under G1's and ~10% under the parallel collector's adaptive
    # sizing (4 cores, sf0.001).
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    jvm = "-XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm
    args = [f"--driver-java-options=-Djava.io.tmpdir={tmp} {jvm} -XX:+UseSerialGC"]
    if trace:
        (out / "eventlog").mkdir()
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{out / 'eventlog'}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])
    import tempfile

    tempfile.tempdir = str(tmp)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not (ROOT / "snapflow_spark").is_dir():
        print(f"no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = str(ROOT)  # the checkout root, not perfbench/
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = OUT / f"{tag}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    try:
        detail, result = _run(args, out, tag)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


def _run(args, out: Path, tag: str) -> tuple[dict, dict]:
    from perfbench.tracing import Tracer, instrument, spark_figures
    from perfbench.workloads import WORKLOADS, persisted_rdds

    _environment(out, bool(args.trace))
    cores = len(os.sched_getaffinity(0))
    scratch = ROOT / ".scratch"
    incr_before = set(scratch.glob("incr_*"))
    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "nproc": cores,
        "loadavg_start": os.getloadavg(), "python": platform.python_version(),
        "steal_s": -_steal_s(),
        "commit": _source_digest(), "load_shape": "closed loop, 1 client",
    }

    import pyspark

    from snapflow_spark.registry import all_queries
    from snapflow_spark.session import build_session

    all_queries()  # import every query module before instrumenting
    tracer = Tracer(bool(args.trace))
    if args.trace:
        instrument(tracer)
    ctx = Ctx(args, out, tracer, cores)
    wl = WORKLOADS[args.workload](ctx)
    wl.prepare()
    t = time.perf_counter()
    spark = build_session("perfbench", master=f"local[{cores}]")
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    # one trivial job, so the first timed operation does not pay the
    # scheduler's first-job start-up
    spark.range(1000).selectExpr("sum(id)").collect()
    setup_s = AGE0 + time.perf_counter() - T0
    try:
        wl.measure()
        jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
        rss = {"python": _peak_rss_mb(os.getpid()), "jvm": _peak_rss_mb(jvm_pid)}
        peak_rss = sum(rss.values())
        t = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t
        res = wl.results()
        pins_end = persisted_rdds(spark)
    finally:
        _stop(spark)
    meta["spark"] = pyspark.__version__
    meta["loadavg_end"] = os.getloadavg()
    meta["steal_s"] += _steal_s()
    meta["input"] = wl.input_size()
    incr_left = len(set(scratch.glob("incr_*")) - incr_before)

    detail = {
        **meta,
        "setup_s": {"value": setup_s, "unit": "s", "n": 1},
        "peak_rss_mb": {"value": peak_rss, "unit": "MB", "n": 1, **rss},
        "failed_frac": {"value": wl.failed / wl.attempted, "unit": "ratio",
                        "n": wl.attempted},
        "mismatches": wl.mismatches,
        "check_s": check_s,
        "incr_dirs_left": incr_left,
        **res["detail"],
    }
    if args.trace:
        layer = {
            "session.start_s": session_s,
            "queries.construct_s": tracer.secs["queries.construct"],
            "queries.py4j_roundtrips": sum(
                s["py4j"] for s in tracer.spans if s["name"] == "construct"),
            "py4j.roundtrips": sum(
                s["py4j"] for s in tracer.spans if s.get("kind") == "operation"),
            "catalog.load_table_s": tracer.secs["catalog.load_table"],
            "catalog.load_table_calls": tracer.counts["catalog.load_table"],
            "operators.construct_s": tracer.secs["operators.construct"],
            "spark.plan_s": tracer.secs["spark.plan"],
            "functions.python_eval_nodes": tracer.counts["functions.python_eval_nodes"],
            "spark.persisted_rdds": pins_end,
            "incremental.incr_dirs_left": incr_left,
            **{f"{name}_s": tracer.secs[name] for name in (
                "pipeline.produce", "store.append", "store.read", "delta.append",
                "delta.merge", "delta.read", "iceberg.append", "iceberg.upsert",
                "iceberg.read")},
            **dict.fromkeys(INGEST_COUNTS, 0),
        }
        groups = {s["invocation"] for s in tracer.spans if s["invocation"]}
        layer.update(spark_figures(out / "eventlog", groups, cores))
        if hasattr(wl, "layer_counts"):
            layer.update(wl.layer_counts())
        tracer.dump(OUT / f"{tag}-trace.json", {"meta": meta, "layers": layer})
        detail["layers"] = layer
        metrics = {k: layer[k] for k in PER_LAYER}
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_pass_s": res["cold_pass_s"],
            "warm_pass_s": res["warm_pass_s"],
            "op_p50_s": res["op_p50_s"],
            "op_p90_s": res["op_p90_s"],
            "peak_rss_mb": peak_rss,
        }
    detail["run_s"] = _process_age_s()
    result = {
        "correct": not wl.mismatches,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }
    return detail, result


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_util"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
