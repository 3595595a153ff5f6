"""Benchmark for the weather ETL engine: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

``--workload all`` runs the two workloads one after another.

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench/`` (the program sees only those files), the Spark session runs
on ``local[N]`` with N the usable CPU count, and the workload runs as a
closed loop (see ``workloads.py``). The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, from a traced repeat of the measured phase (it runs second,
on a warmer JVM, so ``trace.overhead_frac`` can read below zero). The line
before it, ``detail: {...}``, carries the workload's own figures, sample
counts and the first errors.

End-to-end metrics (every workload, tracing off):
  setup_s      median of three session set-ups, each ``get_spark`` through
               the first completed job, after the JVM is up (its launch is
               ``session.cold_start_s`` in the traced run)
  op_p50_s     median latency of one measured operation
  ops_per_s    measured operations / measured wall time (output checks
               excluded), which weights the heavy operations

The detail line adds, per workload, the figures named after the layers and
operations (ingest rows/s, upsert and query medians, bytes stored per row,
per-query build and exec seconds in the traced run, ...), the input rows
consumed per second, and the peak resident set (VmHWM) of the Python
process plus the driver JVM, which varies too much from run to run (JVM
heap growth) to carry a bound.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, ".perfbench")
SETUPS = 3
WORKLOAD_NAMES = ("weather_etl", "llm_curation")

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}
LAYER_UNITS = {
    "session.cold_start_s": "s", "session.get_spark_s": "s",
    "session.first_job_s": "s", "op.build_s": "s", "op.exec_s": "s",
    "op.jobs": "count", "op.jobs_in_build": "count", "op.stages": "count",
    "op.tasks": "count", "trace.overhead_frac": "ratio",
}


def _unit(name: str) -> str:
    """Unit of a detail figure, from its name."""
    for suffix, unit in (("rows_per_s", "rows/s"), ("_per_s", "1/s"),
                         ("bytes_per_row", "B/row"), ("_s", "s"),
                         ("_frac", "ratio"), ("_ratio", "ratio"),
                         ("_per_batch_byte", "ratio"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "count"


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=(*WORKLOAD_NAMES, "all"),
                   help="'all' runs each workload in turn")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smallest inputs, for the self-test")
    p.add_argument("--corrupt", action="store_true",
                   help="alter one measured output, for the self-test")
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """local[N] with N usable CPUs; every scratch file inside ``work``."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # no hsperfdata files outside the checkout from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def _session(extra_conf: dict):
    """(spark, get_spark seconds, first-job seconds)."""
    from canary_weather_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=extra_conf)
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, t1 - t0, time.perf_counter() - t1


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit (it exits when its
    standard input closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _peak_rss_mb() -> float:
    """VmHWM of this process and all its descendants, in MiB."""
    parent = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    mine, grew = {os.getpid()}, True
    while grew:
        kids = {p for p, pp in parent.items() if pp in mine} - mine
        grew = bool(kids)
        mine |= kids
    kb = 0
    for pid in mine:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f
                           if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


def _e2e(ctx, setups: list) -> dict:
    ops = [o for o in ctx.ops if o.measured]
    return {
        "setup_s": statistics.median(a + b for a, b in setups),
        "op_p50_s": statistics.median(o.seconds for o in ops),
        "ops_per_s": len(ops) / ctx.measured_s,
    }


def _measured_spans(tracer) -> list[dict]:
    """Every span inside the measured phase."""
    measure = next(s for s in tracer.spans if s["name"] == "measure")
    inside, out = {measure["id"]}, []
    for s in tracer.spans[measure["id"] + 1:]:
        if s["parent"] in inside:
            inside.add(s["id"])
            out.append(s)
    return out


def _op_stats(tracer, ops: list[dict]) -> dict:
    """Per operation: median build and exec seconds, mean Spark jobs,
    stages and tasks, and mean jobs launched while building the plan."""
    kids: dict[int, list] = {}
    for s in tracer.spans:
        kids.setdefault(s["parent"], []).append(s)

    def stage(op, which):
        return [c for c in kids.get(op["id"], []) if c.get("stage") == which]

    def secs(which):
        return statistics.median(
            sum(c["end"] - c["start"] for c in stage(o, which)) for o in ops)

    return {
        "build_s": secs("build"),
        "exec_s": secs("exec"),
        "jobs": statistics.mean(o["jobs"] for o in ops),
        "jobs_in_build": statistics.mean(
            sum(c["jobs"] for c in stage(o, "build")) for o in ops),
        "stages": statistics.mean(o["stages"] for o in ops),
        "tasks": statistics.mean(o["tasks"] for o in ops),
    }


def _layer(tracer, cold: tuple, setups: list, overhead: float) -> dict:
    ops = [s for s in _measured_spans(tracer) if s.get("op")]
    out = {
        "session.cold_start_s": cold[0] + cold[1],
        "session.get_spark_s": statistics.median(a for a, _ in setups),
        "session.first_job_s": statistics.median(b for _, b in setups),
        "trace.overhead_frac": overhead,
    }
    out.update({f"op.{k}": v for k, v in _op_stats(tracer, ops).items()})
    return out


def _span_detail(tracer) -> dict:
    """Median seconds of every measured span name; the per-operation
    statistics of each layer; Spark counts per sources call; and Q3's
    task count over Q1's, the partition-pruning claim measured."""
    by_name: dict[str, list] = {}
    spans = _measured_spans(tracer)
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    out = {f"{n}_s": statistics.median(s["end"] - s["start"] for s in ss)
           for n, ss in by_name.items()}
    by_layer: dict[str, list] = {}
    for s in spans:
        if s.get("op"):
            by_layer.setdefault(s["name"].split(".")[0], []).append(s)
    for layer, ops in by_layer.items():
        st = _op_stats(tracer, ops)
        out.update({f"{layer}.build_s": st["build_s"],
                    f"{layer}.exec_s": st["exec_s"],
                    f"{layer}.jobs_per_op": st["jobs"],
                    f"{layer}.stages_per_op": st["stages"],
                    f"{layer}.tasks_per_op": st["tasks"],
                    f"{layer}.jobs_in_build": st["jobs_in_build"]})
        if layer == "sources":
            for k in ("jobs", "tasks", "failed_tasks"):
                out[f"sources.{k}"] = statistics.mean(o[k] for o in ops)
    q1 = by_name.get("plans.weather_sql.q1")
    q3 = by_name.get("plans.weather_sql.q3")
    if q1 and q3:
        out["plans.weather_sql.q3_task_ratio"] = (
            statistics.mean(s["tasks"] for s in q3)
            / statistics.mean(s["tasks"] for s in q1))
    return out


def _workload_detail(name: str, ctx) -> dict:
    ops = [o for o in ctx.ops if o.measured]
    d = {"samples": len(ops), "passes": ctx.detail.get("passes"),
         "measured_s": ctx.measured_s}

    def lat(kind):
        return [o.seconds for o in ops if o.kind == kind]

    if name == "weather_etl":
        files = [os.path.join(dp, f)
                 for dp, _, fs in os.walk(ctx.detail["table"])
                 for f in fs if f.endswith(".parquet")]
        ingest = [o for o in ops if o.kind == "ingest"]
        d.update({
            "ingest_rows_per_s": sum(o.rows for o in ingest)
            / sum(o.seconds for o in ingest),
            "upsert_p50_s": statistics.median(lat("upsert")),
            "weather_query_p50_s": statistics.median(lat("weather_query")),
            "stored_bytes_per_row": sum(map(os.path.getsize, files))
            / ctx.detail["table_rows"],
            "sources.files_per_partition":
                len(files) / len({os.path.dirname(f) for f in files}),
            "sources.upsert_partitions_rewritten": statistics.mean(
                ctx.detail["upsert_partitions_rewritten"]),
            "sources.upsert_bytes_written_per_batch_byte":
                sum(ctx.detail["upsert_bytes_written"])
                / sum(ctx.detail["upsert_batch_bytes"]),
        })
    else:
        d["llm_rows_per_s"] = sum(o.rows for o in ops) / ctx.measured_s
    failed = sum(not o.ok for o in ctx.ops)
    d["failed_ops_frac"] = failed / len(ctx.ops)
    d["errors"] = ctx.errors[:5]
    return d


def _run_all(argv: list[str]) -> int:
    """Each workload in a process of its own; their output, labelled."""
    rest = [a for a in argv if a not in ("--workload", "all")]
    worst = 0
    for name in WORKLOAD_NAMES:
        p = subprocess.run([sys.executable, os.path.abspath(__file__),
                            "--workload", name, *rest],
                           stdout=subprocess.PIPE, text=True)
        for line in p.stdout.splitlines()[-2:]:
            print(f"{name} {line}", flush=True)
        worst = worst or p.returncode
    return worst


def main(argv=None) -> int:
    started = time.perf_counter()
    args = _args(argv)
    if args.workload == "all":
        return _run_all(sys.argv[1:] if argv is None else argv)
    sys.path.insert(0, REPO)
    # the program must be importable before any work starts
    import canary_weather_etl_spark  # noqa: F401

    from spans import Tracer
    from workloads import WORKLOADS, Ctx

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(OUT, run_id)
    _environment(work)
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UsePerfData"}
    spark = None
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        # the JVM launches while the inputs and expected outputs are made
        starting = pool.submit(_session, conf)
        try:
            ctx = Ctx(None, None, work, args.seed, args.seconds, args.tiny,
                      args.corrupt)
            wl = WORKLOADS[args.workload](ctx)
        finally:
            spark, *cold = starting.result()
        setups = []
        for _ in range(SETUPS):
            spark.stop()
            spark, *t = _session(conf)
            setups.append(tuple(t))
        ctx.spark = spark
        ctx.tracer = Tracer(spark.sparkContext, False, run_id)
        wl.run(warm=True)
        metrics = _e2e(ctx, setups)
        detail = _workload_detail(args.workload, ctx)
        detail["rows_per_s"] = sum(
            o.rows for o in ctx.ops if o.measured) / ctx.measured_s
        detail["peak_rss_mb"] = _peak_rss_mb()
        warm = next(s for s in ctx.tracer.spans if s["name"] == "warmup")
        detail["warmup_s"] = warm["end"] - warm["start"]
        if args.trace:
            untraced = ctx.measured_s
            for o in ctx.ops:
                o.measured = False
            ctx.tracer = Tracer(spark.sparkContext, True, run_id)
            wl.run(warm=False)
            metrics = _layer(ctx.tracer, cold, setups,
                             ctx.measured_s / untraced - 1)
            detail.update(_span_detail(ctx.tracer))
            ctx.tracer.dump(os.path.join(OUT, f"{run_id}.spans.json"))
        wl.close()
    finally:
        pool.shutdown()
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not o.ok for o in ctx.ops)
    detail["wall_s"] = time.perf_counter() - started
    units = LAYER_UNITS if args.trace else E2E_UNITS
    print("detail: " + json.dumps({
        k: {"value": v, "unit": _unit(k)}
        if isinstance(v, (int, float)) and not isinstance(v, bool) else v
        for k, v in detail.items()}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ctx.ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
