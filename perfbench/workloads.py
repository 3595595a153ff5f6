"""The two workloads. Each is a closed loop: one client thread issues the
next operation only after the previous one completed.

A workload runs one untimed warm-up pass of its own operations, then the
measured phase: whole passes until ``seconds`` have elapsed. Every
operation's output is checked (untimed); an operation that raises or
returns a wrong output counts as failed.

The program is driven only through its public calls: ``sources.weather``,
``plans.weather_sql`` and ``plans.REGISTRY[name].fn``.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import checks
import gen
from canary_weather_etl_spark.plans import REGISTRY
from canary_weather_etl_spark.plans import weather_sql as ws
from canary_weather_etl_spark.plans.registry import TABLES
from canary_weather_etl_spark.sources import weather as sw

# LLM-tagged bench=True registry queries: dedup, clustering, similarity
# and the BPE tokenizer.
LLM_QUERIES = (
    "q_dedup_minhash_lsh", "q_semantic_dedup", "q_sim_topk_bruteforce",
    "q_bpe_encode_ids",
)


@dataclass
class Op:
    name: str
    kind: str
    seconds: float
    ok: bool
    rows: int = 0
    measured: bool = True


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    tiny: bool
    corrupt: bool
    ops: list[Op] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    measured_s: float = 0.0
    check_s: float = 0.0

    @contextmanager
    def untimed(self):
        """Checks run inside the measured phase; their time is taken out
        of its wall time."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t

    def record(self, op: Op, problems: list[str]) -> None:
        if problems:
            op.ok = False
            self.errors.extend(f"{op.name}: {p}" for p in problems[:3])
        self.ops.append(op)

    def corrupt_once(self, rows: list) -> list:
        """Self-test hook: duplicate a row of the first measured output."""
        if self.corrupt and rows:
            self.corrupt = False
            return rows + rows[:1]
        return rows


def _measure(ctx: Ctx, one_pass) -> None:
    """Whole passes until ``ctx.seconds`` have elapsed."""
    ctx.check_s = 0.0
    t0 = time.perf_counter()
    n = 0
    with ctx.tracer.span("measure"):
        while n == 0 or time.perf_counter() - t0 - ctx.check_s < ctx.seconds:
            one_pass(n, t0)
            n += 1
    ctx.measured_s = time.perf_counter() - t0 - ctx.check_s
    ctx.detail["passes"] = n


# ---------------------------------------------------------- llm curation

class LlmCuration:
    """LLM registry queries over generated documents and embeddings,
    checked against each query's ``oracle_sql`` in DuckDB on the same
    files."""

    layer = "operators"
    names = LLM_QUERIES

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.data = os.path.join(ctx.work, "data")
        n_docs, n_vecs = (200, 200) if ctx.tiny else (1000, 500)
        ctx.detail["input_rows"] = gen.write_documents(
            self.data, ctx.seed, n_docs, n_vecs, dup_share=0.05)
        self.oracle = checks.Oracle(self.data, TABLES)
        for name in self.names:
            self.oracle.expected(name, REGISTRY[name].oracle)
        self.rng = random.Random(ctx.seed)

    def run_one(self, name: str, measured: bool) -> None:
        ctx, tr, spec = self.ctx, self.ctx.tracer, REGISTRY[name]
        rows, cols, problems = [], [], []
        with tr.span(f"{self.layer}.{name}", op=True) as sp:
            try:
                with tr.span(f"{self.layer}.{name}.build", stage="build"):
                    df = spec.fn(ctx.spark, self.data)
                with tr.span(f"{self.layer}.{name}.exec", stage="exec"):
                    rows = [tuple(r) for r in df.collect()]
                cols = list(df.columns)
            except Exception:  # a failed op is counted, the run goes on
                problems.append(traceback.format_exc(limit=2))
        with ctx.untimed():
            if not problems:
                if measured:
                    rows = ctx.corrupt_once(rows)
                if (checks.canonical(rows, cols)
                        != self.oracle.expected(name, spec.oracle)):
                    problems.append("result differs from oracle_sql")
        ctx.record(Op(name, "query", sp["end"] - sp["start"], True,
                      self.oracle.input_rows(spec.oracle), measured),
                   problems)

    def run(self, warm: bool) -> None:
        if warm:
            with self.ctx.tracer.span("warmup"):
                for name in self.names:
                    self.run_one(name, False)

        def one_pass(_n, _t0):
            order = list(self.names)
            self.rng.shuffle(order)
            for name in order:
                self.run_one(name, True)

        _measure(self.ctx, one_pass)

    def close(self) -> None:
        self.oracle.close()


# --------------------------------------------------------------- weather

WEATHER_QUERIES = (
    ("q1", ws.q1_sunniest_location),
    ("q2", ws.q2_sunniest_month_location),
    ("q3", ws.q3_best_uv_month),
    ("q2_corrected", ws.q2_corrected_best_location_per_month),
)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class _Weather:
    """One weather pipeline over one clean table: bulk ingest, then
    monthly upserts; the reference's queries are served after each load."""

    def __init__(self, ctx: Ctx, raw: str, deliveries: list, table: str):
        self.ctx, self.raw, self.table = ctx, raw, table
        self.deliveries = deliveries
        self.expected: dict = {}
        self.answers: dict = {}

    def _read(self, tag: str):
        """The clean-layer frame of one raw delivery."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        src = os.path.join(self.raw, tag, "*", "*")
        with tr.span("sources.read_open_meteo", stage="build"):
            om = sw.read_open_meteo(spark, f"{src}/om_*.json")
            self._force(om)
        with tr.span("sources.read_visual_crossing", stage="build"):
            vc = sw.read_visual_crossing(spark, f"{src}/vc_*.json")
            self._force(vc)
        with tr.span("sources.build_clean", stage="build"):
            clean = sw.build_clean(om, vc)
            self._force(clean)
        return clean

    def _force(self, df) -> None:
        """Traced runs only: force the frame to a duplicate-sensitive
        checksum so its cost lands in its own span."""
        if self.ctx.tracer.enabled:
            df.selectExpr("sum(cast(xxhash64(*) as decimal(38,0)))").collect()

    def _absorb(self, rows: list[dict]) -> None:
        for r in rows:
            self.expected[(r["location"], r["date"])] = (
                r["sunshine_duration"], r["uvindex"])

    def ingest(self, bulk_rows: list[dict], measured: bool) -> None:
        ctx = self.ctx
        problems = []
        with ctx.tracer.span("sources.ingest", op=True) as sp:
            try:
                clean = self._read("bulk")
                with ctx.tracer.span("sources.write_clean", stage="exec"):
                    sw.write_clean(clean, self.table)
            except Exception:
                problems.append(traceback.format_exc(limit=2))
        self._absorb(bulk_rows)
        with ctx.untimed():
            if not problems:
                problems, self.answers = checks.check_table(self.table,
                                                            self.expected)
        ctx.record(Op("ingest", "ingest", sp["end"] - sp["start"], True,
                      len(bulk_rows), measured), problems)
        self.serve(measured)

    def step(self, k: int, measured: bool) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        tag, rows = self.deliveries[k]
        with ctx.untimed():
            before = checks.partition_digests(self.table)
        problems = []
        with tr.span("sources.upsert", op=True) as sp:
            try:
                batch = self._read(tag)
                with tr.span("sources.upsert_clean", stage="exec"):
                    sw.upsert_clean(ctx.spark, self.table, batch)
            except Exception:
                problems.append(traceback.format_exc(limit=2))
        self._absorb(rows)
        with ctx.untimed():
            after = checks.partition_digests(self.table)
            touched = checks.batch_partitions(rows)
            if not problems:
                problems, self.answers = checks.check_table(self.table,
                                                            self.expected)
                problems += checks.check_untouched(before, after, touched)
            if measured:
                rewritten = [p for p in touched
                             if before.get(p) != after.get(p)]
                det = ctx.detail
                det.setdefault("upsert_partitions_rewritten", []).append(
                    len(rewritten))
                det.setdefault("upsert_bytes_written", []).append(
                    sum(_dir_bytes(os.path.join(self.table, p))
                        for p in rewritten))
                det.setdefault("upsert_batch_bytes", []).append(
                    _dir_bytes(os.path.join(self.raw, tag)))
        ctx.record(Op(f"upsert_{tag}", "upsert", sp["end"] - sp["start"],
                      True, len(rows), measured), problems)
        self.serve(measured)

    def serve(self, measured: bool) -> None:
        """Q1, Q2, Q3 and the corrected Q2 over the table as it stands."""
        ctx, tr = self.ctx, self.ctx.tracer
        with tr.span("plans.weather_sql.register_clean_view"):
            ws.register_clean_view(ctx.spark, self.table)
        for name, fn in WEATHER_QUERIES:
            out, problems = [], []
            with tr.span(f"plans.weather_sql.{name}", op=True) as sp:
                try:
                    with tr.span(f"plans.weather_sql.{name}.build",
                                 stage="build"):
                        df = fn(ctx.spark)
                    with tr.span(f"plans.weather_sql.{name}.exec",
                                 stage="exec"):
                        out = [tuple(r) for r in df.collect()]
                except Exception:
                    problems.append(traceback.format_exc(limit=2))
            with ctx.untimed():
                if not problems:
                    if measured:
                        out = ctx.corrupt_once(out)
                    problems = checks.check_weather_query(
                        name, out, self.answers.get(name, []))
            ctx.record(Op(name, "weather_query", sp["end"] - sp["start"],
                          True, len(self.expected), measured), problems)


def _write_deliveries(raw: str, n_stations: int, n_days: int, seed: int,
                      n_deliveries: int):
    """A bulk delivery of ``n_days`` from 2021-01-01, then one delivery
    every 30 days, each of the last 31 days: consecutive deliveries
    overlap and most rewrite two months. Returns (bulk rows, [(tag,
    rows)])."""
    station_list = gen.stations(n_stations)
    start = dt.date(2021, 1, 1)
    bulk = gen.write_weather_batch(os.path.join(raw, "bulk"), station_list,
                                   gen.day_range(start, n_days), seed, "bulk")
    deliveries = []
    for k in range(1, n_deliveries + 1):
        end = start + dt.timedelta(days=n_days - 1 + 30 * k)
        tag = f"m{k}"
        rows = gen.write_weather_batch(
            os.path.join(raw, tag), station_list,
            gen.day_range(end - dt.timedelta(days=30), 31),
            seed * 1000 + k, tag)
        deliveries.append((tag, rows))
    return bulk, deliveries


class WeatherEtl:
    """The reference's job at twice its 14 stations: a bulk ingest of both
    raw shapes, then monthly re-deliveries of the last 31 days, each
    upserted; Q1, Q2, Q3 and the corrected Q2 follow every load. The warm-up
    pass runs the same operations on a five-station copy."""

    STEPS = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        n_stations, n_days = (3, 62) if ctx.tiny else (28, 243)
        self.raw = os.path.join(ctx.work, "raw")
        self.bulk_rows, self.deliveries = _write_deliveries(
            self.raw, n_stations, n_days, ctx.seed, self.STEPS)
        self.warm_raw = os.path.join(ctx.work, "raw_warm")
        # more partitions than Spark's parallel-listing threshold (32),
        # so the warm-up takes the same listing path as the measured table
        self.warm_bulk, self.warm_deliveries = _write_deliveries(
            self.warm_raw, 5, 243, ctx.seed + 1, 1)
        ctx.detail["stations"], ctx.detail["bulk_days"] = n_stations, n_days
        self.tables = 0

    def _pipeline(self, raw: str, deliveries: list) -> _Weather:
        self.tables += 1
        return _Weather(self.ctx, raw, deliveries,
                        os.path.join(self.ctx.work, f"table{self.tables}"))

    def run(self, warm: bool) -> None:
        ctx = self.ctx
        if warm:
            with ctx.tracer.span("warmup"):
                w = self._pipeline(self.warm_raw, self.warm_deliveries)
                w.ingest(self.warm_bulk, False)
                w.step(0, False)

        def one_pass(_n, _t0):
            w = self._pipeline(self.raw, self.deliveries)
            w.ingest(self.bulk_rows, True)
            for k in range(self.STEPS):
                w.step(k, True)
            ctx.detail["table"] = w.table
            ctx.detail["table_rows"] = len(w.expected)

        _measure(ctx, one_pass)

    def close(self) -> None:
        pass


WORKLOADS = {
    "weather_etl": WeatherEtl,
    "llm_curation": LlmCuration,
}
