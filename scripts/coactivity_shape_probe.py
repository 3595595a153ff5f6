#!/usr/bin/env python
"""Decade + safety probe for the coactivity edge-build shapes
(plans/advanced_sql.coactivity_edges, shared by q_triangle_count and
q_kcore_peel) — the r15 evidence for VERDICT r14 item #1.

Shapes compared, identical output (asserted):

- r14  — groupBy(cell).agg(sort_array(collect_list(user))) THEN
         filter(size(us) <= cap): one exchange, but a viral cell
         materializes its FULL distinct-user array in one aggregation
         buffer (a single group's collect_list state cannot spill)
         before the filter discards it — the per-task OOM vector the
         r14 verdict flagged.
- r15  — count(*) OVER (PARTITION BY cell) -> filter(<= cap) ->
         collect_list (shipped): one scan, one cell exchange (the
         collect_list aggregate inherits the window's partitioning).
         Hot-cell rows buffer in WindowExec's spillable array and are
         dropped BEFORE any list is built, so aggregation state is
         <= cap longs per group by construction.
- semijoin — groupBy(cell).count().filter(<= cap) -> left_semi join
         back onto the activity frame -> collect_list (the sketch from
         the r14 verdict, rejected): Catalyst pushes the LeftSemi below
         the left branch's distinct, so the scan + distinct run twice.

Modes:

  python scripts/coactivity_shape_probe.py            # decades: 20k 200k 1M users
  python scripts/coactivity_shape_probe.py --viral    # one hot cell of N users
  python scripts/coactivity_shape_probe.py --fixtures # real edge-set equality, 3 SFs

Decade mode re-runs the r14 pricing table (synthetic bounded-occupancy
cells: every user active in ACT_CELLS cells of ~CELL_OCC occupancy) on
both shapes, asserting edge-set equality at the smallest size. Viral
mode plants a single cell holding EVERY user (dropped by the cap in
both shapes — output equality asserted) and times both: the r14 shape
must still collect the N-user array before discarding it; the r15
shape never builds it. Fixture mode asserts coactivity_edges (HEAD) ==
the r14 collect-then-filter shape on sf0.001/sf0.01/sf0.1 events.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from canary_weather_etl_spark.session import get_spark  # noqa: E402

CELL_OCC = 20     # target actives per synthetic cell (< cap: pairs exist)
ACT_CELLS = 12    # cells each user is active in
CAP = 40
MIN_SHARED = 3


def synth_act(spark, n_users: int, viral: bool = False) -> DataFrame:
    """Synthetic distinct (user_id, event_type, hb) activity in the
    pairs-exist regime: users are grouped in blocks of CELL_OCC, block b
    is active in ACT_CELLS disjoint hour cells (hour = b * 100 + j), so
    every typed cell holds CELL_OCC/2 users (under the cap — parity
    splits the block across the two event types) and every same-parity
    pair within a block shares ACT_CELLS cells (>= MIN_SHARED -> an
    edge). Pair volume is linear in n_users, which is what prices the
    pair-comprehension HOF. With ``viral``, one cell of type 'v'
    additionally holds EVERY user — over the cap, so it contributes no
    pairs and must be dropped; how much it COSTS before being dropped
    is exactly what separates the shapes."""
    u = spark.range(n_users).select(F.col("id").alias("user_id"))
    j = spark.range(ACT_CELLS).select(F.col("id").alias("j"))
    act = (u.join(j)
           .select("user_id",
                   (F.col("user_id") % 2).cast("string").alias("event_type"),
                   F.timestamp_seconds(
                       (F.col("user_id") / CELL_OCC).cast("long") * 360000
                       + F.col("j") * 3600).alias("hb")))
    if viral:
        hot = u.select("user_id", F.lit("v").alias("event_type"),
                       F.timestamp_seconds(F.lit(0)).alias("hb"))
        act = act.unionByName(hot)
    return act


def pairs_from_lists(lists: DataFrame) -> DataFrame:
    pairs = lists.select(F.explode(F.expr(
        "flatten(transform(us, (x, i) -> "
        "transform(slice(us, i + 2, size(us) - i - 1), "
        "y -> struct(x AS u1, y AS u2))))")).alias("p"))
    return (pairs.groupBy(F.col("p.u1").alias("u1"), F.col("p.u2").alias("u2"))
            .agg(F.count(F.lit(1)).alias("shared"))
            .filter(F.col("shared") >= MIN_SHARED)
            .select("u1", "u2"))


def edges_r14(act0: DataFrame, cap: int = CAP) -> DataFrame:
    """r14 shape: collect first, cap after (unbounded buffer on a hot cell)."""
    lists = (act0.groupBy("event_type", "hb")
             .agg(F.sort_array(F.collect_list("user_id")).alias("us"))
             .filter(F.size("us") <= cap))
    return pairs_from_lists(lists)


def edges_semijoin(act0: DataFrame, cap: int = CAP) -> DataFrame:
    """Count pre-filter + semi-join (the verdict's sketched shape). In
    practice Catalyst pushes the LeftSemi below the left branch's
    distinct, so the scan + distinct run TWICE — priced here, rejected
    for the window shape below."""
    ok = (act0.groupBy("event_type", "hb")
          .agg(F.count(F.lit(1)).alias("__n"))
          .filter(F.col("__n") <= cap)
          .select("event_type", "hb"))
    act = act0.join(ok, ["event_type", "hb"], "left_semi")
    lists = (act.groupBy("event_type", "hb")
             .agg(F.sort_array(F.collect_list("user_id")).alias("us")))
    return pairs_from_lists(lists)


def edges_r15(act0: DataFrame, cap: int = CAP) -> DataFrame:
    """r15 shape (shipped): window count over the cell partition, filter,
    THEN collect. One scan, one cell exchange (the collect_list aggregate
    inherits the window's partitioning), and the hot-cell rows are
    buffered in WindowExec's spillable array — never in an unspillable
    aggregation buffer — before the cap drops them, so collect_list
    state is <= cap longs per group by construction."""
    from pyspark.sql import Window
    w = Window.partitionBy("event_type", "hb")
    act = (act0.withColumn("__n", F.count(F.lit(1)).over(w))
           .filter(F.col("__n") <= cap).drop("__n"))
    lists = (act.groupBy("event_type", "hb")
             .agg(F.sort_array(F.collect_list("user_id")).alias("us")))
    return pairs_from_lists(lists)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_shape(fn, act0, reps: int = 3) -> list[float]:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        _noop(fn(act0))
        out.append(round(time.perf_counter() - t0, 3))
    return out


def assert_equal(a: DataFrame, b: DataFrame, label: str) -> int:
    """Spark-side edge-set equality: (count, order-free xxhash64 sum) —
    collecting millions of edges into Python sets is the driver
    anti-pattern this repo keeps out of probes too."""
    def fp(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u1", "u2").cast("decimal(38,0)"))
            .alias("h")).collect()[0]
        return row["n"], row["h"]
    fa, fb = fp(a), fp(b)
    assert fa == fb, f"{label}: edge sets differ ({fa} vs {fb})"
    return fa[0]


def main() -> None:
    spark = get_spark("coactivity-shape-probe")
    spark.sparkContext.setLogLevel("WARN")
    if "--fixtures" in sys.argv:
        from canary_weather_etl_spark.plans.advanced_sql import coactivity_edges
        from canary_weather_etl_spark.plans.registry import load
        for sf in ("sf0.001", "sf0.01", "sf0.1"):
            sf_dir = f"/root/testdata/{sf}"
            ev = load(spark, sf_dir, "events")
            act0 = (ev.select("user_id", "event_type",
                              F.date_trunc("hour", "ts").alias("hb"))
                    .distinct())
            n = assert_equal(edges_r14(act0),
                             coactivity_edges(spark, sf_dir), sf)
            print(json.dumps({"mode": "fixtures", "sf": sf, "edges": n,
                              "equal": True}))
        return

    if "--viral" in sys.argv:
        sizes = [int(a) for a in sys.argv[1:] if a.isdigit()] or [500_000]
        for n in sizes:
            act0 = synth_act(spark, n, viral=True).localCheckpoint(eager=True)
            spark.sparkContext.setJobDescription(f"viral r14 n={n}")
            t14 = time_shape(edges_r14, act0)
            spark.sparkContext.setJobDescription(f"viral semijoin n={n}")
            tsj = time_shape(edges_semijoin, act0)
            spark.sparkContext.setJobDescription(f"viral r15 n={n}")
            t15 = time_shape(edges_r15, act0)
            spark.sparkContext.setJobDescription(None)
            n_edges = assert_equal(edges_r14(act0), edges_r15(act0),
                                   f"viral n={n}")
            print(json.dumps({"mode": "viral", "users": n, "edges": n_edges,
                              "r14_collect_then_cap": t14,
                              "semijoin_cap_then_collect": tsj,
                              "r15_window_cap_then_collect": t15}))
            act0.unpersist()
        return

    sizes = [int(a) for a in sys.argv[1:] if a.isdigit()] or \
        [20_000, 200_000, 1_000_000]
    for n in sizes:
        act0 = synth_act(spark, n).localCheckpoint(eager=True)
        spark.sparkContext.setJobDescription(f"decade r14 n={n}")
        t14 = time_shape(edges_r14, act0)
        spark.sparkContext.setJobDescription(f"decade semijoin n={n}")
        tsj = time_shape(edges_semijoin, act0)
        spark.sparkContext.setJobDescription(f"decade r15 n={n}")
        t15 = time_shape(edges_r15, act0)
        spark.sparkContext.setJobDescription(None)
        row = {"mode": "decade", "users": n,
               "r14_collect_then_cap": t14,
               "semijoin_cap_then_collect": tsj,
               "r15_window_cap_then_collect": t15}
        if n == sizes[0]:
            row["edges"] = assert_equal(edges_r14(act0), edges_r15(act0),
                                        f"decade n={n}")
            row["equal"] = True
        print(json.dumps(row))
        act0.unpersist()


if __name__ == "__main__":
    main()
