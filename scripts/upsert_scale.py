#!/usr/bin/env python
"""Scale probe for the streaming foreachBatch upsert (r9 verdict #5).

q_stream_upsert_readback claims the upsert is O(touched partitions +
batch), not O(table): `sources.weather.upsert_clean` computes the batch
once, observing its distinct partition keys on that pass, reads only the
files the table manifest lists for those partitions, rewrites ONLY those
partitions (their new files replace the old ones in the manifest), and
never opens the rest. This probe measures that claim
directly with three cells built from sf0.1 events' daily aggregate
(40k rows, 4 leaf partitions at 1x):

- T100 grows the table along the PARTITION axis: copy i shifts every
  date by i months, so 100x = 4M rows over 400 leaf partitions while the
  1x batch still touches only the original 4 — the pruning claim's
  worst case (max untouched partitions to NOT read).
- cell A  table 1x,  batch 1x  (baseline; batch touches 4 partitions)
- cell B  table 100x, batch 1x  (claim: ~flat vs A — 396 untouched
  partitions cost only their manifest entries, read on the driver)
- cell C  table 100x, batch 100x (batch touches all 400 partitions:
  wall must track BATCH size, not appear in cell B)

Each cell drops the batch as parquet files, runs the REAL streaming path
(streaming.jobs.stream_upsert_sink: readStream -> foreachBatch ->
upsert_clean -> manifest commit, availableNow) against a fresh rsync'd
copy of the pristine table, and reports best-of-N wall seconds plus the
readback row count. Prints one JSON line per cell.

Usage: SPARK_GRAFT_DRIVER_MEM=48g python scripts/upsert_scale.py \
           [--reps 2] [--mult 100]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from canary_weather_etl_spark.session import get_spark  # noqa: E402
from canary_weather_etl_spark.sources.weather import (  # noqa: E402
    write_clean,
)
from canary_weather_etl_spark.streaming.jobs import (  # noqa: E402
    drain,
    stream_upsert_sink,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BASE = "/tmp/upsert_scale"

BATCH_SCHEMA = ("user_id BIGINT, date DATE, metric BIGINT, "
                "island STRING, location_name STRING, "
                "year INT, month INT")


def daily_base(spark):
    """sf0.1 events -> the daily-metric table shape q_stream_upsert_readback
    upserts into (same partition columns as the weather clean table)."""
    e = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    return (e.groupBy("user_id", F.to_date("ts").alias("date"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("metric"))
            .withColumn("island", F.lit("events"))
            .withColumn("location_name",
                        F.concat(F.lit("u"),
                                 (F.col("user_id") % 4).cast("string")))
            .withColumn("year", F.year("date"))
            .withColumn("month", F.month("date")))


def amplify(df, mult: int):
    """copy i shifts dates by i months -> partition count grows with mult,
    per-partition volume constant (user_id also shifted so keys are
    unique per copy)."""
    copies = F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("i")
    return (df.select("*", copies)
            .select((F.col("user_id") + F.col("i") * 1_000_000)
                    .alias("user_id"),
                    F.add_months("date", F.col("i")).alias("date"),
                    "metric", "island", "location_name")
            .withColumn("year", F.year("date"))
            .withColumn("month", F.month("date")))


def build_table(spark, path: str, mult: int) -> None:
    done = os.path.join(path, "_DONE_")
    if os.path.exists(done):
        return
    shutil.rmtree(path, ignore_errors=True)
    df = daily_base(spark)
    if mult > 1:
        df = amplify(df, mult)
    write_clean(df, path)
    open(done, "w").close()


def build_batch(spark, path: str, mult: int) -> None:
    """10-day window (day-of-month 5..14) per copy, metric bumped — the
    'window re-fetch' drop. mult=1 touches the original 4 partitions;
    mult=100 touches all of them."""
    done = os.path.join(path, "_DONE_")
    if os.path.exists(done):
        return
    shutil.rmtree(path, ignore_errors=True)
    df = daily_base(spark)
    if mult > 1:
        df = amplify(df, mult)
    batch = (df.filter(F.dayofmonth("date").between(5, 14))
             .withColumn("metric", F.col("metric") + F.lit(1000)))
    batch.write.mode("overwrite").parquet(path)
    open(done, "w").close()


def leaf_partitions(path: str) -> int:
    n = 0
    for dirpath, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            n += 1
    return n


def run_cell(spark, name: str, table_src: str, batch_dir: str,
             reps: int) -> dict:
    walls = []
    rows_back = parts = None
    for _rep in range(reps):
        work = tempfile.mkdtemp(prefix=f"upsert_cell_{name}_",
                                dir=BASE)
        table = os.path.join(work, "table")
        # pristine copy per rep: the upsert mutates the table in place
        shutil.copytree(table_src, table)
        os.remove(os.path.join(table, "_DONE_"))
        ckpt = os.path.join(work, "ckpt")
        stream = (spark.readStream.schema(BATCH_SCHEMA)
                  .parquet(batch_dir))
        t0 = time.time()
        q = stream_upsert_sink(stream, table, ckpt,
                               keys=("user_id", "date"))
        drain(q, timeout=1800)
        walls.append(time.time() - t0)
        if rows_back is None:
            rows_back = spark.read.parquet(table).count()
            parts = leaf_partitions(table)
        shutil.rmtree(work, ignore_errors=True)
    out = {"cell": name, "secs": round(min(walls), 2),
           "all_secs": [round(w, 2) for w in walls],
           "table_rows_after": rows_back, "table_leaf_parts": parts}
    print(json.dumps(out), flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--mult", type=int, default=100)
    args = ap.parse_args()

    os.makedirs(BASE, exist_ok=True)
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark("upsert-scale",
                      extra_conf={"spark.driver.memory": mem})

    t1 = os.path.join(BASE, "t1")
    t100 = os.path.join(BASE, f"t{args.mult}")
    b1 = os.path.join(BASE, "b1")
    b100 = os.path.join(BASE, f"b{args.mult}")
    build_table(spark, t1, 1)
    build_table(spark, t100, args.mult)
    build_batch(spark, b1, 1)
    build_batch(spark, b100, args.mult)
    for p in (t1, t100):
        print(json.dumps({"table": p,
                          "leaf_parts": leaf_partitions(p)}), flush=True)
    for p in (b1, b100):
        n = spark.read.parquet(p).count()
        print(json.dumps({"batch": p, "rows": n}), flush=True)

    run_cell(spark, "A_t1_b1", t1, b1, args.reps)
    run_cell(spark, f"B_t{args.mult}_b1", t100, b1, args.reps)
    run_cell(spark, f"C_t{args.mult}_b{args.mult}", t100, b100, args.reps)


if __name__ == "__main__":
    main()
