#!/usr/bin/env python
"""Stage attribution for the five-stage curation pipeline at a decade
multiplier (SCALE.md r12 evidence; r11 verdict #3: re-attribute
q_corpus_curation's 1000x wall with the interpreter-cliff lens).

Times CUMULATIVE prefixes of curate_corpus's portable-oracle
composition (the registered q_corpus_curation shape) with a
one-row xxhash64-of-all-columns sink (full computation, no driver
result serialization — the bench_scale --force discipline), then
differences adjacent prefixes into per-stage walls:

  gate        quality_ok + lang filter over the amplified scan
  exact       md5 content-hash min-id keeper (full-row window shuffle)
  shingle     shingle_sets over exact survivors (checkpointed — priced
              once here, reused by sigs + verify, like the pipeline)
  neardup     signatures -> banded candidates -> exact verify -> drop ids
  survivors   checkpoint-derived survivor ids semi-join the raw scan
  chunk       overlapping-window chunk table (the full pipeline)

Each prefix re-executes its predecessors, so stage wall = prefix_t -
prev_prefix_t (noise floor ~ the shared scan). --ab additionally probes
candidate shape swaps (see --help) without touching the shipped
operators.

Usage: SPARK_GRAFT_DRIVER_MEM=48g python scripts/curation_stage_probe.py \
           [--mult 1000] [--reps 2]
Prints one JSON line per (stage, rep-best).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from canary_weather_etl_spark.operators import dedup as D  # noqa: E402
from canary_weather_etl_spark.operators.pipeline import curate_corpus  # noqa: E402
from canary_weather_etl_spark.operators.text import lang_id, quality_ok  # noqa: E402
from canary_weather_etl_spark.session import get_spark  # noqa: E402
from scripts.scale_probe import amplified_docs_path  # noqa: E402


def force(df) -> int:
    """One-row hash sink: full computation, no driver serialization.
    bit_xor, not sum — the session runs ANSI mode and a long sum of
    64-bit hashes overflows (the bench_scale lesson)."""
    cols = [F.col(c).cast("string") for c in df.columns]
    row = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor("h").alias("s")).collect()[0]
    return int(row["n"])


def timed(fn, reps: int) -> tuple[float, int]:
    best, rows = float("inf"), -1
    for _ in range(reps):
        t0 = time.perf_counter()
        rows = fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 2), rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=1000)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark("canary-curation-stage-probe")
    path = amplified_docs_path(spark, args.mult)
    docs = (spark.read.parquet(path)
            .repartition(spark.sparkContext.defaultParallelism)
            .localCheckpoint(eager=True))
    n_docs = docs.count()
    print(json.dumps({"mult": args.mult, "n_docs": n_docs}), flush=True)

    # ---- cumulative prefixes of the registered portable composition ----
    def gated_df():
        return (docs.filter(quality_ok("text", min_tokens=20))
                .filter(lang_id("text").isin("en", "und")))

    def exact_df():
        from pyspark.sql import Window
        wh = Window.partitionBy("__h")
        return (gated_df().withColumn("__h", F.md5(F.col("text")))
                .withColumn("__keep", F.min("doc_id").over(wh))
                .filter(F.col("doc_id") == F.col("__keep"))
                .drop("__h", "__keep"))

    def p_gate():
        return force(gated_df())

    def p_exact():
        return force(exact_df())

    def p_shingle():
        sets = D.shingle_sets(exact_df(), "doc_id", "text", n=2)
        return force(sets.select("doc", "sz"))

    def p_neardup():
        sets = D.shingle_sets(exact_df(), "doc_id", "text",
                              n=2).localCheckpoint(eager=True)
        sigs = D.minhash_signatures_from_sets(sets, 32)
        cands = D.lsh_candidate_pairs(sigs, bands=8, num_hashes=32)
        dup = D.verify_pairs_jaccard(sets, cands, threshold=0.5)
        drop_ids = dup.select(F.col("b").alias("doc_id")).distinct()
        surv = (sets.select(F.col("doc").alias("doc_id"))
                .join(drop_ids, "doc_id", "left_anti"))
        return force(surv)

    def p_survivors():
        sets = D.shingle_sets(exact_df(), "doc_id", "text",
                              n=2).localCheckpoint(eager=True)
        sigs = D.minhash_signatures_from_sets(sets, 32)
        cands = D.lsh_candidate_pairs(sigs, bands=8, num_hashes=32)
        dup = D.verify_pairs_jaccard(sets, cands, threshold=0.5)
        drop_ids = dup.select(F.col("b").alias("doc_id")).distinct()
        surv_ids = (sets.select(F.col("doc").alias("doc_id"))
                    .join(drop_ids, "doc_id", "left_anti"))
        return force(docs.join(surv_ids, "doc_id", "left_semi"))

    def p_full():
        return force(curate_corpus(docs, near_dup_threshold=0.5))

    # UNTIMED full-pipeline warm pass first: the first measured prefix
    # otherwise absorbs the JIT/codegen warm-up of the regex-heavy gate
    # and the page-cache fill (first cut of this probe measured the
    # gate prefix SLOWER than gate+exact for exactly that reason)
    t0 = time.perf_counter()
    p_full()
    print(json.dumps({"warm_full_s": round(time.perf_counter() - t0, 2)}),
          flush=True)

    prefixes = [("gate", p_gate), ("exact", p_exact),
                ("shingle", p_shingle), ("neardup", p_neardup),
                ("survivors", p_survivors), ("full", p_full)]
    prev = 0.0
    for name, fn in prefixes:
        t, rows = timed(fn, args.reps)
        print(json.dumps({"prefix": name, "wall_s": t, "rows": rows,
                          "stage_delta_s": round(t - prev, 2)}),
              flush=True)
        prev = t


if __name__ == "__main__":
    main()
