#!/usr/bin/env python
"""Scale probe for the streaming-admission screen regimes (SCALE.md r11).

Holds the BATCH fixed while the persisted corpus grows 1x/10x/100x and
times one screen invocation per regime:

- rescan (no state_dir): re-reads and RE-SHINGLES the whole corpus per
  batch — per-batch wall should track corpus size.
- postings (with a state_dir, the 100 TB shape): equi-joins the
  batch's shingles against the persisted postings state (seeded once by
  admission_state_init; seed time reported separately as the amortized
  one-off) — per-batch wall should track batch size + postings-hit.

Corpus amplification follows scripts/scale_probe.py's discipline: union
of copies with every token PREFIXED per copy, so copies share no
shingles and corpus growth does not manufacture quadratic in-cluster
pair growth. The batch is drawn from copy 0's rewrite space (a slice of
the base docs re-tagged like copy 0 plus a fresh-text slice), so exact
and near gates both fire at every multiplier and BOTH regimes must
return identical verdict multisets (asserted, not assumed).

Usage: SPARK_GRAFT_DRIVER_MEM=48g python scripts/admission_scale.py \
           [--mults 1 10 100] [--batch 2000] [--reps 2]
Prints one JSON line per (mult, regime).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from canary_weather_etl_spark.operators import dedup as D  # noqa: E402
from canary_weather_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = "/tmp/admission_scale"


def tagged(df, tag: str):
    return df.select(
        "doc_id",
        F.regexp_replace(F.col("text"), r"(\S+)", f"{tag}x$1").alias("text"))


def build_corpus(spark, mult: int) -> str:
    out = f"{WORK}/corpus_x{mult}"
    if os.path.exists(f"{out}/_DONE"):
        return out
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    n = base.agg(F.max("doc_id")).collect()[0][0] + 1
    # crossJoin with a copy-index range instead of a mult-way union
    # chain (the bench_scale lesson, applied here for the third decade):
    # identical rows — shift ids by i*n, prefix every token with c{i}x —
    # but the plan stays O(1) nodes where a 1000-way unionByName makes
    # analysis itself the bottleneck.
    copies = spark.range(mult).select(F.col("id").alias("__copy"))
    repl = F.concat(F.lit("c"), F.col("__copy").cast("string"),
                    F.lit("x$1"))
    df = (base.crossJoin(F.broadcast(copies))
          .select((F.col("doc_id") + F.col("__copy") * F.lit(n))
                  .alias("doc_id"),
                  F.regexp_replace("text", F.lit(r"(\S+)"), repl)
                  .alias("text")))
    df.write.mode("overwrite").parquet(f"{out}/docs")
    open(f"{out}/_DONE", "w").close()
    return out


def build_batch(spark, batch_n: int):
    """Thirds: exact dups of copy-0 docs, NEAR dups (copy-0 text plus a
    two-token tail — a handful of new bigrams, Jaccard stays far above
    the 0.5 gate without md5 equality), and fresh text — all three
    verdict paths fire, identical at every corpus multiplier. The near
    slice is what makes the banded-vs-exact recall row meaningful (r13:
    the earlier exact+fresh batch left near_dup at 0 in every regime)."""
    third = batch_n // 3
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text").limit(third)
    dups = tagged(base, "c0").select(
        (F.col("doc_id") + 50_000_000).alias("doc_id"), "text")
    near = tagged(base, "c0").select(
        (F.col("doc_id") + 55_000_000).alias("doc_id"),
        F.concat("text", F.lit(" zzznear aaa zzznear bbb")).alias("text"))
    fresh = base.select(
        (F.col("doc_id") + 60_000_000).alias("doc_id"),
        F.regexp_replace("text", r"(\S+)", "freshx$1").alias("text"))
    return (dups.unionByName(near).unionByName(fresh)
            .localCheckpoint(eager=True))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", type=int, nargs="+", default=[1, 10, 100])
    ap.add_argument("--batch", type=int, default=2000)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--buckets", type=int, default=64,
                    help="state bucket-partition count (the banded screen's deployment-sizing knob — the sets point-fetch prunes only when buckets >> candidate docs)")
    ap.add_argument("--seed-once", action="store_true",
                    help="seed state once per (mult, regime) and time "
                         "screen-only reps against it — valid for "
                         "non-writeback screens (banded; postings gets "
                         "writeback=False in this mode), where state is "
                         "immutable across screens")
    ap.add_argument("--regimes", nargs="+",
                    default=["rescan", "postings"],
                    choices=["rescan", "postings", "banded"])
    args = ap.parse_args()

    spark = get_spark("admission-scale")
    batch = build_batch(spark, args.batch)
    # report the ACTUAL batch size: thirds truncate (2000 -> 1998)
    batch_n = batch.count()

    for mult in args.mults:
        cdir = build_corpus(spark, mult)
        corpus = spark.read.parquet(f"{cdir}/docs")
        n_corpus = corpus.count()
        verdicts = {}
        for regime in args.regimes:
            walls = []
            shared = None
            for rep in range(args.reps):
                if args.seed_once and shared is not None:
                    rdir, corpus_dir, state_dir, seed_sec = shared
                else:
                    # fresh dirs: an appending screen mutates state
                    rdir = f"{WORK}/run_x{mult}_{regime}_{rep}"
                    shutil.rmtree(rdir, ignore_errors=True)
                    corpus_dir = f"{rdir}/corpus"
                    corpus.write.mode("overwrite").parquet(corpus_dir)
                    state_dir = None
                    seed_sec = None
                    if regime == "postings":
                        state_dir = f"{rdir}/state"
                        t0 = time.perf_counter()
                        D.admission_state_init(corpus, state_dir, n=2,
                                               buckets=args.buckets)
                        seed_sec = round(time.perf_counter() - t0, 2)
                    elif regime == "banded":
                        state_dir = f"{rdir}/state"
                        t0 = time.perf_counter()
                        D.admission_state_init_banded(
                            corpus, state_dir, n=2, buckets=args.buckets)
                        seed_sec = round(time.perf_counter() - t0, 2)
                    if args.seed_once:
                        shared = (rdir, corpus_dir, state_dir, seed_sec)
                t0 = time.perf_counter()
                if regime == "banded":
                    v = D.admission_screen_batch_banded(
                        batch, state_dir, threshold=0.5, n=2,
                        buckets=args.buckets)
                else:
                    v = D.admission_screen_batch(
                        batch, corpus_dir, state_dir=state_dir,
                        threshold=0.5, n=2,
                        buckets=args.buckets,
                        writeback=not args.seed_once)
                counts = {r["verdict"]: r["n"] for r in
                          v.groupBy("verdict")
                          .agg(F.count(F.lit(1)).alias("n")).collect()}
                walls.append(round(time.perf_counter() - t0, 2))
                if not args.seed_once:
                    shutil.rmtree(rdir, ignore_errors=True)
            if args.seed_once and shared is not None:
                shutil.rmtree(shared[0], ignore_errors=True)
            verdicts[regime] = counts
            print(json.dumps({
                "mult": mult, "regime": regime, "n_corpus": n_corpus,
                "buckets": args.buckets,
                "batch": batch_n, "screen_sec_best": min(walls),
                "screen_sec_reps": walls, "seed_sec": seed_sec,
                "verdicts": counts}), flush=True)
        if "rescan" in verdicts and "postings" in verdicts:
            assert verdicts["rescan"] == verdicts["postings"], verdicts
            print(json.dumps({"mult": mult, "regimes_identical": True}),
                  flush=True)
        if "banded" in verdicts and "rescan" in verdicts:
            # banding misses pairs, never invents them: exact gate count
            # identical; banded near_dup <= exact; admit >= exact
            b, e = verdicts["banded"], verdicts["rescan"]
            assert b.get("exact_dup", 0) == e.get("exact_dup", 0), (b, e)
            assert b.get("near_dup", 0) <= e.get("near_dup", 0), (b, e)
            print(json.dumps({
                "mult": mult,
                "banded_recall": (b.get("near_dup", 0)
                                  / max(e.get("near_dup", 1), 1))}),
                flush=True)


if __name__ == "__main__":
    main()
