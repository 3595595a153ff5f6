#!/usr/bin/env python
"""Measured-scaling probe for the dedup family (SCALE.md evidence).

Amplifies the sf0.1 documents table by union of shifted copies, prefixing
EVERY token with a per-copy tag so copies share no shingles at all —
cross-copy similarity is exactly zero under Jaccard, MinHash, and (near-)
zero under SimHash (otherwise each doc becomes an N-clone cluster and the
measurement conflates corpus growth with quadratic in-cluster pair growth —
the 10x row of SCALE.md documents that effect; this probe isolates the
corpus-size axis). In-copy near-dup structure is preserved (both members of
a planted pair get the same rewrite), so true pair count grows ~linearly
with the multiplier.

SimHash and the substring spans run the operators' md5 hash family:
60-bit signatures in 15-bit pigeonhole bands, and md5 shingle keys.

Usage: python scripts/scale_probe.py [mult ...]   (default: 1 10 100)
Prints one JSON line per multiplier.
"""

from __future__ import annotations

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


def amplified_docs_path(spark, mult: int) -> str:
    out = f"/tmp/scale_probe_docs_x{mult}.parquet"
    if os.path.exists(out):
        return out
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = base.agg(F.max("doc_id")).collect()[0][0] + 1
    copies = [
        base.select(
            (F.col("doc_id") + F.lit(i * n)).alias("doc_id"),
            # prefix every token: copy i shares zero shingles with copy j
            F.regexp_replace(F.col("text"), r"(\S+)", f"c{i}x$1")
             .alias("text"),
            *[c for c in base.columns if c not in ("doc_id", "text")],
        )
        for i in range(mult)
    ]
    df = copies[0]
    for c in copies[1:]:
        df = df.unionByName(c)
    df.write.mode("overwrite").parquet(out)
    return out


def timed(fn, reps: int = 2) -> tuple[float, int]:
    best, rows = float("inf"), -1
    for _ in range(reps):
        t0 = time.perf_counter()
        rows = fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 2), rows


def main() -> None:
    mults = [int(a) for a in sys.argv[1:]] or [1, 10, 100]
    spark = get_spark("canary-scale-probe")
    for mult in mults:
        path = amplified_docs_path(spark, mult)
        docs = spark.read.parquet(path).repartition(
            spark.sparkContext.defaultParallelism)
        n_docs = docs.count()

        t_exact, n_groups = timed(
            lambda: D.dup_groups(docs, "doc_id",
                                 F.xxhash64(F.col("text"))).count())
        t_minhash, n_pairs = timed(
            lambda: D.near_dup_pairs_minhash(
                docs, "doc_id", "text", n=2, num_hashes=32, bands=8,
                threshold=0.5).count())
        # 60-bit md5 signatures: 15-bit pigeonhole bands keep bucket
        # sizes sub-linear at amplified corpus sizes (8-bit bands saturate
        # at ~10^4 docs — the band-width sizing rule in SCALE.md)
        t_simhash, n_sim = timed(
            lambda: D.near_dup_pairs_simhash(
                docs, "doc_id", "text", bits=60, max_hamming=3).count())

        # hash-sink (bench_scale discipline): a bare count could prune the
        # span-bound aggregates; xoring every output column forces them
        def _spans():
            out = D.duplicated_span_table(docs, "doc_id", "text", k=8)
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("doc", "span_start", "span_end",
                                     "n_tokens", "n_shingles")).alias("sink")
            ).collect()[0]
            return row["n"]
        t_spans, n_spans = timed(_spans)
        print(json.dumps({
            "mult": mult, "n_docs": n_docs,
            "exact_dedup_sec": t_exact, "exact_groups": n_groups,
            "minhash_lsh_sec": t_minhash, "minhash_pairs": n_pairs,
            "simhash_md5_60bit_sec": t_simhash,
            "simhash_md5_60bit_pairs": n_sim,
            "substring_spans_md5_sec": t_spans,
            "substring_spans_md5": n_spans,
        }), flush=True)
    for mult in mults:
        shutil.rmtree(f"/tmp/scale_probe_docs_x{mult}.parquet",
                      ignore_errors=True)


if __name__ == "__main__":
    main()
