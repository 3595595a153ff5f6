#!/usr/bin/env python
"""Once-per-round SECOND-DECADE bench capture (VERDICT r14 #2): the
most expensive headline queries at 10x sf0.1, under a FIXED protocol,
committed as BENCH_DECADE_r{N}.json so real wins outrun this host's
wave-shaped steal noise (at sf0.1 every headline query sits at the
job-scheduling floor and a 1.1x code win is inside the 0.8-1.2x
contention band; at 10x the same win is >2x the run-to-run spread).

Protocol (fixed — change it and the artifact is no longer comparable):
  - fixture: scripts/bench_scale.amplify(mult=10) — PK/FK-preserving
    10x amplification of every table under /tmp/bench_10x;
  - query set: DECADE_SET below (the 10 most expensive headline
    queries of the r15 baseline, alphabetical execution order);
  - one warm session (same warm-up as bench.py), reps=3 per query,
    ALL rep times recorded (spread is part of the artifact), min is
    the headline number;
  - hash sink (sum of xxhash64 over every output column -> 1 row):
    full computation, no driver result serialization — the guide §1.4
    noop-sink discipline adapted to keep an output-equality fingerprint
    (the hash doubles as a cheap cross-run result check;
    BENCH_DECADE_r15.json's result_hash values are bit_xor fingerprints
    from before the sum and do not compare with later captures).

Usage: python scripts/bench_decade.py [--reps N] [names...]
Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

from pyspark.sql import functions as F  # noqa: E402

from bench_scale import amplify  # noqa: E402
from canary_weather_etl_spark.plans import REGISTRY  # noqa: E402
from canary_weather_etl_spark.session import get_spark  # noqa: E402

DECADE_SET = (
    "q_bpe_encode_ids",
    "q_corpus_curation",
    "q_dedup_minhash_lsh",
    "q_kcore_peel",
    "q_kmeans_lloyd",
    "q_pagerank_purchases",
    "q_pq_adc_topk",
    "q_semantic_dedup",
    "q_tfidf_top_terms",
    "q_triangle_count",
)


def main() -> None:
    args = sys.argv[1:]
    reps = int(args[args.index("--reps") + 1]) if "--reps" in args else 3
    names = [a for a in args if a.startswith("q_")] or list(DECADE_SET)

    spark = get_spark("canary-bench-decade")
    big = amplify(spark, 10)
    from bench import warm_up
    warm_up(spark)

    out: dict[str, list[float]] = {}
    hashes: dict[str, int | None] = {}
    for name in names:
        spec = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"decade {name}")
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = spec.fn(spark, big)
            # order-free SUM, not bit_xor: XOR cancels rows that appear
            # an even number of times, so paired duplicates would hide
            h = df.select(
                F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
                .alias("h")).collect()
            runs.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = runs
        # Decimal is not JSON-serializable; NULL is an empty result
        hashes[name] = None if h[0]["h"] is None else int(h[0]["h"])
        print(f"  {name}: {runs} (min {min(runs)})", file=sys.stderr)
    mins = {n: min(r) for n, r in out.items()}
    print(json.dumps({
        "metric": "decade_queries_wall_clock",
        "mult": 10, "sink": "hash", "reps": reps,
        "value": round(sum(mins.values()), 3), "unit": "sec",
        "queries": out, "mins": mins, "result_hash": hashes,
    }))


if __name__ == "__main__":
    main()
