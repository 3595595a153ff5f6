#!/usr/bin/env python
"""Regime probe for the EXACT set-similarity join strategies
(SCALE.md evidence): count-based all-pairs shared-shingle join
(`exact_jaccard`) vs PPJoin prefix-filtered candidate-verify
(`near_dup_pairs_exact` with a negative all-pairs budget, which forces
the prefix path).

The two are output-identical; their costs diverge on token-frequency
SKEW:

- The count-based join generates one row per shared (shingle, pair) —
  Σ_s df(s)² rows. Hot shingles (boilerplate headers/footers, stopword
  n-grams — universal in web corpora) make this quadratic: one shingle
  shared by all N docs alone contributes N²/2 rows.
- The prefix filter joins only each document's RAREST
  |s|−⌈τ·|s|⌉+1 shingles, so hot shingles never generate candidates at
  all; cost is candidates × per-pair verify.

This probe runs both on (a) the raw sf0.1 documents table — near-UNIFORM
shingle frequencies, PPJoin's worst case: no token is rare, candidates
are dense — and (b) the same table with `--hot N` boilerplate tokens
appended to EVERY document (df = corpus size), the realistic web-corpus
shape. Expected: count-based wins (a), prefix-filter wins (b), and (b)'s
count-based wall grows ~quadratically with --hot while prefix-filter's
stays flat. Results are identical on both paths (asserted).

Usage: python scripts/setjoin_scale.py [--hot 6] [--reps 2]
Prints one JSON line per (variant, strategy).
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
from canary_weather_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def timed(fn, reps: int):
    best, out = float("inf"), None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t0)
    return best, out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--hot", type=int, default=6,
                    help="boilerplate tokens appended to every doc")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark("setjoin-scale")
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(32)
    boiler = " ".join(f"boiler{i}" for i in range(args.hot))
    hot = base.withColumn("text", F.concat_ws(" ", "text", F.lit(boiler)))

    for label, df in (("uniform-df (raw fixture)", base),
                      (f"hot-shingle (+{args.hot} boilerplate tokens "
                       f"on every doc)", hot)):
        sh = D.shingle_table(df, "doc_id", "text", n=2)
        t_all, n_all = timed(
            lambda: frozenset((r["a"], r["b"]) for r in
                              D.exact_jaccard(sh, 0.5).collect()), args.reps)
        t_pf, n_pf = timed(
            lambda: frozenset((r["a"], r["b"]) for r in
                              D.near_dup_pairs_exact(
                                  df, "doc_id", "text", n=2, threshold=0.5,
                                  allpairs_candidate_budget=-1).collect()),
            args.reps)
        assert n_all == n_pf, "strategies disagree!"
        sets = D.shingle_sets(df, "doc_id", "text", n=2)
        n_cand = D.prefix_filter_candidates(sets, 0.5).count()
        print(json.dumps({
            "variant": label, "pairs": len(n_all),
            "prefix_candidates": n_cand,
            "all_pairs_sec": round(t_all, 2),
            "prefix_filter_sec": round(t_pf, 2),
        }), flush=True)


if __name__ == "__main__":
    main()
