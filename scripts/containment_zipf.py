#!/usr/bin/env python
"""The OTHER side of the containment regime crossover (SCALE.md r10).

The synthetic documents fixture has a flat vocabulary, where the naive
count-aggregate wins and the prefix filter loses 33x. This probe builds
the opposite — a Zipf-shaped corpus (20 boilerplate templates shared by
N/20 docs each + a unique 30-token tail per doc, 1% planted
contained-in-container twins) — and measures both exact plans of
`containment_pairs`, each called directly, and the operator itself:

- naive (`exact_containment`): join volume Sigma df^2 ~ 11 * 20 *
  (N/20)^2 — quadratic in N (boilerplate df grows with the corpus),
  measurable only at small N.
- prefix (`containment_candidates` verified by
  `verify_pairs_containment`): the contained side's ~9 rarest shingles
  are its UNIQUE tail bigrams (df 1-2), so the candidate join touches
  ~9N rows and candidates ~ the planted pairs — linear in N.
- auto (`containment_pairs`): must pick prefix here (and naive on the
  flat fixture — the pytest pins both directions); correctness = the
  planted pairs are found by every run.

Usage: SPARK_GRAFT_DRIVER_MEM=48g python scripts/containment_zipf.py
           [--small 30000] [--large 100000] [--reps 2]
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

from canary_weather_etl_spark.operators.dedup import (  # noqa: E402
    containment_candidates,
    containment_pairs,
    exact_containment,
    shingle_sets,
    verify_pairs_containment,
)
from canary_weather_etl_spark.session import get_spark  # noqa: E402

BOILER_TOKENS = 12
TAIL_TOKENS = 30
PLANT_EVERY = 100


def zipf_docs(spark, n: int):
    """(doc_id, text): template boilerplate + unique tail; every 100th doc
    gets a twin (id + 10n) holding ONLY its tail — contained in it."""
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            # boilerplate: 12 tokens shared by the doc's template class
            F.concat_ws(" ", *[
                F.concat(F.lit(f"boil{j}t"), (F.col("id") % 20))
                for j in range(BOILER_TOKENS)]),
            # unique tail: 30 tokens no other doc shares
            F.concat_ws(" ", *[
                F.concat(F.lit("u"), F.col("id"), F.lit(f"w{j}"))
                for j in range(TAIL_TOKENS)]),
        ).alias("text"))
    twins = (spark.range(0, n, PLANT_EVERY).select(
        (F.col("id") + 10 * n).alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit("u"), F.col("id"), F.lit(f"w{j}"))
            for j in range(TAIL_TOKENS)]).alias("text")))
    return base.unionByName(twins)


PLANS = {
    "naive": lambda sets: exact_containment(sets, 900_000),
    "prefix": lambda sets: verify_pairs_containment(
        sets, containment_candidates(sets, 900_000), 900_000),
    "auto": lambda sets: containment_pairs(sets, 900_000),
}


def run(spark, docs, regime: str, reps: int, n: int) -> dict:
    sets = shingle_sets(docs, "doc_id", "text", n=2) \
        .localCheckpoint(eager=True)
    walls, found = [], None
    for _ in range(reps):
        t0 = time.time()
        out = PLANS[regime](sets).collect()
        walls.append(time.time() - t0)
        planted = {(r["contained"], r["container"]) for r in out}
        found = sum(1 for i in range(0, n, PLANT_EVERY)
                    if (i + 10 * n, i) in planted)
    return {"regime": regime, "n_docs": n, "secs": round(min(walls), 2),
            "all_secs": [round(w, 2) for w in walls],
            "pairs": len(out), "planted_found": found,
            "planted_expected": len(range(0, n, PLANT_EVERY))}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", type=int, default=30_000)
    ap.add_argument("--large", type=int, default=100_000)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark("containment-zipf",
                      extra_conf={"spark.driver.memory": mem})

    small = zipf_docs(spark, args.small).localCheckpoint(eager=True)
    large = zipf_docs(spark, args.large).localCheckpoint(eager=True)

    # small corpus: all three regimes (naive is quadratic but feasible)
    for regime in ("prefix", "auto", "naive"):
        print(json.dumps(run(spark, small, regime, args.reps, args.small)),
              flush=True)
    # large corpus: naive would be ~11x the small-naive volume — skip it,
    # measure the linear regimes
    for regime in ("prefix", "auto"):
        print(json.dumps(run(spark, large, regime, args.reps, args.large)),
              flush=True)


if __name__ == "__main__":
    main()
