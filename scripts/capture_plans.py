#!/usr/bin/env python
"""Capture .explain('formatted') for every headline (bench=True) query into
plans/<round>/<name>_{before,after}.txt — an optimization round's plan
evidence, checked against the plan claims the round makes.

Usage:
    python scripts/capture_plans.py <round> before [names...]
    python scripts/capture_plans.py <round> after  [names...]

``<round>`` names the output directory under plans/ (e.g. r15).

Plan-only: builds each DataFrame and formats its physical plan without
executing it (queries whose *construction* runs bounded driver jobs —
iterative centroid collects, regime probes — do execute those, same as any
explain() would).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from canary_weather_etl_spark.plans import REGISTRY  # noqa: E402
from canary_weather_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    usage = "usage: capture_plans.py <round> before|after [names...]"
    assert len(sys.argv) >= 3, usage
    rnd, tag, only = sys.argv[1], sys.argv[2], sys.argv[3:]
    assert tag in ("before", "after"), usage
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(f"canary-weather-etl-spark-plans-{rnd}")
    names = only or sorted(n for n, s in REGISTRY.items() if s.bench)
    for name in names:
        spec = REGISTRY[name]
        df = spec.fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)",
              file=sys.stderr)


if __name__ == "__main__":
    main()
