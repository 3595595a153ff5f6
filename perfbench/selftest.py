"""Self-test of the benchmark at the smallest input sizes.

    python3 perfbench/selftest.py            # from the repository root

For every workload it runs ``run.py --tiny`` untraced and traced, and
asserts that the result line carries exactly the metrics BENCHMARK.json
declares, with their units, that every output checked out, and that the
detail line names the workload's own figures. Then it asserts that a
deliberately corrupted output is counted as a failed operation, and that
the benchmark fails without a result where the program is missing.
Exits 0 when every assertion holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# figures each workload must print on its detail line, by trace mode
DETAIL = {
    ("weather_etl", 0): (
        "ingest_rows_per_s", "upsert_p50_s", "weather_query_p50_s",
        "stored_bytes_per_row", "sources.files_per_partition",
        "sources.upsert_partitions_rewritten",
        "sources.upsert_bytes_written_per_batch_byte", "failed_ops_frac"),
    ("weather_etl", 1): (
        "sources.read_open_meteo_s", "sources.read_visual_crossing_s",
        "sources.build_clean_s", "sources.write_clean_s",
        "sources.upsert_clean_s", "sources.jobs", "sources.tasks",
        "sources.failed_tasks", "plans.weather_sql.register_clean_view_s",
        "plans.weather_sql.q1_s", "plans.weather_sql.q2_s",
        "plans.weather_sql.q3_s", "plans.weather_sql.q2_corrected_s",
        "plans.weather_sql.q3_task_ratio"),
    ("llm_curation", 0): ("llm_rows_per_s", "failed_ops_frac"),
    ("llm_curation", 1): (
        "operators.build_s", "operators.exec_s", "operators.jobs_per_op",
        "operators.tasks_per_op", "operators.jobs_in_build",
        "operators.q_dedup_minhash_lsh.build_s",
        "operators.q_dedup_minhash_lsh.exec_s"),
}


def run(args: list[str], cwd: str = REPO) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def parse(lines: list[str]) -> tuple[dict, dict]:
    detail = json.loads(lines[-2].removeprefix("detail: "))
    return detail, json.loads(lines[-1])


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            code, lines = run(["--workload", w, "--seed", "1", "--seconds",
                               "1", "--trace", str(trace), "--tiny"])
            check(code == 0, f"{w} trace={trace} exited {code}")
            detail, res = parse(lines)
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{w}: result keys {sorted(res)}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == declared[trace], f"{w} trace={trace}: metrics {got}")
            check(all(isinstance(v["value"], (int, float))
                      for v in res["metrics"].values()),
                  f"{w}: non-numeric metric")
            check(res["correct"] and res["failed"] == 0
                  and res["attempted"] >= 1, f"{w}: {detail.get('errors')}")
            missing = [k for k in DETAIL[(w, trace)] if k not in detail]
            check(not missing, f"{w} trace={trace}: detail lacks {missing}")
            print(f"ok {w} trace={trace}: {res['attempted']} ops")

    code, lines = run(["--workload", "llm_curation", "--seed", "1",
                       "--seconds", "1", "--trace", "0", "--tiny",
                       "--corrupt"])
    detail, res = parse(lines)
    check(code == 0 and not res["correct"] and res["failed"] == 1
          and detail["failed_ops_frac"]["value"] > 0,
          f"corrupted output not counted: {res}")
    print("ok corrupted output counted as a failed op")

    bare = os.path.join(REPO, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = run(["--workload", "weather_etl", "--seed", "1",
                           "--seconds", "1", "--trace", "0"], cwd=bare)
        check(code != 0 and not any(x.startswith("{") for x in lines),
              f"ran without the program: exit {code}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok fails without the program")
    return 0


if __name__ == "__main__":
    sys.exit(main())
