"""Executor loss after an eager materialization, on a two-executor
``local-cluster``.

With ``spark.checkpoint.dir`` set, ``session.materialize`` writes a
reliable checkpoint, so killing the executor that computed an
intermediate must not fail the query or change its result. Each case runs
in a child process (this file run as a script): the rest of the suite
shares one ``local[*]`` SparkContext, and a process holds one context.

The child wraps ``DataFrame.checkpoint`` and ``DataFrame.localCheckpoint``
so that the first eager materialization of the query kills the executor
holding the most cached blocks (or the first one) before the next action
runs, then compares the query with its DuckDB oracle at sf0.01.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from conftest import REPO
from conftest import SF_DIR as SF


@pytest.mark.parametrize("qname", ["q_kcore_peel", "q_dedup_minhash_lsh"])
def test_materialize_survives_executor_loss(qname, tmp_path):
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp_path / "local"))
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__), qname, str(tmp_path)],
        capture_output=True, text=True, timeout=900, env=env, cwd=REPO)
    out = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    assert r.returncode == 0 and out, (
        f"child exit {r.returncode}\n{r.stdout[-2000:]}\n{r.stderr[-4000:]}")
    res = json.loads(out[-1])
    assert res["killed"], res  # the hook fired: an executor was lost
    assert res["spark_rows"] == res["oracle_rows"] > 0, res
    assert res["match"], res


def _executors(sc) -> list[str]:
    ids = sc._jsc.sc().getExecutorIds()
    return [ids.apply(i) for i in range(ids.size())]


def _busiest(sc) -> str:
    """The live executor holding the most RDD blocks."""
    store = sc._jsc.sc().statusStore()
    best, best_n = None, -1
    summaries = store.executorList(True)
    for i in range(summaries.size()):
        s = summaries.apply(i)
        if s.id() != "driver" and s.rddBlocks() > best_n:
            best, best_n = s.id(), s.rddBlocks()
    return best


def _child(qname: str, tmp: str) -> int:
    import duckdb

    from canary_weather_etl_spark.plans import REGISTRY
    from canary_weather_etl_spark.plans.registry import TABLES
    from canary_weather_etl_spark.session import get_spark
    from test_queries_oracle import _canon

    spark = get_spark("executor-loss", master="local-cluster[2,1,1024]",
                      extra_conf={
                          "spark.checkpoint.dir": os.path.join(tmp, "ckpt"),
                          "spark.driver.memory": "1g"})
    sc = spark.sparkContext
    deadline = time.time() + 120
    while len(_executors(sc)) < 2:
        assert time.time() < deadline, "executors did not register"
        time.sleep(0.2)

    killed: list[str] = []

    def kill_after(orig):
        def wrapper(self, *args, **kwargs):
            out = orig(self, *args, **kwargs)
            if not killed:
                time.sleep(1)  # let the status store see the new blocks
                victim = _busiest(sc)
                sc._jsc.sc().killExecutor(victim)
                killed.append(victim)
                end = time.time() + 60
                while victim in _executors(sc) and time.time() < end:
                    time.sleep(0.2)
            return out
        return wrapper

    frame_cls = type(spark.range(1))  # the classic DataFrame subclass
    frame_cls.checkpoint = kill_after(frame_cls.checkpoint)
    frame_cls.localCheckpoint = kill_after(frame_cls.localCheckpoint)

    spec = REGISTRY[qname]
    sdf = spec.fn(spark, SF)
    s_rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF}/{t}.parquet')")
    cur = con.execute(spec.oracle)
    d_cols = [c[0] for c in cur.description]
    d_rows = [tuple(r) for r in cur.fetchall()]
    match = _canon(s_rows, list(sdf.columns)) == _canon(d_rows, d_cols)
    print(json.dumps({"killed": killed, "spark_rows": len(s_rows),
                      "oracle_rows": len(d_rows), "match": match}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(_child(sys.argv[1], sys.argv[2]))
