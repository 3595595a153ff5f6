"""Round-6 operator tests: pagerank materialization-cadence bit-identity,
degree-ordered triangle orientation, chunked BPE encode folds, and
vacuum-under-lock."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from canary_weather_etl_spark.operators import bpe, graph
from canary_weather_etl_spark.operators.bpe import bpe_encode_len
from canary_weather_etl_spark.operators.graph import (
    enumerate_triangles,
    orient_by_degree,
    pagerank_fixed,
)


def _graph(spark):
    """Small deterministic digraph: edges i -> (i*i+1) mod 97 plus a ring,
    every node present."""
    nodes = spark.range(97).select(F.col("id"))
    e1 = nodes.select(F.col("id").alias("src"),
                      ((F.col("id") * F.col("id") + 1) % 97).alias("dst"))
    e2 = nodes.select(F.col("id").alias("src"),
                      ((F.col("id") + 1) % 97).alias("dst"))
    return e1.unionAll(e2).distinct(), nodes


def test_pagerank_cadence_bit_identical(spark, monkeypatch):
    """materialize is a pure lineage boundary: ANY cadence must produce
    bit-identical integer ranks (PAGERANK_CADENCE is a measured
    scheduling-floor constant, never a semantics knob — BENCHNOTES.md
    holds the knee)."""
    edges, nodes = _graph(spark)
    results = []
    for k in (1, 2, 3, 5):
        monkeypatch.setattr(graph, "PAGERANK_CADENCE", k)
        rows = (pagerank_fixed(edges, nodes, iterations=5)
                .orderBy("node").collect())
        results.append([(r["node"], r["units"]) for r in rows])
    assert results[0] == results[1] == results[2] == results[3]
    assert len(results[0]) == 97
    # ranks are actual fixed-point values, not all the base floor
    assert len({u for _, u in results[0]}) > 1


def _undirected_fixture(spark):
    """Skewed undirected graph with a known triangle inventory: hub 50
    adjacent to all of 0..20, plus ring edges i—(i+1) for i in 0..19.
    Triangles: (i, i+1, 50) for i in 0..19 → exactly 20, every one
    containing the hub."""
    hub = spark.range(21).select(
        F.least(F.col("id"), F.lit(50)).alias("u1"),
        F.greatest(F.col("id"), F.lit(50)).alias("u2"))
    ring = spark.range(20).select(
        F.col("id").alias("u1"), (F.col("id") + 1).alias("u2"))
    return hub.unionAll(ring)


def test_orient_by_degree_counts_each_triangle_once(spark):
    edges = _undirected_fixture(spark)
    plain = enumerate_triangles(edges).collect()
    oriented = enumerate_triangles(orient_by_degree(edges)).collect()
    assert len(plain) == 20 and len(oriented) == 20
    # same triangle SET regardless of orientation (members, order-free)
    as_sets = lambda rows: {frozenset((r[0], r[1], r[2])) for r in rows}  # noqa: E731
    assert as_sets(plain) == as_sets(oriented)


def test_orient_by_degree_bounds_hub_out_degree(spark):
    """The point of the re-orientation: the hub's out-degree collapses
    from its full degree to ~0, because every spoke points OUT of its
    low-degree endpoint."""
    edges = _undirected_fixture(spark)
    out_deg = {r["u1"]: r["d"] for r in
               orient_by_degree(edges).groupBy("u1")
               .agg(F.count(F.lit(1)).alias("d")).collect()}
    assert out_deg.get(50, 0) == 0  # hub has max degree -> no out-edges
    assert max(out_deg.values()) <= 3


def test_bpe_encode_len_chunked_fold_parity(spark, monkeypatch):
    """Chunking the per-merge folds with materialize (plan-size cap)
    must not change a single count — compare FOLD_CADENCE=2 against
    the single-expression fold on the same merges."""
    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "new newer newest newest"),
         (3, ""), (4, "low new low")],
        "doc_id int, text string")
    merges = [("l", "o"), ("lo", "w"), ("e", "s"), ("es", "t"),
              ("n", "e"), ("ne", "w")]
    monkeypatch.setattr(bpe, "FOLD_CADENCE", 10_000)
    big = {r["doc_id"]: r["n_bpe"] for r in
           bpe_encode_len(docs, merges).collect()}
    monkeypatch.setattr(bpe, "FOLD_CADENCE", 2)
    chunked = {r["doc_id"]: r["n_bpe"] for r in
               bpe_encode_len(docs, merges).collect()}
    assert big == chunked
    assert big[3] == 0  # empty doc still reported
    assert set(big) == {1, 2, 3, 4}


def test_vacuum_requires_lock_free_dir(spark, tmp_path):
    """vacuum_manifest_dir now scans+deletes under the commit lock: a
    held lock must make vacuum fail loudly instead of racing the
    committer; force_unlock clears a stale lock first."""
    from canary_weather_etl_spark.sources.manifest_sink import (
        ConcurrentWriteError,
        ManifestJsonlSink,
        vacuum_manifest_dir,
    )
    spark.dataSource.register(ManifestJsonlSink)
    path = str(tmp_path / "sink")
    df = spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("v"))
    df.write.format("manifest_jsonl").mode("overwrite").save(path)
    # orphan: a part file no manifest references
    orphan = os.path.join(path, "part-orphan-000.jsonl")
    with open(orphan, "w", encoding="utf-8") as f:
        f.write('{"id": 99}\n')
    # simulate an in-flight committer holding the lock
    lock = os.path.join(path, "_MANIFEST.lock")
    with open(lock, "x", encoding="utf-8") as f:
        f.write("pid 0")
    with pytest.raises(ConcurrentWriteError):
        vacuum_manifest_dir(path)
    assert os.path.exists(orphan)  # nothing was deleted under contention
    deleted = vacuum_manifest_dir(path, force_unlock=True)
    assert deleted == ["part-orphan-000.jsonl"]
    assert not os.path.exists(orphan)
    assert not os.path.exists(lock)  # lock released after vacuum


def test_jsonl_quarantine_split_and_failfast(spark, tmp_path):
    """read_jsonl_quarantine: clean rows parse, each poison class lands in
    quarantine with raw text intact; a schema already carrying the
    corrupt column is rejected loudly."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from canary_weather_etl_spark.sources.schema_guard import (
        read_jsonl_quarantine,
    )

    d = str(tmp_path / "jsonl")
    os.makedirs(d)
    with open(os.path.join(d, "part-0.json"), "w", encoding="utf-8") as f:
        f.write('{"k": 1, "s": "a"}\n')
        f.write("garbage\n")
        f.write('{"k": "not-a-long", "s": "b"}\n')
        f.write('{"k": 2, "s": "c"}\n')
    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("s", T.StringType())])
    good, bad = read_jsonl_quarantine(spark, d, schema)
    assert sorted(tuple(r) for r in good.collect()) == [(1, "a"), (2, "c")]
    raws = sorted(r["raw"] for r in bad.collect())
    assert raws == sorted(["garbage",
                           '{"k": "not-a-long", "s": "b"}'])
    with _pytest.raises(ValueError):
        read_jsonl_quarantine(
            spark, d, T.StructType(
                [T.StructField("_corrupt_record", T.StringType())]))


def test_shuffle_hash_join_hint_parity(spark, sf_dir):
    """The three shuffle join strategies must agree on results; hints
    select them (SHUFFLE_HASH skips both sort phases — the right pick
    when one side is much smaller but too big to broadcast; MERGE is the
    skew-robust default; broadcast covered elsewhere)."""
    from canary_weather_etl_spark.plans.registry import load

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")

    def run(hint):
        side = o.hint(hint) if hint else o
        df = (li.join(side, li["l_orderkey"] == side["o_orderkey"])
              .groupBy("o_custkey")
              .agg(F.sum(F.col("l_quantity").cast("decimal(28,2)"))
                   .cast("double").alias("qty")))
        plan = df._jdf.queryExecution().executedPlan().toString()
        return {tuple(r) for r in df.collect()}, plan

    r_smj, p_smj = run("MERGE")
    r_shj, p_shj = run("SHUFFLE_HASH")
    assert "SortMergeJoin" in p_smj
    assert "ShuffledHashJoin" in p_shj
    # no sort operators feed the hash join (that's the point of the hint)
    assert r_smj == r_shj and r_smj


def test_anomaly_mad_approx_agrees_with_exact(spark, sf_dir):
    """The sketch path must reach the same anomaly VERDICTS as the exact
    path on the fixture: same row counts per type, anomaly counts within
    the sketch's rank-error envelope (here: exactly equal — 0.01% rank
    error cannot move the 3-MAD boundary on these distributions)."""
    from canary_weather_etl_spark.plans.registry import REGISTRY

    exact = {r["event_type"]: r for r in
             REGISTRY["q_anomaly_mad"].fn(spark, sf_dir).collect()}
    approx = {r["event_type"]: r for r in
              REGISTRY["q_anomaly_mad_approx"].fn(spark, sf_dir).collect()}
    assert set(exact) == set(approx)
    for et in exact:
        assert exact[et]["n_rows"] == approx[et]["n_rows"]
        assert abs(exact[et]["n_anomalies"]
                   - approx[et]["n_anomalies"]) <= max(
            1, exact[et]["n_rows"] // 500), et
