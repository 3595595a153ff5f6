"""Round-9 operator tests: semantic dedup (k-means medoid survivors)."""

from __future__ import annotations

from pyspark.sql import functions as F

from canary_weather_etl_spark.operators import clustering as C
from canary_weather_etl_spark.plans.registry import load_par


def test_semantic_dedup_survivor_invariants(spark):
    """The survivor set is exactly one medoid per non-empty cluster:
    each survivor belongs to its cluster, holds the cluster's minimal
    distance (ties to the smaller vec_id), and the collapse counts
    partition the corpus."""
    sf = "/root/testdata/sf0.001"
    qdf = C.quantize_vectors(load_par(spark, sf, "embeddings")) \
        .localCheckpoint(eager=True)
    k, iters = 8, 2
    asg, _ = C.kmeans_fixed(qdf, k=k, iterations=iters)
    members = {}
    for r in asg.select("cluster_id", "vec_id", "dist_units").collect():
        members.setdefault(r["cluster_id"], []).append(
            (r["dist_units"], r["vec_id"]))

    surv = {r["cluster_id"]: r for r in
            C.semantic_dedup(qdf, k=k, iterations=iters).collect()}

    assert set(surv) == set(members)  # one survivor per non-empty cluster
    n_total = 0
    for cid, r in surv.items():
        dist, vid = min(members[cid])  # (dist, vec_id) lexicographic
        assert r["vec_id"] == vid      # the medoid, ties to smaller id
        assert r["n_collapsed"] == len(members[cid])
        assert r["inertia_units"] == sum(d for d, _ in members[cid])
        n_total += r["n_collapsed"]
    assert n_total == qdf.count()      # collapse counts partition corpus


def test_semantic_dedup_idempotent_on_survivors(spark):
    """Dedup of the survivor set keeps every survivor (k survivors,
    k clusters seeded from the k smallest ids present — each point is
    its own medoid when k == N)."""
    sf = "/root/testdata/sf0.001"
    qdf = C.quantize_vectors(load_par(spark, sf, "embeddings")) \
        .localCheckpoint(eager=True)
    surv = C.semantic_dedup(qdf, k=4, iterations=2)
    ids = sorted(r["vec_id"] for r in surv.collect())
    kept = (qdf.join(F.broadcast(surv.select("vec_id")), "vec_id")
            .select("vec_id", "qvec"))
    # re-id survivors 0..k-1 so kmeans_fixed's vec_id<k init applies
    remap = {v: i for i, v in enumerate(ids)}
    mapping = F.create_map(*[F.lit(x) for v, i in remap.items()
                             for x in (v, i)])
    kept = kept.select(mapping[F.col("vec_id")].alias("vec_id"), "qvec") \
        .localCheckpoint(eager=True)
    again = C.semantic_dedup(kept, k=4, iterations=2)
    assert again.count() == 4
    assert sorted(r["n_collapsed"] for r in again.collect()) == [1, 1, 1, 1]


def test_observe_quality_gate_funnel_identity(spark):
    """The observed funnel partitions rows-in exactly, and rows_out
    equals the gated frame's own count — the metrics describe the very
    pass that produced the output, not a second scan's view."""
    from canary_weather_etl_spark.operators.pipeline import (
        observed_quality_gate)
    sf = "/root/testdata/sf0.001"
    docs = load_par(spark, sf, "documents")
    gated, obs = observed_quality_gate(docs)
    n_out = gated.count()
    m = obs.get
    assert m["rows_in"] == docs.count()
    assert m["rows_out"] == n_out
    assert m["rows_in"] == m["quality_fail"] + m["lang_fail"] + m["rows_out"]


def test_eval_decontamination_matches_numpy(spark):
    """Flagged set == numpy brute-force: exactly the candidates whose max
    cosine vs the 5 eval vectors clears 0.30, each with the argmax eval id
    (ties to the smaller id)."""
    import numpy as np

    from canary_weather_etl_spark.plans.registry import REGISTRY
    sf = "/root/testdata/sf0.001"
    emb = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in load_par(spark, sf, "embeddings").collect()}
    ev = {i: v for i, v in emb.items() if i < 5}
    expected = {}
    for vid, v in emb.items():
        if vid < 5:
            continue
        best = max((float(np.dot(q, v)
                          / (np.linalg.norm(q) * np.linalg.norm(v))), -qid)
                   for qid, q in ev.items())
        if best[0] >= 0.30:
            expected[vid] = -best[1]

    got = {r["doc_id"]: r["eval_id"] for r in
           REGISTRY["q_eval_decontamination"].fn(spark, sf).collect()}
    assert got == expected
    assert expected  # fixture actually exercises the flagged path


def test_semdedup_threshold_matches_numpy(spark):
    """Survivor set == numpy brute-force replay of the drop-b-side rule:
    a doc is dropped iff SOME smaller-id doc in its k-means cluster has
    cosine >= tau with it; consequently survivors are pairwise < tau
    within every cluster."""
    import numpy as np

    sf = "/root/testdata/sf0.001"
    emb_df = load_par(spark, sf, "embeddings")
    qdf = C.quantize_vectors(emb_df).localCheckpoint(eager=True)
    k, iters, tau = 8, 2, 0.40
    asg, _ = C.kmeans_fixed(qdf, k=k, iterations=iters)
    cluster = {r["vec_id"]: r["cluster_id"] for r in
               asg.select("vec_id", "cluster_id").collect()}
    vec = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in emb_df.collect()}

    def cos(a, b):
        return float(np.dot(vec[a], vec[b])
                     / (np.linalg.norm(vec[a]) * np.linalg.norm(vec[b])))

    expected = set()
    for v in sorted(vec):
        dropped = any(cos(a, v) >= tau for a in sorted(vec)
                      if a < v and cluster[a] == cluster[v])
        if not dropped:
            expected.add(v)

    # n=200 at sf0.001: the engine picks k = max(8, 200 // 64) = 8
    surv = C.semantic_dedup_threshold(qdf, emb_df, iterations=iters,
                                      threshold=tau)
    got = {r["vec_id"] for r in surv.collect()}
    assert got == expected
    assert len(got) < len(vec)  # fixture actually drops something
    # survivors pairwise below tau within each cluster
    by_c = {}
    for v in got:
        by_c.setdefault(cluster[v], []).append(v)
    for vs in by_c.values():
        for i, a in enumerate(sorted(vs)):
            for b in sorted(vs)[i + 1:]:
                assert cos(a, b) < tau


def test_kmeans_joined_assignment_bit_equal(spark):
    """The broadcast-join assignment (k > LITERAL_K_MAX) is bit-equal to
    the literal-centroid codegen assignment on the same centroids: same
    clusters, same distances."""
    sf = "/root/testdata/sf0.001"
    qdf = C.quantize_vectors(load_par(spark, sf, "embeddings")) \
        .localCheckpoint(eager=True)
    _, cent = C.kmeans_fixed(qdf, k=20, iterations=2)
    r1 = {(r["vec_id"], r["cluster_id"], r["dist_units"])
          for r in C.assign_clusters(qdf, cent).collect()}
    r2 = {(r["vec_id"], r["cluster_id"], r["dist_units"])
          for r in C.assign_clusters_join(qdf, cent).collect()}
    assert r1 == r2


def test_semdedup_auto_k_regimes(spark, monkeypatch):
    """The engine-chosen k: on the 200-vector fixture k resolves to 8
    and the operator equals k-means at k=8 + the survivor tail. With
    TARGET_CLUSTER=2 it picks k = n//2 = 100 > LITERAL_K_MAX (join
    assignment), and the survivors equal a numpy replay of the drop
    rule over kmeans_fixed(k=n//2)'s clustering."""
    import numpy as np

    sf = "/root/testdata/sf0.001"
    emb = load_par(spark, sf, "embeddings")
    qdf = C.quantize_vectors(emb).localCheckpoint(eager=True)
    n = qdf.count()

    default = {r["vec_id"] for r in
               C.semantic_dedup_threshold(qdf, emb, iterations=2).collect()}
    asg8, _ = C.kmeans_fixed(qdf, k=max(8, n // 64), iterations=2)
    tail8 = {r["vec_id"] for r in C._within_cluster_drop_survivors(
        asg8, emb, 0.40, "vec_id", "embedding").collect()}
    assert default == tail8

    # the JOIN-assignment regime, replayed in numpy — exact, end-to-end
    asg, _ = C.kmeans_fixed(qdf, k=n // 2, iterations=2)
    tail = C._within_cluster_drop_survivors(asg, emb, 0.40,
                                            "vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in tail]
    assert len(ids) == len(set(ids))  # one row per survivor
    monkeypatch.setattr(C, "TARGET_CLUSTER", 2)
    chosen = {r["vec_id"] for r in
              C.semantic_dedup_threshold(qdf, emb, iterations=2).collect()}
    assert chosen == set(ids)
    cluster = {r["vec_id"]: r["cluster_id"] for r in asg.collect()}
    vec = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in emb.collect()}

    def cos(a, b):
        return float(np.dot(vec[a], vec[b])
                     / (np.linalg.norm(vec[a]) * np.linalg.norm(vec[b])))

    expected = {v for v in vec
                if not any(cluster[a] == cluster[v] and cos(a, v) >= 0.40
                           for a in vec if a < v)}
    assert set(ids) == expected
