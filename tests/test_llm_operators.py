"""Quality checks for the approximate LLM operators: the rows-only queries
(MinHash/LSH, SimHash, ANN) are validated here against exact ground truth,
since the DuckDB oracle can't express engine-specific hashing."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from canary_weather_etl_spark.operators import clustering as C
from canary_weather_etl_spark.operators import dedup as D
from canary_weather_etl_spark.operators import multimodal as M
from canary_weather_etl_spark.operators import similarity as S
from canary_weather_etl_spark.plans.registry import load


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").cache()


@pytest.mark.parametrize("family", ["md5-portable"])
def test_minhash_lsh_recall_vs_exact_jaccard(spark, docs, family):
    """The md5 universal-hash family — the only one, and the SQL-oracle
    basis q_dedup_minhash_lsh runs (r10) — clears the recall floor."""
    sets = D.shingle_sets(docs, "doc_id", "text", n=2)
    exact = {(r["a"], r["b"]) for r in
             D.exact_jaccard(sets, threshold=0.5).collect()}
    assert len(exact) >= 10, "fixture should contain planted near-dups"
    found = {(r["a"], r["b"]) for r in
             D.near_dup_pairs_minhash(docs, "doc_id", "text",
                                      n=2, num_hashes=32, bands=8,
                                      threshold=0.5).collect()}
    # verification step guarantees precision = 1.0 (jaccard recomputed
    # exactly); banding with 8 bands x 4 rows has >99% recall at j>=0.7
    # and good recall at 0.5
    assert found <= exact
    recall = len(found & exact) / len(exact)
    assert recall >= 0.8, f"minhash recall too low: {recall}"


def test_simhash_separates_near_dups(spark, docs):
    """Planted near-dup pairs (jaccard>=0.8) should sit at much smaller
    hamming distance than random pairs."""
    sets = D.shingle_sets(docs, "doc_id", "text", n=2)
    planted = D.exact_jaccard(sets, threshold=0.8).collect()
    assert planted, "expect some high-jaccard planted pairs"
    sim = D.simhash(docs, "doc_id", "text", bits=32)
    sigs = {r["doc"]: r["simhash"] for r in sim.collect()}
    near = [bin(sigs[r["a"]] ^ sigs[r["b"]]).count("1") for r in planted]
    ids = sorted(sigs)
    far = [bin(sigs[ids[i]] ^ sigs[ids[i + 37]]).count("1")
           for i in range(0, 200, 7)]
    assert sum(near) / len(near) < sum(far) / len(far) / 2, (
        f"near-dup mean hamming {sum(near)/len(near)} not clearly below "
        f"random mean {sum(far)/len(far)}")


def test_simhash_banded_pairs_match_bruteforce(spark, docs):
    """Pigeonhole banding is exact (hamming<=3 with 4 bands => >=1 band
    identical): the banded pipeline at the 60-bit DEFAULT width (the
    registered q_dedup_simhash run) must return the SAME pair set as an
    all-pairs scan of the signatures, with no BroadcastNestedLoopJoin."""
    sim = D.simhash(docs, "doc_id", "text")
    sigs = {r["doc"]: r["simhash"] for r in sim.collect()}
    ids = sorted(sigs)
    brute = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
             if bin(sigs[a] ^ sigs[b]).count("1") <= 3}
    banded_df = D.near_dup_pairs_simhash(docs, "doc_id", "text",
                                         max_hamming=3)
    plan = banded_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    banded = {(r["a"], r["b"]) for r in banded_df.collect()}
    assert banded == brute, (
        f"banding lost/added pairs: missing={sorted(brute - banded)[:5]} "
        f"extra={sorted(banded - brute)[:5]}")


def test_simhash_portable_matches_bruteforce_and_validates(spark, docs):
    """The md5 60-bit basis requested explicitly: signatures are
    non-negative and sit in [0, 2^60) (no mask needed), the banded
    pipeline equals the all-pairs scan of its own signatures, and a
    request wider than the 60 bits the md5 token hash carries fails
    loudly at build time."""
    sim = D.simhash(docs, "doc_id", "text", bits=60)
    sigs = {r["doc"]: r["simhash"] for r in sim.collect()}
    assert all(0 <= s < (1 << 60) for s in sigs.values())
    ids = sorted(sigs)
    brute = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
             if bin(sigs[a] ^ sigs[b]).count("1") <= 3}
    banded = {(r["a"], r["b"]) for r in
              D.near_dup_pairs_simhash(docs, "doc_id", "text", bits=60,
                                       max_hamming=3).collect()}
    assert banded == brute
    for bits in (61, 64):
        with pytest.raises(ValueError, match="60"):
            D.simhash(docs, "doc_id", "text", bits=bits)


def test_heavy_hitters_plan_is_distributed_topk(spark, sf_dir):
    from canary_weather_etl_spark.plans.registry import REGISTRY
    df = REGISTRY["q_heavy_hitters"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    rows = df.collect()
    assert len(rows) == 20
    assert [r["rank"] for r in rows] == list(range(1, 21))
    ns = [r["n"] for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_text_repetition_short_docs_no_abort(spark, tmp_path):
    """Docs with <3 tokens must not abort the job with a negative slice
    length (ADVICE r1): they are excluded, matching the oracle's
    n_tri >= 1 filter."""
    from canary_weather_etl_spark.plans.registry import REGISTRY
    small = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "now three tokens"),
         (5, "a a a a a a")],
        "doc_id int, text string")
    small.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in
           REGISTRY["q_text_repetition"].fn(spark, str(tmp_path)).collect()}
    assert set(out) == {4, 5}  # <3-token docs dropped, not crashed
    assert out[4]["n_trigrams"] == 1 and out[4]["rep_ratio"] == 0.0
    assert out[5]["n_trigrams"] == 4 and out[5]["n_distinct"] == 1
    assert out[5]["too_repetitive"]


@pytest.mark.parametrize("basis", ["xxhash64", "planted"])
def test_ann_lsh_recall_vs_brute_force(spark, emb, basis):
    """Both hyperplane families clear the recall floor: xxhash64-derived
    (operator default) and the planted sha256-parity literals the
    registered q_sim_ann_lsh runs for its SQL oracle (r10) — iid random
    signs either way, so recall is the same in distribution."""
    planes = (S.planted_hyperplanes(probes=8, bits=4, dim=64, tag="annlsh")
              if basis == "planted" else None)
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = S.topk_brute_force(emb, q, k=10).collect()
    approx = S.topk_lsh(emb, q, k=10, dim=64, bits=4, probes=8,
                        planes=planes).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(exact_sets[qid] & approx_sets.get(qid, set())) / 10
               for qid in exact_sets]
    mean_recall = sum(recalls) / len(recalls)
    # random embeddings are the worst case for LSH (no cluster structure);
    # 12-bit buckets with 3 probes should still recover a meaningful share
    assert mean_recall >= 0.3, f"ANN recall collapsed: {recalls}"


def test_cosine_near_dup_threshold(spark, emb):
    pairs = S.cosine_near_dup_pairs_planted(emb, threshold=0.4, dim=64,
                                            bits=10, probes=4).collect()
    for r in pairs:
        assert r["cos_sim"] >= 0.4
        assert r["a"] < r["b"]


def test_multimodal_frame_sampling(spark, docs):
    assets = docs.limit(30).select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("modality"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit("mp4").alias("media_format"),
    )
    frames = M.frame_sample_stub(assets, every_ms=1000)
    rows = frames.collect()
    assert rows, "frame sampling produced no rows"
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append(r)
    meta = {r["asset_id"]: r for r in M.extract_metadata(assets).collect()}
    for aid, fr in by_asset.items():
        idxs = sorted(x["frame_idx"] for x in fr)
        assert idxs == list(range(len(idxs)))  # contiguous frame indices
        assert len(fr) == meta[aid]["duration_ms"] // 1000 + 1
        for x in fr:
            assert x["frame_ts_ms"] == x["frame_idx"] * 1000


def test_multimodal_exact_dedup(spark, docs):
    # duplicate every payload once → every group has exactly 2 copies
    a1 = docs.limit(20).select(F.col("doc_id").alias("asset_id"),
                               F.encode("text", "UTF-8").alias("content"))
    a2 = a1.withColumn("asset_id", F.col("asset_id") + 1000)
    groups = M.exact_dedup_assets(a1.unionByName(a2)).collect()
    assert len(groups) == 20
    assert all(g["n_copies"] == 2 for g in groups)
    assert all(g["keeper_id"] < 1000 for g in groups)


@pytest.mark.parametrize("quantizer", ["fixed"])
def test_ivf_recall_vs_brute_force(spark, emb, quantizer):
    """The deterministic integer fixed-point Lloyd quantizer — the only
    one, which q_sim_ann_ivf runs for its SQL oracle (r10) — clears the
    recall floor."""
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = S.topk_brute_force(emb, q, k=10).collect()
    _, cents = C.kmeans_fixed(C.quantize_vectors(emb), k=8, iterations=2)
    approx = S.topk_ivf_fixed(emb, q, cents, k=10, n_probe=4).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(exact_sets[qid] & approx_sets.get(qid, set())) / 10
               for qid in exact_sets]
    mean_recall = sum(recalls) / len(recalls)
    # probing half the lists on an unclustered corpus should recover ~half+
    assert mean_recall >= 0.4, f"IVF recall collapsed: {recalls}"


def test_ann_recall_query_floors(spark, sf_dir):
    """The driver-visible recall metric (q_sim_ann_recall) must stay above
    the published floors — the rows-only CORRECTNESS row pins the value."""
    from canary_weather_etl_spark.plans.registry import REGISTRY
    rows = {r["method"]: r["recall_at_10"]
            for r in REGISTRY["q_sim_ann_recall"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"lsh", "ivf", "jl", "jl_int8", "ivfpq"}
    # Floors track the published driver-visible values with a regression
    # margin (VERDICT r5 item 6): LSH measured 0.90 (sf0.001) / 0.94
    # (sf0.01), IVF 0.82 at both — a broken hash family or probe
    # schedule cannot clear these, unlike the old 0.7 catch-all.
    assert rows["lsh"] >= 0.85, rows
    assert rows["ivf"] >= 0.75, rows
    # JL floors are lower HERE ONLY because random unclustered fixtures
    # are the projection's worst case (measured 0.70 at 64->32/pool=60 on
    # sf0.01, 0.66 on sf0.001); the recommended clustered regime is pinned
    # at 0.85 below. The composed int8 path must not lose recall on top
    # of the pure projection.
    assert rows["jl"] >= 0.6, rows
    assert rows["jl_int8"] >= 0.6, rows
    # IVFADC's unclustered worst case recorded as data, not hidden
    # (measured 0.40 at sf0.01 with m=4/pq_k=8): the floor only guards
    # against total collapse; its recommended regime is pinned below
    assert rows["ivfpq"] >= 0.2, rows


def test_ann_recall_clustered_floors(spark, sf_dir):
    """The clustered regime — the one project-then-rerank is recommended
    for — at the HARSHER production cut (64->16, pool=30): a broken
    projection or quantizer cannot clear 0.85 here (measured 1.0 at both
    sf0.001 and sf0.01), unlike the old 0.5 worst-case-only floor."""
    from canary_weather_etl_spark.plans.registry import REGISTRY
    rows = {r["method"]: r["recall_at_10"]
            for r in REGISTRY["q_sim_ann_recall_clustered"]
            .fn(spark, sf_dir).collect()}
    assert set(rows) == {"jl", "jl_int8", "ivfpq"}
    assert rows["jl"] >= 0.85, rows
    assert rows["jl_int8"] >= 0.85, rows
    # IVFADC in its recommended regime (measured 0.8 at sf0.01)
    assert rows["ivfpq"] >= 0.7, rows


def test_ivf_query_uses_persisted_quantizer(spark, sf_dir, monkeypatch):
    """After the quantizer model file exists, building the IVF query plan
    must not train (VERDICT r1 item 5): the centroids are read back from
    the file."""
    import os

    from canary_weather_etl_spark.plans.llm import _ivf_quantizer_path
    from canary_weather_etl_spark.plans.registry import REGISTRY

    REGISTRY["q_sim_ann_ivf"].fn(spark, sf_dir)  # ensures the file exists
    assert os.path.isfile(_ivf_quantizer_path(sf_dir))

    def no_training(*_a, **_k):
        raise AssertionError("q_sim_ann_ivf trained a model")

    monkeypatch.setattr(C, "train_codebooks", no_training)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    REGISTRY["q_sim_ann_ivf"].fn(spark, sf_dir)  # plan build only
    after = tracker.getJobIdsForGroup(None)
    # bounded jobs only: the embeddings footer read and the two-job
    # collect of the five query vectors (load_par's repartition adds a
    # shuffle) that picks each query's probed lists. Training would add
    # an init job and one job per Lloyd round.
    assert len(after) - len(before) <= 3, (before, after)


def test_greedy_packing_invariants(spark, sf_dir):
    """Hard-cap packing: every pack ≤ budget, chunk multiset preserved vs
    the chunker output, pack ids contiguous within a bucket."""
    from canary_weather_etl_spark.plans.registry import REGISTRY

    chunks = REGISTRY["q_text_chunking"].fn(spark, sf_dir)
    packed = REGISTRY["q_pack_sequences_greedy"].fn(spark, sf_dir).cache()

    assert packed.count() == chunks.count()
    assert (packed.select("doc_id", "chunk_idx").distinct().count()
            == chunks.select("doc_id", "chunk_idx").distinct().count())

    sums = packed.groupBy("pack_id").agg(
        F.sum("chunk_tokens").alias("tot")).collect()
    assert all(r["tot"] <= 512 for r in sums), \
        [r for r in sums if r["tot"] > 512][:3]
    # packs are well-filled, not degenerate one-chunk bins (chunk=40,
    # budget=512 → a full pack is 12 chunks = 480 tokens; per-bucket tail
    # packs pull the median just under that)
    import statistics
    assert statistics.median([r["tot"] for r in sums]) >= 440

    # contiguous pack ids within each bucket
    by_bucket = {}
    for r in sums:
        b, p = r["pack_id"] >> 32, r["pack_id"] & 0xFFFFFFFF
        by_bucket.setdefault(b, set()).add(p)
    for b, ps in by_bucket.items():
        assert ps == set(range(len(ps))), (b, sorted(ps)[:5])


def test_corpus_curation_invariants(spark, docs):
    from canary_weather_etl_spark.operators import text as T
    from canary_weather_etl_spark.operators.pipeline import curate_corpus

    chunks = curate_corpus(docs).cache()
    n_docs_in = docs.count()
    surviving_docs = chunks.select("doc_id").distinct()
    n_out = surviving_docs.count()
    assert 0 < n_out <= n_docs_in

    # no surviving near-dup pair at the pipeline's threshold
    sets = D.shingle_sets(docs.join(surviving_docs, "doc_id"),
                          "doc_id", "text", n=2)
    leftover = D.exact_jaccard(sets, threshold=0.5).collect()
    assert leftover == [], f"near-dups survived curation: {leftover[:5]}"

    # every survivor passed the gates
    gates = (docs.join(surviving_docs, "doc_id")
             .select(T.quality_ok("text").alias("q"),
                     T.lang_id("text").alias("l")).collect())
    assert all(r["q"] for r in gates)
    assert all(r["l"] in ("en", "und") for r in gates)

    # chunk arithmetic: contiguous idx, sizes == 40 except the tail
    sample = chunks.filter(F.col("doc_id") == surviving_docs.first()["doc_id"]) \
                   .orderBy("chunk_idx").collect()
    assert [c["chunk_idx"] for c in sample] == list(range(len(sample)))
    assert all(c["chunk_tokens"] == 40 for c in sample[:-1])
    assert all(len(c["chunk"].split()) == c["chunk_tokens"] for c in sample)


def test_observed_quality_gate_one_pass_metrics(spark, docs):
    """df.observe: gate bookkeeping rides the filtering pass itself; the
    observed counts must equal independently computed ones."""
    from canary_weather_etl_spark.operators import text as T
    from canary_weather_etl_spark.operators.pipeline import (
        observed_quality_gate)

    gated, obs = observed_quality_gate(docs)
    n_out = gated.count()  # first action materializes the observation
    m = obs.get
    assert m["rows_out"] == n_out
    assert m["rows_in"] == docs.count()
    exp_qfail = docs.filter(~T.quality_ok("text")).count()
    assert m["quality_fail"] == exp_qfail
    assert m["rows_in"] == m["quality_fail"] + m["lang_fail"] + m["rows_out"]


def test_simhash_banding_width64_and_validation(spark):
    """bits=64 with max_hamming=0 makes one 64-bit band — the all-bits mask
    must not overflow the signed long (ADVICE r2); only identical
    signatures may pair, negative (sign-bit-set) ones included. The
    banding is hash-agnostic, so hand-made 64-bit signatures stand in for
    a 64-bit hash. Bad arguments fail loudly."""
    import pytest

    sigs = {1: -1, 2: -1, 3: -(1 << 63), 4: -(1 << 63), 5: (1 << 63) - 1,
            6: 0, 7: 0, 8: 12345, 9: -12345}
    sim = spark.createDataFrame(sorted(sigs.items()),
                                "doc long, simhash long")
    pairs = {(r["a"], r["b"]) for r in
             D.simhash_candidate_pairs(sim, bits=64, max_hamming=0).collect()}
    want = {(a, b) for a in sigs for b in sigs if a < b and sigs[a] == sigs[b]}
    assert pairs == want == {(1, 2), (3, 4), (6, 7)}

    with pytest.raises(ValueError, match=r"bits"):
        D.simhash_candidate_pairs(sim, bits=65)
    with pytest.raises(ValueError, match=r"max_hamming"):
        D.simhash_candidate_pairs(sim, bits=32, max_hamming=-1)


# ---------------------------- connected components --------------------------

def test_connected_components_chain_and_singletons(spark):
    """Multi-hop transitivity: a 6-node chain must collapse to one
    component even though the ends share no edge; isolated nodes keep
    themselves as component."""
    from canary_weather_etl_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),   # chain 1..6
         (10, 11), (11, 10),                        # dup edge both ways
         (20, 21)],
        "a long, b long")
    nodes = spark.createDataFrame([(i,) for i in
                                   [1, 2, 3, 4, 5, 6, 10, 11, 20, 21, 99]],
                                  "id long")
    got = {(r.id, r.component)
           for r in connected_components(pairs, nodes=nodes).collect()}
    want = {(i, 1) for i in range(1, 7)} | {(10, 10), (11, 10),
                                            (20, 20), (21, 20), (99, 99)}
    assert got == want


def test_connected_components_convergence_guard(spark):
    """A chain longer than max_iter rounds must raise, not silently
    under-merge."""
    import pytest
    from canary_weather_etl_spark.operators.graph import connected_components

    # label propagation moves the min one hop per round: chain of 9 edges
    # needs ~8 rounds; cap at 3 → must raise
    pairs = spark.createDataFrame([(i, i + 1) for i in range(9)],
                                  "a long, b long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(pairs, max_iter=3)


def test_dedup_clusters_keeper_audit(spark):
    """dedup_clusters: keeper is min id per component; cluster_size counts
    every member; filter(is_keeper) yields exactly one row per component."""
    from canary_weather_etl_spark.operators.graph import dedup_clusters

    pairs = spark.createDataFrame([(3, 7), (7, 12), (30, 31)],
                                  "a long, b long")
    nodes = spark.createDataFrame([(i,) for i in [3, 7, 12, 30, 31, 50]],
                                  "id long")
    rows = dedup_clusters(pairs, nodes).collect()
    by_id = {r.id: r for r in rows}
    assert by_id[3].component == 3 and by_id[3].is_keeper
    assert by_id[7].component == 3 and not by_id[7].is_keeper
    assert by_id[12].cluster_size == 3
    assert by_id[30].is_keeper and by_id[31].component == 30
    assert by_id[50].cluster_size == 1 and by_id[50].is_keeper
    keepers = [r for r in rows if r.is_keeper]
    assert len(keepers) == len({r.component for r in rows})


def test_incremental_admission_exact_dup_branch(spark):
    """q_dedup_incremental's exact_dup verdict: fixture batch has no exact
    text collision, so synthesize one and run the same operators."""
    from pyspark.sql import functions as F
    from canary_weather_etl_spark.operators import dedup as D

    rows = [(0, "the quick brown fox jumps over the lazy dog"),   # batch
            (5, "an entirely different document about spark"),     # batch
            (1, "the quick brown fox jumps over the lazy dog"),   # corpus=dup of 0
            (2, "an entirely different document about spark engines"),  # near of 5
            (3, "unrelated corpus text with no overlap at all")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    batch = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    exact_ids = {
        r.doc_id for r in
        batch.select("doc_id", F.md5("text").alias("h"))
        .join(corpus.select(F.md5("text").alias("h")).distinct(),
              "h", "left_semi").collect()}
    assert exact_ids == {0}
    near = D.exact_jaccard_cross(
        D.shingle_sets(batch, "doc_id", "text", n=2),
        D.shingle_sets(corpus, "doc_id", "text", n=2), threshold=0.5)
    near_ids = {r.a for r in near.collect()}
    assert 0 in near_ids          # exact dup is jaccard 1.0 too
    assert 5 in near_ids          # one-word-suffix diff stays >= 0.5


# ---------------------------- count-min sketch ------------------------------

def test_cms_overestimate_merge_and_bound(spark, sf_dir):
    """CMS invariants: (1) est >= true for EVERY item (one-sided by
    construction); (2) merging shard sketches is cell-identical to
    building over the whole corpus (counters add); (3) realized error
    within the eps*N analytic bound for >=95% of items (per-item guarantee
    holds with prob 1 - e^-depth ~ 0.98)."""
    import math
    from pyspark.sql import functions as F
    from canary_weather_etl_spark.operators import sketch as SK
    from canary_weather_etl_spark.plans.registry import load

    li = load(spark, sf_dir, "lineitem")
    width, depth = 2048, 4
    whole = SK.cms_build(li, "l_partkey", width=width, depth=depth)
    shards = [SK.cms_build(li.filter(F.col("l_returnflag") == f),
                           "l_partkey", width=width, depth=depth)
              for f in ("A", "N", "R")]
    merged = SK.cms_merge(*shards)
    cells_whole = {(r.d, r.w): r.cnt for r in whole.collect()}
    cells_merged = {(r.d, r.w): r.cnt for r in merged.collect()}
    assert cells_whole == cells_merged

    est = {r.l_partkey: r.est for r in
           SK.cms_estimate(merged, li.select("l_partkey"), "l_partkey",
                           width=width, depth=depth).collect()}
    true = {r.l_partkey: r.cnt for r in
            li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
            .collect()}
    n_total = sum(true.values())
    bound = math.e / width * n_total
    assert all(est[k] >= v for k, v in true.items())
    within = sum(1 for k, v in true.items() if est[k] - v <= bound)
    assert within / len(true) >= 0.95


def test_multimodal_resize_and_embed_stubs(spark):
    """resize_stub: dims bounded by max_dim, aspect preserved (within
    integer truncation), payload shrinks with area, deterministic.
    embed_stub: unit-norm float vectors, deterministic per payload."""
    import math
    from pyspark.sql import functions as F
    from canary_weather_etl_spark.operators import multimodal as M

    d = spark.createDataFrame(
        [(i, "image", f"payload-{i}".encode() * 50, "png") for i in range(20)],
        "asset_id long, modality string, content binary, media_format string")

    resized = {r.asset_id: r for r in M.resize_stub(d, max_dim=24).collect()}
    meta = {r.asset_id: r for r in M.extract_metadata(d).collect()}
    assert set(resized) == set(meta)
    for aid, r in resized.items():
        m = meta[aid]
        assert max(r.width, r.height) <= 24
        assert 1 <= r.width <= m.width and 1 <= r.height <= m.height
        assert len(bytes(r.content)) <= m.n_bytes
    again = {r.asset_id: bytes(r.content)
             for r in M.resize_stub(d, max_dim=24).collect()}
    assert again == {k: bytes(v.content) for k, v in resized.items()}

    emb = {r.asset_id: r.embedding for r in M.embed_stub(d, dim=8).collect()}
    assert len(emb) == 20
    for v in emb.values():
        assert len(v) == 8
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-5
    emb2 = {r.asset_id: r.embedding for r in M.embed_stub(d, dim=8).collect()}
    assert all(emb[k] == pytest.approx(emb2[k]) for k in emb)


def test_substring_spans_recover_planted_duplicate(spark, docs):
    """A 12-token run planted in two documents must come back as ONE
    merged span of exactly 12 tokens (5 consecutive 8-shingle hits) in
    each document, at the planted offsets; a doc sharing nothing stays
    absent. The fixture corpus has cross-doc spans too, so the
    q_dedup_substring_spans oracle check does not compare empty sets."""
    assert D.duplicated_span_table(docs, "doc_id", "text", k=8).take(1), (
        "fixture corpus has no cross-doc 8-token duplicates?")
    run = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    d = spark.createDataFrame(
        [(1, "unique one two three " + run),
         (2, run + " tail words here now"),
         (3, "totally different content with no shared runs at all ok")],
        "doc_id int, text string")
    spans = {r["doc"]: r for r in
             D.duplicated_span_table(d, "doc_id", "text", k=8).collect()}
    assert set(spans) == {1, 2}
    # doc 1: run starts after 4 prefix tokens -> positions 4..15
    assert (spans[1]["span_start"], spans[1]["span_end"]) == (4, 15)
    # doc 2: run at the front -> positions 0..11
    assert (spans[2]["span_start"], spans[2]["span_end"]) == (0, 11)
    for r in spans.values():
        assert r["n_tokens"] == 12
        assert r["n_shingles"] == 5  # 12 - 8 + 1 consecutive hits


# --- BPE merge training ------------------------------------------------------

def _naive_bpe(texts, n_merges, min_pair_count=2):
    """From-scratch reference BPE (Sennrich-style, word-level): returns
    (merge list, encode_len fn). Independent of the Spark implementation
    in every way except the published algorithm. Tokenization matches the
    engine's DOCUMENTED ASCII rule (operators/bpe.py: Java-default \\s):
    re.ASCII \\s+ is byte-for-byte the same class ([ \\t\\n\\r\\f\\x0b]),
    where bare str.split() would also split on U+00A0/U+2028 etc. and
    break parity on non-ASCII-spaced corpora."""

    def _words(t):
        return [w for w in re.split(r"\s+", t.lower().strip(" "),
                                    flags=re.ASCII) if w]

    freq = {}
    for t in texts:
        for w in _words(t):
            freq[w] = freq.get(w, 0) + 1
    vocab = {w: list(w) + ["</w>"] for w in freq}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq[w]
        if not counts:
            break
        top = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), c = top
        if c < min_pair_count:
            break
        merges.append((a, b, a + b, c))
        for w, syms in vocab.items():
            out = []
            for x in syms:  # greedy left scan, same rule as the fold
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            vocab[w] = out

    def encode_len(text):
        n = 0
        for w in _words(text):
            syms = list(w) + ["</w>"]
            for a, b, _, _ in merges:
                out = []
                for x in syms:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                syms = out
            n += len(syms)
        return n

    return merges, encode_len


def test_bpe_train_matches_naive_exactly(spark):
    from canary_weather_etl_spark.operators.bpe import (bpe_encode_len,
                                                        bpe_train)
    sf = "/root/testdata/sf0.001"
    docs = load(spark, sf, "documents").select("doc_id", "text")
    texts = [r["text"] for r in docs.collect()]

    got = [(r["left"], r["right"], r["merged"], r["pair_n"])
           for r in bpe_train(docs, n_merges=8).orderBy("rank").collect()]
    want, encode_len = _naive_bpe(texts, 8)
    assert got == want  # bit-identical merge sequence, order included

    merges = [(a, b) for a, b, _, _ in want]
    enc = {r["doc_id"]: r["n_bpe"]
           for r in bpe_encode_len(docs, merges).collect()}
    rows = docs.collect()
    assert len(enc) == len(rows)
    for r in rows:
        assert enc[r["doc_id"]] == encode_len(r["text"]), r["doc_id"]
