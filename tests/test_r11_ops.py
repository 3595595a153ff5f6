"""Round-11 operator tests: bounded-recall banded containment, the Zipf
containment corpus (chooser's prefix side), the persisted-postings
admission screen, sketch error bounds, and the r11 minhash fixes
(the agg-shaped signatures and the permutation-seed regression)."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from canary_weather_etl_spark.operators import dedup as D
from canary_weather_etl_spark.plans.r11_queries import _zipf_corpus
from canary_weather_etl_spark.plans.registry import REGISTRY, load_par

SF = "/root/testdata/sf0.01"


# --- minhash signature shapes and the permutation-seed regression ----------

def _lambda_signatures(sets, num_hashes: int):
    """Independent reference: the r10 signature shape — array_min over
    per-permutation transforms of a shared md5-derived base-hash
    projection. Same spec as the shipped agg shape, different physical
    plan (HOF lambdas are CodegenFallback, which is why it is not the
    production path)."""
    hs = F.transform(
        "sh",
        lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10)
        .cast("long"))
    based = sets.select("doc", hs.alias("hs"))
    ab = D.minhash_perm_constants(num_hashes)

    def perm(a: int, b: int):
        # one-arg closure: a two-parameter transform lambda would
        # receive the element INDEX as its second argument
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(D.MINHASH_P)

    sig = F.array(*[
        F.array_min(F.transform("hs", perm(a, b))) for a, b in ab
    ])
    return based.select("doc", sig.alias("signature"))


def test_minhash_signature_shapes_bit_equal(spark):
    """The agg-shaped signatures (r11, codegen'd explode+MIN) must be
    bit-identical to the r10 lambda shape — same spec, different
    physical plan. And the permutations must produce DIFFERENT mins per
    doc: the r10 `lambda s, i=i:` silently received the ELEMENT INDEX as
    its second argument (Spark binds extra transform lambda params
    positionally), so every signature element per doc was the same
    single-permutation min — found r11 by this very A/B."""
    docs = load_par(spark, SF, "documents").limit(100)
    sets = D.shingle_sets(docs, "doc_id", "text", n=2)

    agg = {r["doc"]: r["signature"] for r in
           D.minhash_signatures_from_sets(sets, 8).collect()}
    lam = {r["doc"]: r["signature"] for r in
           _lambda_signatures(sets, 8).collect()}
    assert agg == lam
    # the regression: all permutations collapsing to one value per doc
    assert any(len(set(sig)) > 1 for sig in agg.values()), \
        "minhash permutations are not varying — seed bound to element index?"


# --- bounded-recall banded containment --------------------------------------

def test_containment_banded_subset_and_recall(spark):
    """Banded containment's verification tail is EXACT, so its output is
    a SUBSET of the exact operator's (precision 1.0 by construction);
    recall on the fixture is pinned as a floor. The fixture's
    qualifying pairs are near-identical docs (flat-vocab coincidental
    pairs can't reach 0.8 containment), which is exactly the regime
    banding keeps."""
    d = load_par(spark, SF, "documents")
    sets = D.shingle_sets(d, "doc_id", "text", n=2)

    exact = {(r["contained"], r["container"]): r["containment_units"]
             for r in D.containment_pairs(
                 sets, threshold_units=800_000).collect()}
    banded = {(r["contained"], r["container"]): r["containment_units"]
              for r in D.containment_pairs_banded(
                  sets, threshold_units=800_000).collect()}
    assert banded, "banded containment found nothing on the fixture"
    assert set(banded).issubset(set(exact))
    for k, units in banded.items():
        assert exact[k] == units  # exact recount: identical fixed-point
    recall = len(banded) / len(exact)
    assert recall >= 0.9, f"banded containment recall {recall:.3f} < 0.9"


def test_containment_banded_recall_sf01(spark):
    """The r10 verdict's done-criterion for the bounded-recall path: a
    recall statement vs the exact result AT sf0.1, pytest-pinned. The
    naive exact regime completes at sf0.1 (the flat fixture's cheap
    side, 3.3 s — it is 100x where both exact regimes abort); banded
    found every qualifying pair here (512/512 measured r11, SCALE.md) —
    pinned at >= 0.95 to absorb fixture regeneration."""
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    sets = D.shingle_sets(docs, "doc_id", "text", n=2) \
        .localCheckpoint(eager=True)
    exact = {(r["contained"], r["container"]) for r in
             D.exact_containment(sets, threshold_units=800_000).collect()}
    banded = {(r["contained"], r["container"]) for r in
              D.containment_pairs_banded(
                  sets, threshold_units=800_000).collect()}
    assert banded <= exact  # exact recount tail: precision 1.0
    assert len(banded) / max(len(exact), 1) >= 0.95


# --- Zipf containment corpus: chooser picks prefix, planted twins ----------

def test_containment_zipf_prefix_chosen_and_planted(spark):
    ids = load_par(spark, SF, "documents").select("doc_id")
    corpus = _zipf_corpus(ids)
    sets = D.shingle_sets(corpus, "doc_id", "text", n=2) \
        .localCheckpoint(eager=True)

    # the operator's own probe: prefix must be cheaper on this corpus
    # (the driver-visible Zipf side of the crossover)
    probe = D._containment_probe(sets, 800_000)
    assert D._containment_prefers_prefix(probe), probe

    # result = exactly the planted twins, containment 1.0, both plans
    out = {(r["contained"], r["container"]): r["containment_units"]
           for r in D.verify_pairs_containment(
               sets, D.containment_candidates(sets, 800_000),
               800_000).collect()}
    n_twins = ids.filter(F.col("doc_id") % 50 == 0).count()
    assert len(out) == n_twins
    for (a, b), units in out.items():
        assert a == b + 1_000_000 and units == 1_000_000
    naive = {(r["contained"], r["container"]): r["containment_units"]
             for r in D.exact_containment(
                 sets, threshold_units=800_000).collect()}
    assert naive == out


# --- persisted-postings admission screen ------------------------------------

def _run_admission(spark, batches, corpus0, stateful, tmp):
    tag = "postings" if stateful else "rescan"
    corpus_dir = os.path.join(tmp, f"corpus_{tag}")
    state_dir = os.path.join(tmp, f"state_{tag}")
    corpus0.write.mode("overwrite").parquet(corpus_dir)
    if stateful:
        D.admission_state_init(corpus0, state_dir, n=2)
    rows = []
    for b in batches:
        v = D.admission_screen_batch(
            b, corpus_dir, state_dir=state_dir if stateful else None,
            threshold=0.5, n=2)
        rows.extend((r["doc_id"], r["verdict"], r["n_near"])
                    for r in v.select("doc_id", "verdict", "n_near")
                    .collect())
    return sorted(rows)


def test_admission_postings_equals_rescan(spark):
    """The postings screen is EXACT: verdicts, near-dup counts and the
    evolving corpus must be identical to the stateless rescan across
    both batches (batch 2 sees batch 1's admits either way)."""
    d = load_par(spark, SF, "documents")
    corpus0 = d.filter(F.col("doc_id") % 3 == 2).select("doc_id", "text")
    batches = [
        d.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text"),
        d.filter(F.col("doc_id") % 3 == 1).select("doc_id", "text"),
    ]
    tmp = tempfile.mkdtemp(prefix="canary_admission_test_")
    try:
        a = _run_admission(spark, batches, corpus0, False, tmp)
        b = _run_admission(spark, batches, corpus0, True, tmp)
        assert a == b
        assert any(v == "near_dup" for _, v, _ in a)
        assert any(v == "admit" for _, v, _ in a)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_admission_auto_chooser_is_state_gated(spark):
    """Given a state_dir the screen runs on postings and maintains the
    state: the hashes table grows by exactly the admitted docs'
    distinct md5s."""
    d = load_par(spark, SF, "documents")
    corpus0 = d.limit(100).select("doc_id", "text")
    batch = (d.filter(F.col("doc_id") >= 400)
             .select("doc_id", "text").limit(50))
    tmp = tempfile.mkdtemp(prefix="canary_admission_auto_")
    try:
        corpus_dir = os.path.join(tmp, "corpus")
        state_dir = os.path.join(tmp, "state")
        corpus0.write.mode("overwrite").parquet(corpus_dir)
        D.admission_state_init(corpus0, state_dir, n=2)
        h_before = spark.read.parquet(
            os.path.join(state_dir, "hashes")).count()
        v = D.admission_screen_batch(batch, corpus_dir, state_dir=state_dir)
        admitted = v.filter(F.col("verdict") == "admit")
        assert admitted.count() > 0
        new_h = admitted.select(F.md5("text")).distinct().count()
        h_after = spark.read.parquet(
            os.path.join(state_dir, "hashes")).count()
        assert h_after == h_before + new_h  # postings screen maintained state
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bloom_gate_one_sided_and_fp_bound(spark):
    """Bloom membership is one-sided BY CONSTRUCTION: every true member
    reports in_bloom (no false negatives, the property the 100 TB
    pre-screen depends on); false positives are bounded by
    (1-e^(-kn/m))^k — at the fixture's n=~334, m=65536, k=4 the
    expectation is ~1e-4 rows, pinned loosely at <1% of probes."""
    rows = REGISTRY["q_bloom_membership_gate"].fn(spark, SF).collect()
    assert rows
    members = [r for r in rows if r["actually_in"]]
    assert members and all(r["in_bloom"] for r in members)
    fps = [r for r in rows if r["false_positive"]]
    assert len(fps) / len(rows) < 0.01, len(fps)
    for r in rows:
        assert r["false_positive"] == (r["in_bloom"]
                                       and not r["actually_in"])


def test_bloom_probe_broadcasts_words_table(spark):
    """The words table is the KB-sized side by construction (<= m/32
    rows); the probe must broadcast it — a shuffled join here would
    defeat the pre-screen's point at 100 TB."""
    from canary_weather_etl_spark.operators import sketch as SK

    d = load_par(spark, SF, "documents").limit(200)
    corpus = d.select(F.md5("text").alias("key")).distinct()
    words = SK.bloom_build(corpus, "key")
    probed = SK.bloom_probe(words, d.select(F.md5("text").alias("key")),
                            "key")
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_admission_postings_scan_prunes_buckets(spark):
    """The postings regime reads only the bucket partitions the batch
    touches: a partition-column IN filter must reach the scan as
    PartitionFilters (the same layout+filter shape
    admission_screen_batch builds internally)."""
    d = load_par(spark, SF, "documents").limit(100)
    tmp = tempfile.mkdtemp(prefix="canary_postings_prune_")
    try:
        state_dir = os.path.join(tmp, "state")
        D.admission_state_init(d.select("doc_id", "text"), state_dir, n=2)
        pruned = (spark.read.parquet(os.path.join(state_dir, "postings"))
                  .filter(F.col("bucket").isin([3, 7, 11])))
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "bucket" in plan, plan
        # and the pruned read returns only those buckets' rows
        got = {r["bucket"] for r in pruned.select("bucket")
               .distinct().collect()}
        assert got <= {3, 7, 11}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --- sketch error bounds -----------------------------------------------------

def test_sketch_error_bounds_within(spark):
    out = {r["family"]: r for r in
           REGISTRY["q_sketch_error_bounds"].fn(spark, SF).collect()}
    assert set(out) == {"hll_count_distinct", "hll_datasketches",
                        "approx_percentile_p50", "cms_point_estimate"}
    for fam, r in out.items():
        assert r["within_bound"], (fam, r["err_ppm"], r["bound_ppm"])
    # CMS never undercounts: the summed estimate can only be >= exact
    cms = out["cms_point_estimate"]
    assert cms["approx_v"] >= cms["exact_v"]


# --- composed IVF-PQ (IVFADC) ------------------------------------------------

def test_ivfpq_clustered_recall_and_determinism(spark):
    """q_sim_ann_ivfpq's quality pin, in the regime IVFADC is recommended
    for (clustered corpora — the unclustered random fixture is the
    documented worst case for every quantization path, q_sim_ann_recall):
    recall@10 vs exact brute force on the md5-rebuildable clustered
    corpus, measured 0.8 at sf0.01 with the registered m=2/pq_k=4/
    n_probe=2 budget; floor 0.7. And the determinism contract: the full
    composition (IVF train -> assign -> residual PQ train -> encode ->
    probe -> ADC) is integer fixed-point end to end, so rows must be
    bit-identical under a different input partitioning."""
    from canary_weather_etl_spark.operators import similarity as S
    from canary_weather_etl_spark.plans.llm import clustered_embeddings

    e = clustered_embeddings(
        load_par(spark, SF, "embeddings")).localCheckpoint(eager=True)
    q = (e.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = {r["vec_id"] for r in S.topk_brute_force(e, q, k=10).collect()}

    got = S.topk_ivfpq_multi(e, [0], k_top=10).collect()
    approx = {r["vec_id"] for r in got}
    assert len(exact & approx) / 10 >= 0.7

    re = S.topk_ivfpq_multi(e.repartition(7), [0], k_top=10).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, re))


def test_pq_and_ivfpq_train_on_sparse_ids(spark):
    """Every codebook starts from the first k points in vec_id order, so
    a corpus without ids 0..k-1 trains the same model: with every id
    shifted by 1000, PQ returns the dense corpus's codebooks (keyed by
    the init points' ids, shifted too) and the IVFADC top-k returns the
    dense result with shifted ids."""
    from canary_weather_etl_spark.operators import clustering as C
    from canary_weather_etl_spark.operators import similarity as S

    e = load_par(spark, SF, "embeddings")
    shifted = e.withColumn("vec_id", F.col("vec_id") + 1000)
    dense = S.pq_train_codebooks(C.quantize_vectors(e), m=2, k=4,
                                 iterations=2)
    sparse = S.pq_train_codebooks(C.quantize_vectors(shifted), m=2, k=4,
                                  iterations=2)
    assert sparse == {s: {c + 1000: v for c, v in d.items()}
                      for s, d in dense.items()}

    want = [(q + 1000, rank, v + 1000, adc) for q, rank, v, adc in
            S.topk_ivfpq_multi(e, [0, 1], k_top=10).collect()]
    got = S.topk_ivfpq_multi(shifted, [1000, 1001], k_top=10).collect()
    assert len(want) == 20
    assert sorted(map(tuple, got)) == sorted(want)


# --- deterministic PCA power projection --------------------------------------

def test_pca_power_matches_numpy_dominant_direction(spark):
    """The fixed-point power iteration must land on numpy's dominant
    eigenvector of the SAME integer Gram matrix (|cosine| >= 0.999 —
    sign is start-vector-dependent, direction is what PCA defines; the
    random fixture's eigengap ratio is a brutal 0.987, which is why the
    registered entry runs 64 iterations — measured cos 0.9994), and
    the full projection must be bit-identical under a different input
    partitioning (integer fixed-point end to end)."""
    import numpy as np

    from canary_weather_etl_spark.operators import spectral as SP

    e = load_par(spark, SF, "embeddings")
    qdf = SP._quantize(e, "vec_id", "embedding")
    mu = {int(r["ord"]): int(r["mu"]) for r in
          (qdf.select(F.posexplode("qvec").alias("ord", "qv"))
           .groupBy("ord")
           .agg(F.floor(F.sum("qv").cast("double") / F.count(F.lit(1)))
                .cast("long").alias("mu")).collect())}
    mu_arr = F.array(*[F.lit(mu[i]).cast("long") for i in range(64)])
    centered = qdf.select(
        "vec_id", F.zip_with("qvec", mu_arr, lambda x, y: x - y)
        .alias("cvec"))
    gram = SP.gram_matrix(centered, 64)
    v = np.array(SP.power_iterate(gram, iterations=64), dtype=float)

    ew, evec = np.linalg.eigh(np.array(gram, dtype=float))
    top = evec[:, int(np.argmax(ew))]
    cos = abs(float(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top)))
    assert cos >= 0.999

    a = SP.pca_power_projection(e, iterations=64).collect()
    b = SP.pca_power_projection(e.repartition(7), iterations=64).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --- streaming ANN ingest (frozen IVFADC model) ------------------------------

def test_stream_ann_ingest_batch_invariance(spark):
    """The frozen-model contract: batch boundaries cannot affect the
    index. The registered entry's top-k (seed codes + two streamed
    drops) must equal the ADC over a single BATCH-FREE encode of the
    whole corpus against the same seed-trained model — row for row."""
    from canary_weather_etl_spark.operators import clustering as C
    from canary_weather_etl_spark.operators import similarity as S

    e = load_par(spark, SF, "embeddings")
    n = e.count()
    seed = e.filter(F.col("vec_id") * 3 < n)
    qseed = C.quantize_vectors(seed)
    _, cents = C.kmeans_fixed(qseed, k=8, iterations=2)
    books = S.pq_train_codebooks(S.ivf_residuals(qseed, cents),
                                 m=2, k=4, iterations=2)
    q0 = [int(v) for v in
          C.quantize_vectors(e).filter(F.col("vec_id") == 0)
          .collect()[0]["qvec"]]
    codes_all = S.ivfpq_encode_frozen(e, cents, books)
    expect = (S.ivfpq_adc_over_codes(codes_all, {0: q0}, cents, books,
                                     k_top=10, n_probe=2)
              .drop("query_id").collect())

    got = REGISTRY["q_stream_ann_ingest"].fn(spark, SF).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expect))


def test_stream_pca_equals_batch_bit_for_bit(spark):
    """The additive-moment identity is exact: the streaming entry's
    projections (three micro-batches of raw-moment state, Gram derived
    from the summed state) must equal q_pca_power_projection's output
    row for row — same μ rule, same G, same 64-iteration orbit."""
    a = REGISTRY["q_stream_pca_update"].fn(spark, SF).collect()
    b = REGISTRY["q_pca_power_projection"].fn(spark, SF).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --- corpus drift (total variation) ------------------------------------------

def test_corpus_drift_tv_zero_on_identical_halves(spark):
    """TV drift of a corpus against itself is exactly 0: duplicate every
    document into both halves (even/odd ids carry identical text) and
    the integer statistic must vanish — no epsilon, it's exact."""
    from canary_weather_etl_spark.plans import r11_queries as R

    d = load_par(spark, SF, "documents").limit(200)
    both = (d.select((F.col("doc_id") * 2).alias("doc_id"), "text")
            .unionByName(
                d.select((F.col("doc_id") * 2 + 1).alias("doc_id"),
                          "text")))
    toks = (both.select((F.col("doc_id") % 2).alias("half"),
                        F.explode(F.split(F.lower(F.trim("text")), r"\s+"))
                        .alias("term"))
            .filter(F.col("term") != ""))
    cnt = toks.groupBy("term").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"))
    n = toks.agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n1"))
    per = (cnt.crossJoin(F.broadcast(n))
           .select(F.expr("1000000000L * c0 div n0").alias("p0"),
                   F.expr("1000000000L * c1 div n1").alias("p1")))
    tv = per.agg(F.expr("sum(abs(p0 - p1)) div 2").alias("tv")).collect()
    assert tv[0]["tv"] == 0

    # and the registered entry's statistic is bounded by construction
    rows = REGISTRY["q_corpus_drift_tv"].fn(spark, SF).collect()
    assert rows and all(0 <= r["tv_units"] <= 1_000_000_000 for r in rows)


def test_pca_top2_directions_match_numpy(spark):
    """Both spectral directions against numpy on the SAME integer Gram:
    |cos| >= 0.999 for the dominant (measured 0.9994), >= 0.99 for the
    deflated second (measured 0.9967 — bounded by the v1 residue the
    integer deflation leaves and the fixture's 0.98 λ3/λ2 gap), and the
    two fixed-point directions are near-orthogonal (measured 5e-4)."""
    import numpy as np

    from canary_weather_etl_spark.operators import spectral as SP

    e = load_par(spark, SF, "embeddings")
    qdf = SP._quantize(e, "vec_id", "embedding")
    mu = {int(r["ord"]): int(r["mu"]) for r in
          (qdf.select(F.posexplode("qvec").alias("ord", "qv"))
           .groupBy("ord")
           .agg(F.floor(F.sum("qv").cast("double") / F.count(F.lit(1)))
                .cast("long").alias("mu")).collect())}
    mu_arr = F.array(*[F.lit(mu[i]).cast("long") for i in range(64)])
    centered = qdf.select(
        "vec_id", F.zip_with("qvec", mu_arr, lambda x, y: x - y)
        .alias("cvec"))
    gram = SP.gram_matrix(centered, 64)
    v1 = SP.power_iterate(gram, iterations=64)
    v2 = SP.power_iterate(SP.deflate_gram(gram, v1), iterations=64)

    ew, evec = np.linalg.eigh(np.array(gram, dtype=float))
    order = np.argsort(ew)[::-1]
    a1, a2 = np.array(v1, float), np.array(v2, float)

    def cos(a, b):
        return abs(float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    assert cos(a1, evec[:, order[0]]) >= 0.999
    assert cos(a2, evec[:, order[1]]) >= 0.99
    assert cos(a1, a2) <= 0.01
