"""Round-12 operator tests: the fixed-batch admission twin (screen-only
mode + state immutability + rescan verdict identity), the IVFADC
parameter sweep (recommended-regime recall floor, probe-axis
monotonicity, shared-build validation), the per-stratum TV drift
decomposition (bounds, degenerate vanished-stratum totality), and the
r12 loud-guard fixes from the r11 ADVICE (ivfpq_multi validation,
spectral exactness guard, drift zero-half guard)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from canary_weather_etl_spark.operators import dedup as D
from canary_weather_etl_spark.operators import similarity as S
from canary_weather_etl_spark.operators import spectral as SP
from canary_weather_etl_spark.plans.registry import REGISTRY, load_par

SF = "/root/testdata/sf0.01"


# --- fixed-batch admission: screen-only mode ---------------------------------

def _state_listing(state_dir: str) -> set[str]:
    out = set()
    for root, _dirs, files in os.walk(state_dir):
        for f in files:
            p = os.path.join(root, f)
            out.add(f"{os.path.relpath(p, state_dir)}:{os.path.getsize(p)}")
    return out


def test_admission_screen_only_leaves_state_untouched(spark, tmp_path):
    """writeback=False must not append to the corpus or the state tables
    — the property that makes the fixed-batch entry's cached seed state
    reusable across invocations."""
    d = load_par(spark, SF, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") >= 200)
    batch = d.filter(F.col("doc_id") < 100)
    corpus_dir = str(tmp_path / "corpus")
    state_dir = str(tmp_path / "state")
    corpus.write.mode("overwrite").parquet(corpus_dir)
    D.admission_state_init(corpus, state_dir, n=2)

    before_state = _state_listing(state_dir)
    before_corpus = _state_listing(corpus_dir)
    v = D.admission_screen_batch(batch, corpus_dir, state_dir=state_dir,
                                 threshold=0.5, n=2, writeback=False)
    assert v.count() == batch.count()
    assert _state_listing(state_dir) == before_state
    assert _state_listing(corpus_dir) == before_corpus


def test_admission_fixed_batch_verdicts_equal_rescan(spark, tmp_path):
    """The postings screen in screen-only mode must be verdict-identical
    to the rescan twin over the same fixed corpus — the exactness claim
    the q_stream_admission_fixed_batch oracle rests on."""
    d = load_par(spark, SF, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") >= 200)
    batch = d.filter(F.col("doc_id") < 200)
    corpus_dir = str(tmp_path / "corpus")
    state_dir = str(tmp_path / "state")
    corpus.write.mode("overwrite").parquet(corpus_dir)
    D.admission_state_init(corpus, state_dir, n=2)

    post = {(r["doc_id"]): (r["verdict"], r["n_near"]) for r in
            D.admission_screen_batch(batch, corpus_dir,
                                     state_dir=state_dir,
                                     writeback=False)
            .collect()}
    resc = {(r["doc_id"]): (r["verdict"], r["n_near"]) for r in
            D.admission_screen_batch(batch, corpus_dir, state_dir=None,
                                     writeback=False)
            .collect()}
    assert post == resc
    assert any(v[0] != "admit" for v in post.values()), \
        "fixture has no dup structure across the fixed-batch boundary"


def test_fixed_batch_registry_entry_caches_seed(spark):
    """Two invocations of the registry entry must agree row-for-row
    (the cached seed state is a pure function of the corpus)."""
    fn = REGISTRY["q_stream_admission_fixed_batch"].fn
    a = sorted(tuple(r) for r in fn(spark, SF).collect())
    b = sorted(tuple(r) for r in fn(spark, SF).collect())
    assert a == b and len(a) == 200


# --- IVFADC parameter sweep ---------------------------------------------------

@pytest.fixture(scope="module")
def sweep_rows(spark):
    fn = REGISTRY["q_sim_ann_ivfpq_sweep"].fn
    return [r.asDict() for r in fn(spark, SF).collect()]


def test_ivfpq_sweep_recommended_floor(sweep_rows):
    """The recommended operating point (clustered regime, m=4/pq_k=8,
    n_probe=2) must clear the 0.8 recall floor the spot entries pin."""
    rec = [r for r in sweep_rows
           if (r["regime"], r["m"], r["pq_k"], r["n_probe"])
           == ("clustered", 4, 8, 2)]
    assert rec and rec[0]["recall_at_10"] >= 0.8


def test_ivfpq_sweep_probe_axis(sweep_rows):
    """Along the clustered (4,8) probe axis: recall is non-decreasing
    in n_probe and the measured candidate rows strictly increase —
    more probes can only add candidates, never remove true neighbors
    from the scored pool."""
    axis = sorted((r["n_probe"], r["recall_at_10"], r["cand_rows"])
                  for r in sweep_rows
                  if r["regime"] == "clustered" and r["m"] == 4)
    assert [p for p, _, _ in axis] == [1, 2, 4, 8]
    recalls = [rc for _, rc, _ in axis]
    assert all(a <= b + 1e-9 for a, b in zip(recalls, recalls[1:]))
    cands = [c for _, _, c in axis]
    assert all(a < b for a, b in zip(cands, cands[1:]))
    # full probe = full corpus scanned (minus the 5 self rows)
    full = [r for r in sweep_rows
            if r["regime"] == "clustered" and r["m"] == 4
            and r["n_probe"] == 8]
    assert full[0]["cand_frac_ppm"] == 1_000_000


def test_ivfpq_sweep_budget_effect(sweep_rows):
    """At the same probe count, the finer (4,8) budget must not recall
    worse than the (2,4) default on the clustered corpus — the
    published PQ-budget trade the r11 entries documented."""
    by = {(r["m"], r["pq_k"]): r["recall_at_10"] for r in sweep_rows
          if r["regime"] == "clustered" and r["n_probe"] == 2}
    assert by[(4, 8)] >= by[(2, 4)]


def test_ivfpq_sweep_shared_build_matches_multi(spark):
    """A sweep grid point must return exactly what the standalone
    topk_ivfpq_multi returns for the same parameters — the shared
    quantizer/residual/code build changes the cost, not the answer."""
    e = load_par(spark, SF, "embeddings").localCheckpoint(eager=True)
    point = S.ivfpq_sweep(e, [0, 1, 2], [(2, 4, 2)], k_top=5)[0]
    got = sorted(tuple(r) for r in point["topk"].collect())
    want = sorted(tuple(r) for r in
                  S.topk_ivfpq_multi(e, [0, 1, 2], k_top=5, m=2, pq_k=4,
                                     n_probe=2)
                  .select("query_id", "rank", "vec_id", "adc_units")
                  .collect())
    assert got == want


def test_ivfpq_validation_loud(spark):
    """r11 ADVICE: the multi/sweep paths must fail loudly on dims%m and
    missing query ids, like the single-query twin."""
    e = load_par(spark, SF, "embeddings").filter(F.col("vec_id") < 50)
    with pytest.raises(ValueError, match="not divisible"):
        S.topk_ivfpq_multi(e, [0], m=3)
    with pytest.raises(ValueError, match="not found"):
        S.topk_ivfpq_multi(e, [0, 999_999], m=2)
    with pytest.raises(ValueError, match="not divisible"):
        S.ivfpq_sweep(e, [0], [(3, 4, 2)])
    with pytest.raises(ValueError, match="n_probe"):
        S.ivfpq_sweep(e, [0], [(2, 4, 99)])
    with pytest.raises(ValueError, match="not found"):
        S.ivfpq_sweep(e, [999_999], [(2, 4, 2)])
    # r13 ADVICE: empty query_ids previously crashed opaquely with
    # AttributeError (scored_all stayed None) at the window-rank step.
    with pytest.raises(ValueError, match="non-empty"):
        S.ivfpq_sweep(e, [], [(2, 4, 2)])


def test_pq_codebook_cache_validates_params(spark, tmp_path):
    """r13 ADVICE: a cached codebook JSON reused across parameter
    changes must raise, not silently return the mismatched model."""
    e = load_par(spark, SF, "embeddings").filter(F.col("vec_id") < 60)
    from canary_weather_etl_spark.operators.clustering import quantize_vectors
    qdf = quantize_vectors(e, "vec_id", "embedding")
    path = str(tmp_path / "books.json")
    books = S.persist_pq_codebooks(qdf, path, m=2, k=4)
    assert len(books) == 2 and all(len(d) == 4 for d in books.values())
    # same params → cache hit, identical model
    again = S.persist_pq_codebooks(qdf, path, m=2, k=4)
    assert again == books
    with pytest.raises(ValueError, match="stale"):
        S.persist_pq_codebooks(qdf, path, m=4, k=4)
    with pytest.raises(ValueError, match="stale"):
        S.persist_pq_codebooks(qdf, path, m=2, k=8)


# --- per-stratum TV drift ----------------------------------------------------

def test_drift_tv_strata_bounds(spark, duck):
    """Every stratum's TV sits in [0, 1e9]; no stratum on the fixture is
    degenerate under the md5-parity split (the reason the entry does
    NOT use doc_id%2: the fixture's source column is parity-confounded);
    and each stratum's top term drift is <= 2*TV (a single term's
    |p0-p1| never exceeds the sum)."""
    rows = [r.asDict() for r in
            REGISTRY["q_corpus_drift_tv_strata"].fn(spark, SF).collect()]
    assert {r["kind"] for r in rows} == {"source", "lang"}
    for r in rows:
        assert 0 <= r["tv_units"] <= 1_000_000_000
        assert r["n0_tokens"] > 0 and r["n1_tokens"] > 0, \
            f"degenerate stratum under md5 split: {r}"
        assert r["top_drift_units"] <= 2 * r["tv_units"]


def test_drift_tv_strata_degenerate_totality(spark):
    """A stratum whose tokens all land in one half must come back as
    tv_units = 1e9 (total drift), not a division error — both engines
    take the explicit CASE. Exercised on a synthetic frame routed
    through the registered plan's arithmetic."""
    df = spark.createDataFrame(
        [(0, "alpha beta", "en", "only_even"),
         (2, "alpha gamma", "en", "only_even"),
         (1, "alpha beta", "en", "both"),
         (4, "alpha delta", "en", "both")],
        "doc_id BIGINT, text STRING, lang STRING, source STRING")
    import tempfile
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        # reuse the embeddings-free plan directly: it only reads documents
        rows = {(r["kind"], r["stratum"]): r["tv_units"] for r in
                REGISTRY["q_corpus_drift_tv_strata"].fn(spark, td)
                .collect()}
    # md5 parity of ids 0,2 vs 1,4: whatever the split, a stratum whose
    # docs all share one md5 parity must surface as total drift
    import hashlib
    par = {i: int(hashlib.md5(str(i).encode()).hexdigest()[:7], 16) % 2
           for i in (0, 1, 2, 4)}
    halves = {par[0], par[2]}
    if len(halves) == 1:  # only_even stratum is single-half
        assert rows[("source", "only_even")] == 1_000_000_000


def test_drift_tv_zero_half_guard(spark):
    """r11 ADVICE: q_corpus_drift_tv must raise loudly when a snapshot
    half has zero tokens instead of silently NULLing where the oracle
    errors."""
    df = spark.createDataFrame([(0, "alpha beta")],
                               "doc_id BIGINT, text STRING")
    import tempfile
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        with pytest.raises(ValueError, match="zero tokens"):
            REGISTRY["q_corpus_drift_tv"].fn(spark, td)


# --- spectral exactness guard -------------------------------------------------

def test_spectral_exactness_guard():
    """r11 ADVICE: the BIGINT Gram sums must fail loudly past the
    documented bound instead of wrapping silently where the HUGEINT
    oracle stays exact."""
    SP._check_sum_exactness(10, 1_000, "ok-case")  # far inside: no raise
    with pytest.raises(ValueError, match="exactness bound"):
        SP._check_sum_exactness(10 ** 13, 1_000_000, "test")


def test_gram_matrix_guard_wired(spark):
    """The guard rides the Gram aggregate itself: a tiny frame with a
    pathological coordinate magnitude trips it."""
    # mx^2 = 6.25e18 < 2^63-1 (every individual product is legal, so
    # the session's ANSI mode does not pre-empt the guard) but
    # n*mx^2 = 1.25e19 exceeds the bound — the conservative guard fires
    big = 2_500_000_000
    df = spark.createDataFrame([(0, [big, 0]), (1, [0, big])],
                               "vec_id BIGINT, cvec ARRAY<BIGINT>")
    with pytest.raises(ValueError, match="exactness bound"):
        SP.gram_matrix(df, 2)


# --- streaming drift twin ------------------------------------------------------

def test_stream_drift_equals_batch(spark):
    """The streaming strata drift monitor must equal the batch entry
    row for row — the additive-count identity the shared oracle rests
    on (the q_stream_pca_update discipline applied to token counts)."""
    batch = sorted(tuple(r) for r in
                   REGISTRY["q_corpus_drift_tv_strata"].fn(spark, SF)
                   .collect())
    stream = sorted(tuple(r) for r in
                    REGISTRY["q_stream_drift_tv_strata"].fn(spark, SF)
                    .collect())
    assert batch == stream and len(batch) > 0
