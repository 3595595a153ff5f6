"""Round-10 operator tests: shingle containment pairs and the
integer-exact quality logit score."""

from __future__ import annotations

from canary_weather_etl_spark.operators import dedup as D
from canary_weather_etl_spark.plans.registry import REGISTRY

SF = "/root/testdata/sf0.01"


def test_containment_catches_what_jaccard_misses(spark):
    """The motivating case: a doc wrapped in heavy boilerplate has
    containment 1.0 toward its container while Jaccard falls below any
    near-dup threshold — the LSH/Jaccard path cannot see the pair, the
    containment operator must."""
    core = "alpha beta gamma delta epsilon zeta eta theta"
    boiler = " ".join(f"nav{i} item{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, core), (2, core + " " + boiler), (3, "totally unrelated words"
          " about other things entirely")],
        "doc_id INT, text STRING")
    sets = D.shingle_sets(docs, "doc_id", "text", n=2)

    jac = {(r["a"], r["b"]): r["jaccard"]
           for r in D.exact_jaccard(sets, threshold=0.0).collect()}
    assert jac.get((1, 2), 0.0) < 0.2  # jaccard collapses with size gap

    got = {(r["contained"], r["container"]): r for r in
           D.containment_pairs(sets, threshold_units=900_000).collect()}
    assert (1, 2) in got  # ...but containment sees it
    r = got[(1, 2)]
    # every one of doc 1's 7 bigrams appears in doc 2
    assert r["sz_contained"] == 7 and r["common"] == 7
    assert r["containment_units"] == 1_000_000
    # asymmetric: doc 2 is NOT contained in doc 1
    assert (2, 1) not in got
    assert all(a != 3 and b != 3 for a, b in got)


def _probe_reference(sets, thr):
    """Pure-Python replay of the containment probe's four integers from
    the collected shingle sets: Σ df², shingle rows, docs, and Σ df over
    each doc's sz − ceil(thr·sz/1e6) + 1 rarest (df, shingle) shingles."""
    docs = {r["doc"]: r["sh"] for r in sets.collect() if r["sh"]}
    df = {}
    for sh in docs.values():
        for s in sh:
            df[s] = df.get(s, 0) + 1
    v_join = 0
    for sh in docs.values():
        keep = len(sh) - (thr * len(sh) + 999_999) // 1_000_000 + 1
        v_join += sum(d for d, _ in sorted((df[s], s) for s in sh)[:keep])
    return (sum(d * d for d in df.values()), sum(df.values()), len(docs),
            v_join)


def test_containment_regimes_identical_and_chooser(spark):
    """The two exact plans (shared-shingle count vs prefix candidates +
    verification) are bit-identical on both vocabulary shapes, and the
    operator's own probe picks the cheap one for each: the count on the
    flat-vocab fixture (every shingle common — candidates ≈ all sharing
    pairs, verification would multiply by set size), prefix on a
    Zipf-ish corpus (rare-tail prefixes are selective). The probe's four
    integers equal a pure-Python replay of their definition."""
    from canary_weather_etl_spark.plans.registry import load_par

    def rows(df):
        return {(r["contained"], r["container"], r["common"],
                 r["containment_units"]) for r in df.collect()}

    def run(sets, plan):
        if plan == "naive":
            return rows(D.exact_containment(sets, threshold_units=800_000))
        if plan == "prefix":
            return rows(D.verify_pairs_containment(
                sets, D.containment_candidates(sets, 800_000), 800_000))
        return rows(D.containment_pairs(sets, threshold_units=800_000))

    # flat vocab: the sf0.01 documents fixture
    sets_flat = D.shingle_sets(load_par(spark, SF, "documents"),
                               "doc_id", "text", n=2)
    naive = run(sets_flat, "naive")
    assert naive and naive == run(sets_flat, "prefix") \
        == run(sets_flat, "auto")

    # Zipf-ish: shared boilerplate + mostly-unique bodies; doc 100
    # contained in doc 101
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows_z = [(i, boiler + " " + " ".join(f"u{i}w{j}" for j in range(30)))
              for i in range(150)]
    rows_z.append((1000, " ".join(f"core{j} fill{j}" for j in range(20))))
    rows_z.append((1001, rows_z[-1][1] + " " + boiler))
    zipf = spark.createDataFrame(rows_z, "doc_id INT, text STRING")
    sets_zipf = D.shingle_sets(zipf, "doc_id", "text", n=2)
    nz = run(sets_zipf, "naive")
    assert nz == run(sets_zipf, "prefix") == run(sets_zipf, "auto")
    assert any(a == 1000 and b == 1001 for a, b, *_ in nz)

    # the operator's own decision, from its own one-job probe; the
    # literals are the integers the earlier three-collect probe gave
    probe_flat = D._containment_probe(sets_flat, 800_000)
    assert probe_flat == _probe_reference(sets_flat, 800_000) \
        == (761467, 25709, 500, 121091)
    assert not D._containment_prefers_prefix(probe_flat)  # flat -> naive
    probe_zipf = D._containment_probe(sets_zipf, 800_000)
    assert probe_zipf == _probe_reference(sets_zipf, 800_000) \
        == (255468, 6240, 152, 1387)
    assert D._containment_prefers_prefix(probe_zipf)      # Zipf -> prefix


def test_containment_long_doc_no_int_overflow(spark):
    """A doc of 3000 distinct bigrams: T·sz (900000 × 2999) passes 2^31,
    so the prefix bound must be taken in bigint. Under ANSI an INT
    product raises ARITHMETIC_OVERFLOW; both plans, the probe and the
    operator must instead find both directions with the exact counts."""
    long_text = " ".join(f"w{j}" for j in range(3000))
    docs = spark.createDataFrame(
        [(1, long_text), (2, long_text + " tail1 tail2 tail3"),
         (3, "short unrelated text")],
        "doc_id INT, text STRING")
    sets = D.shingle_sets(docs, "doc_id", "text", n=2)
    conf = spark.conf
    prev = conf.get("spark.sql.ansi.enabled")
    conf.set("spark.sql.ansi.enabled", "true")
    try:
        plans = {
            "auto": D.containment_pairs(sets, threshold_units=900_000),
            "naive": D.exact_containment(sets, 900_000),
            "prefix": D.verify_pairs_containment(
                sets, D.containment_candidates(sets, 900_000), 900_000),
        }
        got = {k: {(r["contained"], r["container"], r["common"],
                    r["sz_contained"], r["containment_units"])
                   for r in df.collect()} for k, df in plans.items()}
        probe = D._containment_probe(sets, 900_000)
    finally:
        conf.set("spark.sql.ansi.enabled", prev)
    # doc 1 is wholly inside doc 2; doc 2 is 2999/3002 inside doc 1
    want = {(1, 2, 2999, 2999, 1_000_000), (2, 1, 2999, 3002, 999_000)}
    assert got["naive"] == got["prefix"] == got["auto"] == want
    assert probe == _probe_reference(sets, 900_000)


def test_containment_mutual_for_identical_docs(spark):
    docs = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two three four")],
        "doc_id INT, text STRING")
    sets = D.shingle_sets(docs, "doc_id", "text", n=2)
    got = {(r["contained"], r["container"]) for r in
           D.containment_pairs(sets, threshold_units=1_000_000).collect()}
    assert got == {(1, 2), (2, 1)}  # both directions, by design


def test_quality_logit_matches_python_replay(spark):
    """Replay the integer fixed-point pipeline in pure Python on a few
    fixture docs — every unit column and the logit must be bit-equal
    (the same replay the oracle SQL performs)."""
    import re

    from canary_weather_etl_spark.operators.text import STOPWORDS
    from canary_weather_etl_spark.plans.r10_queries import _QW

    out = {r["doc_id"]: r for r in
           REGISTRY["q_quality_logit_score"].fn(spark, SF).collect()}
    docs = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(f"{SF}/documents.parquet")
            .limit(50).collect()}
    assert set(docs) <= set(out)
    for doc_id, text in docs.items():
        toks = re.split(r"\s+", text.strip())
        low = re.split(r"\s+", text.strip().lower())
        tok, chars = len(toks), len(text)
        stop = sum(1 for t in low if t in STOPWORDS)
        punct = len(re.findall(r"[^\w\s]", text))
        dtok = len(set(toks))
        nonspace = len(re.sub(r"\s+", "", text))
        exp = {
            "tok_capped": min(tok, 1000),
            "stop_units": 0 if tok == 0 else 1_000_000 * stop // tok,
            "punct_units": 0 if chars == 0 else 1_000_000 * punct // chars,
            "ttr_units": 0 if tok == 0 else 1_000_000 * dtok // tok,
            "awl_units": 0 if tok == 0 else 100_000 * nonspace // tok,
        }
        logit = (_QW["bias"] + _QW["tok"] * exp["tok_capped"]
                 + _QW["stop"] * exp["stop_units"]
                 + _QW["punct"] * exp["punct_units"]
                 + _QW["ttr"] * exp["ttr_units"]
                 + _QW["awl"] * exp["awl_units"])
        row = out[doc_id]
        for k, v in exp.items():
            assert row[k] == v, (doc_id, k, row[k], v)
        assert row["logit_units"] == logit
        assert row["keep"] == (logit >= 0)


def test_quality_logit_total_on_degenerate_docs(spark):
    """Zero-token / empty / punctuation-only docs score without error
    (the DIV guards), and the gate rejects them."""
    docs = spark.createDataFrame(
        [(1, "", "s"), (2, "   ", "s"), (3, "!!! ??? ...", "s"),
         (4, "x", "s")],
        "doc_id INT, text STRING, source STRING")
    from canary_weather_etl_spark.plans import r10_queries as R

    # run the same expression pipeline on a local frame
    orig = R.load
    try:
        R.load = lambda spark, sf, name: docs
        rows = {r["doc_id"]: r for r in
                REGISTRY["q_quality_logit_score"].fn(spark, "unused")
                .collect()}
    finally:
        R.load = orig
    assert set(rows) == {1, 2, 3, 4}
    assert not any(rows[i]["keep"] for i in rows)


def test_quality_logit_plan_is_one_narrow_pass(spark):
    """No shuffle, no UDF: the whole score is a single projected scan."""
    df = REGISTRY["q_quality_logit_score"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_stream_admission_sees_prior_batch_admits(spark, tmp_path):
    """The property that makes it INCREMENTAL: a batch-2 doc whose only
    near-dup partner is a batch-1 ADMIT must come back near_dup — the
    postings state evolved between micro-batches. Also: exact dup of a
    seed-corpus doc is flagged by the md5 gate (the sf0.01 oracle run
    has no exact_dup verdict), and seed docs never appear in the log."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "s"),   # batch A: admit
        (3, "completely different words here now", "s"),   # batch A: exact
        (1, "alpha beta gamma delta epsilon eta", "s"),    # batch B
        (2, "completely different words here now", "s"),   # seed corpus
        (5, "unrelated seed content entirely other", "s"),  # seed corpus
    ]
    spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in
           REGISTRY["q_stream_admission_postings"].fn(
               spark, str(tmp_path)).collect()}
    assert set(out) == {0, 1, 3}              # seed docs never screened
    assert out[0]["verdict"] == "admit"
    assert out[3]["verdict"] == "exact_dup"   # byte-equal to seed doc 2
    # doc 1's only partner is doc 0 — admitted in the PREVIOUS batch
    assert out[1]["verdict"] == "near_dup" and out[1]["n_near"] == 1
