"""Round-10 operator tests: shingle containment pairs and the
integer-exact quality logit score."""

from __future__ import annotations

from pyspark.sql import functions as F

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
    sh = D.shingle_table(docs, "doc_id", "text", n=2)

    jac = {(r["a"], r["b"]): r["jaccard"]
           for r in D.exact_jaccard(sh, threshold=0.0).collect()}
    assert jac.get((1, 2), 0.0) < 0.2  # jaccard collapses with size gap

    got = {(r["contained"], r["container"]): r for r in
           D.containment_pairs(sh, threshold_units=900_000).collect()}
    assert (1, 2) in got  # ...but containment sees it
    r = got[(1, 2)]
    # every one of doc 1's 7 bigrams appears in doc 2
    assert r["sz_contained"] == 7 and r["common"] == 7
    assert r["containment_units"] == 1_000_000
    # asymmetric: doc 2 is NOT contained in doc 1
    assert (2, 1) not in got
    assert all(a != 3 and b != 3 for a, b in got)


def test_containment_regimes_identical_and_chooser(spark):
    """The two exact plans (naive count-aggregate vs prefix-filter +
    recount) are bit-identical on both vocabulary shapes, and the auto
    probe picks the cheap one for each: naive on the flat-vocab fixture
    (every shingle common — candidates ≈ all sharing pairs, recount
    would multiply by set size), prefix on a Zipf-ish corpus (rare-tail
    prefixes are selective)."""
    from canary_weather_etl_spark.plans.registry import load_par

    def run(sh, regime):
        return {(r["contained"], r["container"], r["common"],
                 r["containment_units"])
                for r in D.containment_pairs(
                    sh, threshold_units=800_000, regime=regime).collect()}

    # flat vocab: the sf0.01 documents fixture
    sh_flat = D.shingle_table(load_par(spark, SF, "documents"),
                              "doc_id", "text", n=2)
    naive = run(sh_flat, "naive")
    assert naive and naive == run(sh_flat, "prefix") == run(sh_flat, "auto")

    # Zipf-ish: shared boilerplate + mostly-unique bodies; doc 100
    # contained in doc 101
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler + " " + " ".join(f"u{i}w{j}" for j in range(30)))
            for i in range(150)]
    rows.append((1000, " ".join(f"core{j} fill{j}" for j in range(20))))
    rows.append((1001, rows[-1][1] + " " + boiler))
    zipf = spark.createDataFrame(rows, "doc_id INT, text STRING")
    sh_zipf = D.shingle_table(zipf, "doc_id", "text", n=2)
    nz = run(sh_zipf, "naive")
    assert nz == run(sh_zipf, "prefix") == run(sh_zipf, "auto")
    assert any(a == 1000 and b == 1001 for a, b, *_ in nz)

    # chooser picks the measured-cheap plan on each shape: replicate its
    # integrals and assert the inequality direction differs
    def integrals(sh, thr=800_000):
        from pyspark.sql import Window, functions as F
        sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
        dftab = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        w = Window.partitionBy("doc").orderBy("df", "shingle")
        pref = (sh.join(dftab, "shingle")
                .withColumn("rn", F.row_number().over(w))
                .join(sizes, "doc")
                .filter(F.col("rn") <= F.col("sz")
                        - F.expr(f"({thr} * sz + 999999) DIV 1000000") + 1)
                .select("doc", "shingle"))
        vn = dftab.agg(F.sum(F.col("df") * F.col("df"))).collect()[0][0]
        gram = sh.count()
        nd = sizes.count()
        vp = (pref.join(dftab, "shingle").agg(F.sum("df"))
              .collect()[0][0] or 0) * (1 + 2 * gram / nd)
        return vn, vp

    vn_f, vp_f = integrals(sh_flat)
    assert vn_f <= vp_f          # flat vocab -> naive
    vn_z, vp_z = integrals(sh_zipf)
    assert vp_z < vn_z           # Zipf -> prefix


def test_containment_mutual_for_identical_docs(spark):
    docs = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two three four")],
        "doc_id INT, text STRING")
    sh = D.shingle_table(docs, "doc_id", "text", n=2)
    got = {(r["contained"], r["container"]) for r in
           D.containment_pairs(sh, threshold_units=1_000_000).collect()}
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
