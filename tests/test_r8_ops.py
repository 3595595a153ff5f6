"""Round-8 operator tests: BPE token-id encoding and the streaming
upsert readback surface."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from canary_weather_etl_spark.plans.registry import load


def _naive_encode_ids(text, merges, vocab):
    """From-scratch greedy BPE encoder emitting token ids — independent of
    the Spark fold in everything but the published algorithm."""
    ids = []
    for w in [w for w in re.split(r"\s+", text.lower().strip(" "),
                                  flags=re.ASCII) if w]:
        syms = list(w) + ["</w>"]
        for a, b in merges:
            out = []
            for x in syms:  # greedy left scan
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms = out
        ids.extend(vocab.get(s, -1) for s in syms)
    return ids


def test_bpe_encode_ids_matches_naive(spark):
    from canary_weather_etl_spark.operators.bpe import bpe_encode_ids
    from canary_weather_etl_spark.plans.r8_queries import (_BPE_MERGES,
                                                           _BPE_VOCAB)
    sf = "/root/testdata/sf0.001"
    docs = load(spark, sf, "documents").select("doc_id", "text")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}

    got = {r["doc_id"]: (list(r["token_ids"]), r["n_tokens"])
           for r in bpe_encode_ids(docs, _BPE_MERGES, _BPE_VOCAB).collect()}
    assert set(got) == set(texts)
    for doc_id, text in texts.items():
        exp = _naive_encode_ids(text, _BPE_MERGES, _BPE_VOCAB)
        assert got[doc_id][0] == exp, f"doc {doc_id}"
        assert got[doc_id][1] == len(exp)
    # non-trivial corpus: merged tokens (id >= 27) must actually appear
    assert any(i >= 27 for ids, _ in got.values() for i in ids)


def test_bpe_encode_ids_empty_and_unknown(spark):
    from canary_weather_etl_spark.operators.bpe import bpe_encode_ids
    df = spark.createDataFrame(
        [(0, "ab ab"), (1, "   "), (2, ""), (3, "x9!")],
        ["doc_id", "text"])
    merges = [("a", "b"), ("ab", "</w>")]
    vocab = {"</w>": 0, "a": 1, "b": 2, "x": 3, "ab": 4, "ab</w>": 5}
    got = {r["doc_id"]: list(r["token_ids"])
           for r in bpe_encode_ids(df, merges, vocab).collect()}
    assert got[0] == [5, 5]          # both words fully merged
    assert got[1] == [] and got[2] == []  # whitespace-only and empty: []
    assert got[3] == [3, -1, -1, 0]  # '9','!' are UNK → -1, then </w>


# --- regime-choosing exact set-similarity join -------------------------------

def _pairs(df):
    return {(r["a"], r["b"], round(r["jaccard"], 9)) for r in df.collect()}


def test_setjoin_regime_chooser_both_paths_equal_exact(spark, monkeypatch):
    """The chooser must (a) pick all-pairs on a small/uniform corpus and
    prefix-filter on one whose df distribution explodes the all-pairs
    candidate count, and (b) return the IDENTICAL exact result set either
    way."""
    from canary_weather_etl_spark.operators import dedup as D
    from canary_weather_etl_spark.operators.dedup import (
        estimate_allpairs_candidates, exact_jaccard, near_dup_pairs_exact,
        shingle_sets)

    docs = load(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text").limit(60)

    sets = shingle_sets(docs, "doc_id", "text", n=2)
    exp = _pairs(exact_jaccard(sets, threshold=0.5))

    c_all = estimate_allpairs_candidates(sets)
    assert c_all > 0

    # budget above the estimate → all-pairs path taken
    monkeypatch.setattr(D, "_ALLPAIRS_BUDGET", c_all + 1)
    got_all = _pairs(near_dup_pairs_exact(
        docs, "doc_id", "text", n=2, threshold=0.5))
    # budget below the estimate → prefix-filter path forced
    monkeypatch.setattr(D, "_ALLPAIRS_BUDGET", c_all - 1)
    got_prefix = _pairs(near_dup_pairs_exact(
        docs, "doc_id", "text", n=2, threshold=0.5))
    assert got_all == exp
    assert got_prefix == exp


def test_setjoin_regime_probe_counts_exactly(spark):
    """The probe is the EXACT all-pairs candidate count: Σ C(df, 2)."""
    from canary_weather_etl_spark.operators.dedup import (
        estimate_allpairs_candidates, shingle_sets)
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b d"), (2, "a b e")], ["doc_id", "text"])
    sets = shingle_sets(df, "doc_id", "text", n=2)
    # bigrams: doc0 {a b, b c}, doc1 {a b, b d}, doc2 {a b, b e}
    # df("a b") = 3 → C(3,2)=3; the others are unique → 0
    assert estimate_allpairs_candidates(sets) == 3


# --- product quantization ANN -------------------------------------------------

def test_pq_adc_ranks_planted_neighbors_first(spark):
    """On a corpus with two well-separated clusters (and init ids covering
    both), PQ train→encode→ADC must rank every same-cluster vector above
    every far vector, and the codes must compress (m ints per vector)."""
    from canary_weather_etl_spark.operators.clustering import (
        quantize_vectors)
    from canary_weather_etl_spark.operators.similarity import (
        pq_adc_topk, pq_encode, pq_train_codebooks)

    dims = 64
    rows = []
    for i in range(40):
        if i < 10:  # near cluster (query = vec 0)
            vec = [1.0 + 0.001 * i + 0.01 * (j % 3) for j in range(dims)]
        else:       # far cluster
            vec = [50.0 + 0.001 * i + 0.01 * (j % 5) for j in range(dims)]
        rows.append((i, vec))
    # init takes the first k ids: make ids 0..3 span both clusters
    rows[2] = (2, [50.0 + 0.01 * (j % 5) for j in range(dims)])
    rows[3] = (3, [50.5 + 0.01 * (j % 7) for j in range(dims)])
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    qdf = quantize_vectors(emb)
    books = pq_train_codebooks(qdf, m=2, k=4, iterations=2)
    assert set(books) == {0, 1}
    assert all(len(c) == 32 for cents in books.values()
               for c in cents.values())

    codes = pq_encode(qdf.filter("vec_id <> 0"), books)
    assert codes.columns == ["vec_id", "code_0", "code_1"]
    assert codes.count() == 39

    q0 = [int(v) for v in
          qdf.filter("vec_id = 0").collect()[0]["qvec"]]
    top = pq_adc_topk(codes, q0, books, k_top=7).collect()
    got = [r["vec_id"] for r in top]
    near = {1, 4, 5, 6, 7, 8, 9}  # ids 2,3 were moved to the far cluster
    assert set(got) == near, got
    # ranks are 1..k and ADC distances are non-decreasing
    assert [r["rank"] for r in top] == list(range(1, 8))
    adcs = [r["adc_units"] for r in top]
    assert adcs == sorted(adcs)


# --- df.observe: metrics without a second pass --------------------------------

def test_observation_metrics_ride_the_action(spark):
    """`df.observe` collects aggregate metrics DURING the action — the
    Spark-native way to audit a pipeline stage (row counts, null rates)
    without paying a second scan. The engine's curation pipeline can wrap
    any stage this way."""
    from pyspark.sql import Observation

    e = load(spark, "/root/testdata/sf0.001", "events")
    obs = Observation("audit")
    # NOTE: observed metrics must be accumulator-computable — no DISTINCT
    # aggregates (Spark rejects count_distinct here); approx_ is allowed
    audited = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("int")).alias("n_null_value"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"))
    out = audited.filter(F.col("event_type") == "purchase").count()
    m = obs.get
    assert m["n_rows"] == e.count()
    lo, hi = e.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    assert (m["min_user"], m["max_user"]) == (lo, hi)
    assert m["n_null_value"] >= 0
    assert out > 0


# --- the floor-clamp closed form is an identity -------------------------------

def test_capped_balance_closed_form_identity():
    """Property: for ANY integer delta sequence, the stateful recurrence
    b_t = max(0, b_{t-1} + d_t) equals prefix_t − min(0, running_min of
    prefix) — the identity q_capped_balance's two-window plan relies on.
    Pure-Python hypothesis sweep (the Spark plan itself is hash-checked
    against the DuckDB oracle; this pins the MATH)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.integers(min_value=-1000, max_value=1000),
                    max_size=50))
    def run(deltas):
        bal, loop = 0, []
        for d in deltas:
            bal = max(0, bal + d)
            loop.append(bal)
        pre, run_min, closed = 0, 0, []
        for d in deltas:
            pre += d
            run_min = min(run_min, pre)
            closed.append(pre - min(0, run_min))
        assert closed == loop

    run()


# --- fractional-epoch repeat mixing ------------------------------------------

def test_epoch_repeat_mix_invariants(spark):
    from canary_weather_etl_spark.plans.curation import q_epoch_repeat_mix
    sf = "/root/testdata/sf0.001"
    rows = q_epoch_repeat_mix(spark, sf).collect()
    docs = load(spark, sf, "documents").select("doc_id", "source").collect()

    by_doc = {}
    for r in rows:
        by_doc.setdefault((r["doc_id"], r["source"]), []).append(r)
    # every doc appears, with copy_idx exactly 1..n_copies
    assert set(by_doc) == {(d["doc_id"], d["source"]) for d in docs}
    import hashlib
    for (doc_id, source), rs in by_doc.items():
        sn = int(source[3:])
        n = rs[0]["n_copies"]
        assert sorted(x["copy_idx"] for x in rs) == list(range(1, n + 1))
        assert all(x["n_copies"] == n for x in rs)
        assert all(x["epochs_x1000"] == 1000 + sn * 125 for x in rs)
        # growth stability: n_copies is a pure function of (doc_id, source)
        h4 = hashlib.md5(str(doc_id).encode()).hexdigest()[:4]
        thr = format((sn % 8) * 8192, "04x")
        assert n == 1 + sn // 8 + (1 if h4 < thr else 0)
        assert 1 <= n <= 4  # epochs capped at 3.375 for src19


def test_stream_upsert_replay_idempotent(spark, tmp_path):
    """Streaming upsert end-to-end + idempotence replay (r8 verdict #7):
    two overlapping batches land new-wins through stream_upsert_sink; then
    batch2's drop is RE-RUN through a fresh stream (fresh checkpoint)
    against the same table. The table content must be unchanged, and
    partitions batch2 never touches must be BYTE-identical — the upsert
    rewrites only touched partitions, so at 100 TB a replayed window
    costs O(touched partitions), never a table rewrite."""
    import hashlib
    import os

    from canary_weather_etl_spark.streaming.jobs import (drain,
                                                         stream_upsert_sink)

    def mk(rows):
        return (spark.createDataFrame(rows, ["location", "date", "metric"])
                .withColumn("date", F.to_date("date"))
                .withColumn("island", F.lit("isl"))
                .withColumn("location_name", F.col("location"))
                .withColumn("year", F.year("date"))
                .withColumn("month", F.month("date")))

    # rows1 spans TWO partitions (2024-01, 2024-02); rows2 touches only 02
    rows1 = ([("loc_a", f"2024-01-{i:02d}", 1.0) for i in range(1, 11)]
             + [("loc_a", f"2024-02-{i:02d}", 1.0) for i in range(1, 6)])
    rows2 = [("loc_a", f"2024-02-{i:02d}", 2.0) for i in range(3, 9)]

    drops = str(tmp_path / "drops")
    table = str(tmp_path / "table")
    mk(rows1).coalesce(1).write.mode("overwrite").parquet(drops)
    schema = spark.read.parquet(drops).schema
    drain(stream_upsert_sink(
        spark.readStream.schema(schema).parquet(drops), table,
        str(tmp_path / "ckpt1"), keys=("location", "date")))
    mk(rows2).coalesce(1).write.mode("append").parquet(drops)
    drain(stream_upsert_sink(
        spark.readStream.schema(schema).parquet(drops), table,
        str(tmp_path / "ckpt1"), keys=("location", "date")))

    def file_hashes():
        out = {}
        for root, _, files in os.walk(table):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    with open(p, "rb") as fh:
                        out[os.path.relpath(p, table)] = \
                            hashlib.md5(fh.read()).hexdigest()
        return out

    def content():
        return sorted(
            (r["location"], str(r["date"]), r["metric"])
            for r in spark.read.parquet(table)
            .select("location", "date", "metric").collect())

    before_files, before_rows = file_hashes(), content()
    # new-wins landed before we test the replay
    assert ("loc_a", "2024-02-04", 2.0) in before_rows
    assert ("loc_a", "2024-01-04", 1.0) in before_rows
    assert len(before_rows) == 10 + 8

    # replay: SAME batch2 rows, fresh drop dir, fresh checkpoint
    drops2 = str(tmp_path / "drops_replay")
    mk(rows2).coalesce(1).write.mode("overwrite").parquet(drops2)
    drain(stream_upsert_sink(
        spark.readStream.schema(schema).parquet(drops2), table,
        str(tmp_path / "ckpt_replay"), keys=("location", "date")))

    assert content() == before_rows  # logically unchanged
    after_files = file_hashes()
    untouched = {p: h for p, h in before_files.items() if "month=1" in p}
    assert untouched  # the January partition exists and has files
    assert {p: h for p, h in after_files.items() if "month=1" in p} \
        == untouched  # byte-identical: replay never rewrote it


def test_bpe_decode_oov_degrades_to_unk_marker(spark):
    """Decode totality: out-of-vocab characters (id -1 sentinel) must
    surface as a VISIBLE UNK marker, never a runtime crash — element_at's
    INVALID_INDEX_OF_ZERO fires even under try_element_at for (t+1)=0, so
    the sentinel path needs the explicit WHEN guard inside
    bpe_decode_expr."""
    from canary_weather_etl_spark.operators.bpe import (bpe_decode_expr,
                                                        bpe_encode_ids)
    from canary_weather_etl_spark.plans.r8_queries import (_BPE_MERGES,
                                                           _BPE_VOCAB)
    # digits are not in the character vocab → -1 ids from the encoder
    docs = spark.createDataFrame([(1, "the 123 cat")], ["doc_id", "text"])
    enc = bpe_encode_ids(docs, _BPE_MERGES, _BPE_VOCAB)
    ids = enc.collect()[0]["token_ids"]
    assert -1 in ids  # fixture really exercises the OOV path
    out = enc.select(bpe_decode_expr(_BPE_VOCAB).alias("t")).collect()
    assert "⁇UNK⁇" in out[0]["t"]          # visible, detectable
    # and a beyond-vocab positive id also degrades, not crashes
    big = spark.createDataFrame([(1, [10**6])],
                                "doc_id INT, token_ids ARRAY<BIGINT>")
    assert big.select(bpe_decode_expr(_BPE_VOCAB).alias("t")) \
        .collect()[0]["t"] == "⁇UNK⁇"
    # ids at/past int32 (ADVICE r9): (t+1).cast('int') would THROW under
    # ANSI mode — the t >= len(vocab) WHEN guard must short-circuit the
    # cast entirely, so even 2^31-1 and 2^40 decode to the unk marker
    huge = spark.createDataFrame([(1, [2**31 - 1, 2**40])],
                                 "doc_id INT, token_ids ARRAY<BIGINT>")
    assert huge.select(bpe_decode_expr(_BPE_VOCAB).alias("t")) \
        .collect()[0]["t"] == "⁇UNK⁇⁇UNK⁇"
    # gapped or duplicated-id vocabs fail at expression-BUILD time with
    # the dense-ids message, not a KeyError mid-lookup
    import pytest as _pytest
    with _pytest.raises(ValueError, match="dense token ids"):
        bpe_decode_expr({"a": 0, "b": 2})
    with _pytest.raises(ValueError, match="dense token ids"):
        bpe_decode_expr({"a": 0, "b": 0})
