"""Round-13 tests: canonical shingle semantics (drop empty tokens) agreed
between the engine's word_ngrams and the DuckDB oracle shape, plus the
round's hardening items."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from canary_weather_etl_spark.operators.dedup import word_ngrams
from canary_weather_etl_spark.plans.r10_queries import _grams_sql

# The r12 ADVICE divergence class: trim() strips spaces only, so text
# bounded by tab/newline used to make the engine (drops empty tokens) and
# the unfiltered-split oracles (kept them) disagree on shingle sets.
EDGE_DOCS = [
    (1, "\tfoo bar"),          # leading tab → old oracle emitted ' foo'
    (2, "bar baz\n"),          # trailing newline → old oracle 'bar '
    (3, "  two  words "),      # leading/trailing SPACES — trim handles
    (4, "a  b\tc\nd"),         # interior whitespace runs
    (5, "\t\n"),               # all-whitespace text
    (6, "one"),                # single token → no bigram
    (7, ""),                   # empty text
    (8, "\nx\ty z\t"),         # both ends non-space whitespace
]


def test_word_ngrams_tab_edges_match_oracle(spark):
    """Engine shingles == _grams_sql oracle shingles on the exact edge
    class the r12 ADVICE flagged (leading/trailing tab/newline)."""
    sdf = spark.createDataFrame(EDGE_DOCS, "doc_id BIGINT, text STRING")
    eng = {
        (r["doc_id"], r["shingle"])
        for r in sdf.select(
            "doc_id", F.explode(word_ngrams("text", 2)).alias("shingle")
        ).collect()
    }

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO d VALUES (?, ?)", EDGE_DOCS)
        sql = f"WITH {_grams_sql('d', 'g')} SELECT doc_id, shingle FROM g"
        ora = set(map(tuple, con.execute(sql).fetchall()))
    finally:
        con.close()

    assert eng == ora
    # the divergence case specifically: no empty-token shingles anywhere
    assert (1, "foo bar") in eng and (1, " foo") not in eng
    assert (2, "bar baz") in eng and (2, "bar ") not in eng


@pytest.mark.parametrize("n", [2, 3, 4])
def test_word_ngrams_matches_filtered_split_reference(spark, n):
    """word_ngrams == the canonical split → drop-empties → positional
    n-gram → distinct reference shape, for every n used in-repo."""
    sdf = spark.createDataFrame(EDGE_DOCS + [(9, None)],
                                "doc_id BIGINT, text STRING")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"),
                    lambda x: x != F.lit(""))
    m = F.size(toks) - (n - 1)
    ref = F.transform(
        F.sequence(F.lit(1), F.greatest(m, F.lit(0))),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j)
                                     for j in range(n)]),
    )
    ref = F.when(m >= 1, ref).otherwise(F.array().cast("array<string>"))
    ref = F.array_distinct(ref)
    bad = (sdf.select("doc_id", ref.alias("ref"),
                      word_ngrams("text", n).alias("got"))
           .filter(~F.col("ref").eqNullSafe(F.col("got")))
           .collect())
    assert not bad, bad


def test_strata_drift_exactness_guard_fires(spark):
    """A per-stratum token total past ~9.2e9 must raise LOUDLY. On an
    ANSI deployment (this container) the 1e9-scaled multiply itself
    raises ARITHMETIC_OVERFLOW before the agg; on a non-ANSI deployment
    the multiply wraps silently and the raise_error guard in the agg is
    the loud path — both are failures, never quiet wrong units."""
    from canary_weather_etl_spark.plans.r12_queries import (
        _strata_drift_from_counts,
    )

    over = (1 << 63) // 1_000_000_000 + 1
    cnt = spark.createDataFrame(
        [("source", "web", "the", over, 5)],
        "kind STRING, stratum STRING, term STRING, c0 BIGINT, c1 BIGINT")
    with pytest.raises(Exception,
                       match="exactness bound|ARITHMETIC_OVERFLOW"):
        _strata_drift_from_counts(cnt).collect()


def test_strata_drift_agg_guard_fires_non_ansi(spark):
    """The raise_error branch itself, exercised directly: with ANSI off
    (the deployment the guard exists for) the multiply wraps quietly and
    the agg guard must be what stops the query."""
    from canary_weather_etl_spark.plans.r12_queries import (
        _strata_drift_from_counts,
    )

    over = (1 << 63) // 1_000_000_000 + 1
    cnt = spark.createDataFrame(
        [("source", "web", "the", over, 5)],
        "kind STRING, stratum STRING, term STRING, c0 BIGINT, c1 BIGINT")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="exactness bound"):
            _strata_drift_from_counts(cnt).collect()
    finally:
        spark.conf.unset("spark.sql.ansi.enabled")


def test_strata_drift_guard_passes_normal_counts(spark):
    from canary_weather_etl_spark.plans.r12_queries import (
        _strata_drift_from_counts,
    )

    cnt = spark.createDataFrame(
        [("source", "web", "the", 6, 4), ("source", "web", "cat", 2, 4),
         ("lang", "en", "the", 8, 8)],
        "kind STRING, stratum STRING, term STRING, c0 BIGINT, c1 BIGINT")
    rows = {(r["kind"], r["stratum"]): r
            for r in _strata_drift_from_counts(cnt).collect()}
    # web: p0 = (6/8, 2/8), p1 = (4/8, 4/8) → TV = 1/4 → 250M units
    assert rows[("source", "web")]["tv_units"] == 250_000_000
    assert rows[("lang", "en")]["tv_units"] == 0


def test_corpus_fingerprint_sees_text_only_edit(spark, tmp_path):
    """r12 ADVICE: same ids + row count but different TEXT must change
    the admission seed-state fingerprint (no stale cache hit)."""
    from canary_weather_etl_spark.plans.r12_queries import (
        _corpus_fingerprint,
    )

    a = spark.createDataFrame([(1, "aa"), (2, "bb")],
                              "doc_id BIGINT, text STRING")
    b = spark.createDataFrame([(1, "aa"), (2, "bX")],
                              "doc_id BIGINT, text STRING")
    d = str(tmp_path)
    assert _corpus_fingerprint(a, d) != _corpus_fingerprint(b, d)
    assert _corpus_fingerprint(a, d) == _corpus_fingerprint(a, d)


def test_gram_matrix_empty_frame_raises(spark):
    from canary_weather_etl_spark.operators.spectral import gram_matrix

    empty = spark.createDataFrame(
        [], "vec_id BIGINT, cvec ARRAY<BIGINT>")
    with pytest.raises(ValueError, match="centered frame is empty"):
        gram_matrix(empty, 4)


def test_drift_adjusted_mix_downweights_drifting_source(spark):
    """The decomposition's stated purpose: a source whose term
    distribution moved between snapshot halves loses sampling mass
    relative to a stable source of the SAME size."""
    import hashlib

    from canary_weather_etl_spark.plans.r13_queries import (
        mix_weights_drift_adjusted,
    )

    def half(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:7],
                   16) % 2

    rows = []
    for i in range(1, 41):
        # stable source: identical text in both halves → tv = 0
        rows.append((i, "common words here", "en", "stable"))
    for i in range(41, 81):
        # drifted source: disjoint vocab per half → tv = 1e9
        text = "aaa bbb ccc" if half(i) == 0 else "zzz yyy xxx"
        rows.append((i, text, "en", "drifty"))
    d = spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING")

    out = {r["source"]: r for r in mix_weights_drift_adjusted(d).collect()}
    assert out["stable"]["n_docs"] == out["drifty"]["n_docs"] == 40
    assert out["stable"]["tv_units"] == 0
    # disjoint 3-term vocabs: fixed-point floor gives 6 × (1e9 div 3)
    # summed then halved = 999999999 — one unit under the exact TV of 1
    assert out["drifty"]["tv_units"] == 999_999_999
    # equal sizes → base temperature weights tie at 0.5; the drift
    # damping must break the tie entirely: total drift → zero mass
    assert out["stable"]["weight"] == 1.0
    assert out["drifty"]["weight"] == 0.0
    assert out["drifty"]["docs_per_epoch"] == 0


def test_banded_admission_vs_exact_screen(spark, sf_dir):
    """The banded screen's contract vs the exact postings/rescan screen:
    the md5 exact gate is identical, banded near-dups are a SUBSET of
    the exact screen's (banding can only miss pairs, never invent them
    — verification is exact), per-doc n_near never exceeds the exact
    count, and recall on the fixture clears 0.9 (measured 1.0: the
    fixture's near-dups sit far above the 8-band/32-perm S-curve
    midpoint)."""
    import os
    import tempfile

    import canary_weather_etl_spark.operators.dedup as D
    from canary_weather_etl_spark.plans.registry import load

    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") >= 200).select("doc_id", "text")
    batch = d.filter(F.col("doc_id") < 200).select("doc_id", "text")

    with tempfile.TemporaryDirectory() as td:
        cdir = os.path.join(td, "corpus")
        corpus.write.parquet(cdir)
        exact = {r["doc_id"]: (r["verdict"], r["n_near"])
                 for r in D.admission_screen_batch(
                     batch, cdir, state_dir=None,
                     threshold=0.5, n=2).collect()}
        sdir = os.path.join(td, "state")
        D.admission_state_init_banded(corpus, sdir, n=2)
        banded = {r["doc_id"]: (r["verdict"], r["n_near"])
                  for r in D.admission_screen_batch_banded(
                      batch, sdir, threshold=0.5, n=2).collect()}

    assert set(banded) == set(exact)
    ex_gate = {k for k, v in exact.items() if v[0] == "exact_dup"}
    bd_gate = {k for k, v in banded.items() if v[0] == "exact_dup"}
    assert bd_gate == ex_gate
    ex_near = {k for k, v in exact.items() if v[0] == "near_dup"}
    bd_near = {k for k, v in banded.items() if v[0] == "near_dup"}
    assert bd_near <= ex_near          # misses only, never inventions
    assert ex_near and len(bd_near & ex_near) / len(ex_near) >= 0.9
    assert all(banded[k][1] <= exact[k][1] for k in banded)


def test_banded_admission_writeback_evolves_state(spark, sf_dir):
    """The banded screen's writeback path: batch 2 must see batch 1's
    ADMITTED docs as corpus members — an exact re-copy of an admitted
    batch-1 doc gates as exact_dup in batch 2, and a near-copy verdicts
    near_dup, while state for dropped batch-1 docs is NOT written."""
    import os
    import tempfile

    import canary_weather_etl_spark.operators.dedup as D
    from canary_weather_etl_spark.plans.registry import load

    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") >= 200).select("doc_id", "text")
    # batch 1: 10 fresh docs (will admit — token-prefixed so they share
    # nothing with the corpus) + 1 exact dup of a corpus doc (dropped)
    base = d.filter(F.col("doc_id") < 10).select("doc_id", "text")
    fresh = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                        F.regexp_replace("text", r"(\S+)", "fzx$1")
                        .alias("text"))
    dup_of_corpus = (corpus.limit(1)
                     .select(F.lit(2_000_000).alias("doc_id"), "text"))
    batch1 = fresh.unionByName(dup_of_corpus)

    # batch 2: exact re-copy of one admitted batch-1 doc, a near-copy
    # (appended tail) of another, and a re-copy of the DROPPED doc's
    # text (must match the corpus original, not evidence of bad state)
    b1 = {r["doc_id"]: r["text"] for r in batch1.collect()}
    batch2 = spark.createDataFrame(
        [(3_000_001, b1[1_000_000]),                      # exact of admit
         (3_000_002, b1[1_000_001] + " zzz aaa zzz bbb"),  # near of admit
         (3_000_003, "totally novel qqq www eee rrr ttt yyy uuu iii")],
        "doc_id BIGINT, text STRING")

    with tempfile.TemporaryDirectory() as td:
        sdir = os.path.join(td, "state")
        D.admission_state_init_banded(corpus, sdir, n=2)
        v1 = {r["doc_id"]: r["verdict"]
              for r in D.admission_screen_batch_banded(
                  batch1, sdir, threshold=0.5, n=2,
                  writeback=True).collect()}
        assert v1[1_000_000] == "admit" and v1[1_000_001] == "admit"
        assert v1[2_000_000] == "exact_dup"
        v2 = {r["doc_id"]: r["verdict"]
              for r in D.admission_screen_batch_banded(
                  batch2, sdir, threshold=0.5, n=2).collect()}
    assert v2[3_000_001] == "exact_dup"   # batch-1 admit now in state
    assert v2[3_000_002] == "near_dup"    # banded candidates find it
    assert v2[3_000_003] == "admit"


def test_drift_adjusted_mix_all_drifted_yields_null_not_crash(spark):
    """z = 0 (every source fully drifted) must NOT crash under ANSI
    (bare score/z raises DIVIDE_BY_ZERO) — both engines yield NULL
    weight/docs_per_epoch rows, the DuckDB behavior."""
    import hashlib

    from canary_weather_etl_spark.plans.r13_queries import (
        mix_weights_drift_adjusted,
    )

    def half(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:7],
                   16) % 2

    # a VANISHED stratum (every doc in one md5-parity half) is the case
    # that yields tv_units EXACTLY 1e9 (the totality CASE) and hence
    # damp = 0; disjoint-vocab halves only reach 999999999 by the
    # fixed-point floor
    ids = [i for i in range(1, 200) if half(i) == 0][:40]
    rows = [(i, "aaa bbb ccc", "en", "only_source") for i in ids]
    d = spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING")
    out = mix_weights_drift_adjusted(d).collect()
    assert len(out) == 1
    assert out[0]["tv_units"] == 1_000_000_000
    assert out[0]["weight"] is None
    assert out[0]["docs_per_epoch"] is None


def test_banded_sets_fetch_prunes_doc_buckets(spark, sf_dir):
    """The banded screen's candidate-verification fetch reads only the
    candidate docs' bucket partitions (the sparse probe set the raw
    shingle-postings layout can't have): the doc-bucket IN filter must
    reach the sets scan as PartitionFilters, and a small candidate list
    must touch strictly fewer than all buckets."""
    import os
    import shutil
    import tempfile

    import canary_weather_etl_spark.operators.dedup as D
    from canary_weather_etl_spark.plans.registry import load

    d = load(spark, sf_dir, "documents").limit(300)
    tmp = tempfile.mkdtemp(prefix="canary_banded_prune_")
    try:
        state_dir = os.path.join(tmp, "state")
        D.admission_state_init_banded(d.select("doc_id", "text"),
                                      state_dir, n=2)
        # a 5-doc candidate list touches <= 5 of the 64 doc buckets
        cdocs = [1, 2, 3, 4, 5]
        touched = (spark.createDataFrame([(c,) for c in cdocs],
                                         "doc BIGINT")
                   .select(F.pmod(F.xxhash64("doc"), F.lit(64))
                           .alias("b")).distinct().collect())
        blist = [r["b"] for r in touched]
        assert len(blist) <= 5 < 64
        pruned = (spark.read.parquet(os.path.join(state_dir, "sets"))
                  .filter(F.col("bucket").isin(blist)))
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "bucket" in plan, plan
        got = {r["bucket"] for r in pruned.select("bucket")
               .distinct().collect()}
        assert got <= set(blist)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# words + every whitespace class both regex families agree on
_WS_TEXT = st.lists(
    st.sampled_from(["foo", "bar", "baz", "Qux", "a", "zz9",
                     " ", "\t", "\n", "  ", "\t\n", " \t "]),
    max_size=12).map("".join)


@given(texts=st.lists(_WS_TEXT, min_size=1, max_size=8))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_word_ngrams_fuzz_matches_duckdb_oracle(spark, texts):
    """Hypothesis fuzz of the canonical shingle semantics: random
    whitespace-heavy strings must produce identical (doc, shingle) sets
    from the engine's word_ngrams and the _grams_sql DuckDB shape — the
    generalization of the pointwise tab/newline edge list."""
    docs = list(enumerate(texts))
    sdf = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    eng = {(r["doc_id"], r["shingle"]) for r in
           sdf.select("doc_id",
                      F.explode(word_ngrams("text", 2)).alias("shingle"))
           .collect()}
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO d VALUES (?, ?)", docs)
        sql = f"WITH {_grams_sql('d', 'g')} SELECT doc_id, shingle FROM g"
        ora = set(map(tuple, con.execute(sql).fetchall()))
    finally:
        con.close()
    assert eng == ora


_SMALL_DOC = st.lists(
    st.sampled_from(["the", "cat", "sat", "on", "mat", "dog", "ran"]),
    min_size=2, max_size=8).map(" ".join)


@given(texts=st.lists(_SMALL_DOC, min_size=3, max_size=10))
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_minhash_lsh_chain_fuzz_matches_duckdb(spark, texts):
    """End-to-end fuzz of the portable MinHash→band→verify chain: on
    small random corpora drawn from a tiny vocabulary (so candidates
    and near-dups actually occur), the engine's verified pairs must
    equal the _MINHASH_LSH_SQL oracle's — signatures, band folds,
    candidate join and exact Jaccard all replayed from the same
    literals. Guards the band-fold/signature contract on inputs the
    fixture doesn't contain."""
    from canary_weather_etl_spark.operators.dedup import (
        near_dup_pairs_minhash,
    )
    from canary_weather_etl_spark.plans.llm import _MINHASH_LSH_SQL

    docs = list(enumerate(texts))
    sdf = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    eng = {(r["a"], r["b"], r["jaccard"]) for r in
           near_dup_pairs_minhash(sdf, "doc_id", "text", n=2,
                                  threshold=0.5)
           .collect()}
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
        ora = set(map(tuple, con.execute(_MINHASH_LSH_SQL).fetchall()))
    finally:
        con.close()
    assert eng == ora


def test_word_markers_match_lang_marker_regexes():
    """WORD_MARKERS is the token form of the LANG_MARKERS regexes — the
    two must stay in lockstep (the oracles replay the regex form)."""
    from canary_weather_etl_spark.operators.text import (
        LANG_MARKERS, WORD_MARKERS,
    )

    for lang, ws in WORD_MARKERS.items():
        assert LANG_MARKERS[lang] == r"\b(" + "|".join(ws) + r")\b"
    assert list(LANG_MARKERS) == [*WORD_MARKERS, "zh"]


_LANG_TEXT = st.lists(
    st.sampled_from(["the", "la", "der", "le", "und", "de", "cat",
                     "xyz", "2the", "athe", "é", "一", "_the_",
                     ",", ".", "-", "!", " ", "\t", "\n"]),
    max_size=15).map(lambda parts: "".join(
        p + s for p, s in zip(parts, [" ", "", ",", " "] * len(parts))))


@given(texts=st.lists(_LANG_TEXT, min_size=1, max_size=6))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_lang_scores_token_shape_equals_duckdb_oracle(spark, texts):
    """The r13 token-equality lang scores must count EXACTLY what the
    DuckDB oracles' \\b-regex counts — including punctuation-adjacent
    markers, digit-joined non-matches ('2the'), underscore words and
    NON-ASCII neighbors ('theé', 'the一'). The non-ASCII class is the
    point: RE2's \\b is ASCII (boundary before é → match) while Java's
    \\b treats é/一 as word chars (no match), so the OLD Java-regex
    engine shape silently diverged from every lang-marker oracle on
    such text — the token shape, built on the ASCII-\\w PUNCT_RE
    normalization, lands on the RE2 semantics and closes that latent
    divergence (fixtures are ASCII, so it never fired)."""
    from canary_weather_etl_spark.operators.text import (
        LANG_MARKERS, lang_scores,
    )

    docs = list(enumerate(texts))
    sdf = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    new = lang_scores("text")
    eng = {r["doc_id"]: r for r in sdf.select(
        "doc_id", *[new[lang].alias(lang) for lang in LANG_MARKERS]
    ).collect()}

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO d VALUES (?, ?)", docs)
        sel = ", ".join(
            f"len(regexp_extract_all(lower(text), '{pat}')) AS {lang}"
            for lang, pat in LANG_MARKERS.items())
        ora = {r[0]: r[1:] for r in
               con.execute(f"SELECT doc_id, {sel} FROM d").fetchall()}
    finally:
        con.close()

    for doc_id, row in ora.items():
        got = tuple(eng[doc_id][lang] for lang in LANG_MARKERS)
        assert got == row, (doc_id, texts[doc_id], got, row)
