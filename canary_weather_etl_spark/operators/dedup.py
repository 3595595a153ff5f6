"""Deduplication operators (SURVEY.md §2.11): exact, MinHash+LSH near-dup,
SimHash, n-gram Jaccard.

Design for 100 TB: every stage is shuffle-minimal and built-in-function-only.
- exact dedup: one hash-aggregate on the content key
- MinHash: shingle → md5 universal hash → per-doc min per permutation — a
  single explode + groupBy (one shuffle); banding turns O(n²) pair search
  into a self-join on (band_id, band_signature), which only materializes
  rows for colliding buckets
- verification joins fetch shingle sets only for *candidate* pairs, so the
  quadratic step never touches the full corpus

References: reference repo has no dedup beyond the upsert anti-join
(README.md:1517-1526); the near-dup designs follow the standard MinHash/LSH
construction (Broder; see PAPERS.md similarity-search entries for the
distributed top-k context).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import TOKEN_SPLIT_RE


def exact_dedup(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Exact dedup on a column set: keep one row per key (dropDuplicates).
    At scale this is one hash-shuffle on the key; prefer a content hash
    (xxhash64) as the key for long text so the shuffle moves 8 bytes/row."""
    return df.dropDuplicates(key_cols)


def dup_groups(df: DataFrame, id_col: str, key: F.Column) -> DataFrame:
    """Group rows by a content key; emit keeper (min id) + multiplicity.
    The groupBy form of exact dedup — keeps the evidence of what collided."""
    return (
        df.select(F.col(id_col), key.alias("dedup_key"))
        .groupBy("dedup_key")
        .agg(F.min(id_col).alias("keeper_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


def word_ngrams(col: F.Column | str, n: int = 2) -> F.Column:
    """Distinct word n-gram (shingle) array. Built-in only, and since r12
    HOF-free: normalize whitespace once, then ONE codegen'd
    regexp_extract_all with a token-anchored LOOKAHEAD capture —
    `(?:^| )(?=(tok( tok){n-1}))` — which emits every OVERLAPPING n-gram
    left-to-right (the zero-width lookahead lets matches overlap; the
    consumed `^| ` prefix anchors them at token starts, a bare lookahead
    would match at every CHARACTER). The r11 minhash discovery applied
    to the shingle build: every Spark higher-order array function is
    CodegenFallback, so the former zip_with(slice, slice, concat_ws)
    paid interpreted eval per (doc x token) — measured 12.45 s vs
    19.92 s at 5M docs (scripts/shingle_shape_probe.py, which asserts
    bit-equality against the split→drop-empties→ngram reference shape
    on the real fixture + adversarial edges before timing).

    CANONICAL SEMANTICS (r13, closing the r12 ADVICE finding): empty
    tokens are DROPPED. trim() strips spaces only, so text bounded by
    tab/newline made the old unfiltered-split shape — and the DuckDB
    oracles before r13 — emit empty-token shingles: '\\tfoo bar' gave
    [' foo', 'foo bar'] there but ['foo bar'] here (the `[^ ]+` atoms
    cannot match an empty token). Both sides now agree on
    drop-empties: the oracles wrap the split in
    list_filter(..., x -> x <> '') — see plans/r10_queries.py
    _grams_sql. Order is positional with array_distinct keeping first
    occurrences, same as the reference shape."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.lower(F.trim(c)), TOKEN_SPLIT_RE, " ")
    pat = r"(?:^| )(?=(" + "[^ ]+" + " [^ ]+" * (n - 1) + r"))"
    grams = F.regexp_extract_all(norm, F.lit(pat), 1)
    # NULL/empty text must yield the empty array (the old when(m >= 1)
    # guard's semantics), not NULL
    grams = F.when(F.coalesce(norm, F.lit("")) == "",
                   F.array().cast("array<string>")).otherwise(grams)
    return F.array_distinct(grams)


def shingle_table(df: DataFrame, id_col: str, text_col: str,
                  n: int = 2) -> DataFrame:
    """Exploded (id, shingle) table — the input to MinHash and to exact
    Jaccard verification."""
    return (
        df.select(F.col(id_col).alias("doc"),
                  F.explode(word_ngrams(text_col, n)).alias("shingle"))
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str,
                 n: int = 2) -> DataFrame:
    """(doc, sh: array<string>, sz) — the per-doc distinct shingle set.
    No shuffle at all: the n-gram array is built row-wise. This frame feeds
    both signature generation and candidate verification, so the whole
    MinHash pipeline touches the raw text exactly once."""
    return df.select(
        F.col(id_col).alias("doc"),
        word_ngrams(text_col, n).alias("sh"),
    ).withColumn("sz", F.size("sh"))


def _sig_array_sql(num_hashes: int) -> str:
    """SQL text assembling the h0..h{n-1} permutation mins into the
    signature array — one parsed string instead of num_hashes py4j
    column conversions."""
    return "array(" + ",".join(f"h{i}" for i in range(num_hashes)) + ")"


MINHASH_P = 2_147_483_647  # 2^31 - 1, Mersenne prime

# r11 measured dead end (do NOT retry): replacing `%` with a Mersenne
# fold (t = (x >> 31) + (x & P), conditional subtract) is the wrong fix
# at BOTH evaluation sites. Inside the permutation lambdas it loses
# because higher-order-function lambdas are CodegenFallback — evaluated
# as interpreted expression trees where per-NODE overhead dominates, so
# a 7-node fold costs more than one Remainder node regardless of what a
# 64-bit divide costs in silicon. In the codegen'd band-key projection
# it's worse: `when(t >= P, t - P).otherwise(t)` references t three
# times, so chaining the fold per band element grows the expression
# tree ~3^4 per band and the generated method burst the 64 KB Janino
# limit (whole-stage codegen disabled for the plan — observed). The
# actual third-decade fix is `minhash_signatures_from_sets`' shape:
# get the arithmetic OUT of interpreted lambdas and into a codegen'd
# aggregate, where plain `%` is cheap.


def minhash_perm_constants(num_hashes: int) -> list[tuple[int, int]]:
    """The (a_i, b_i) universal-hash constants for the portable MinHash
    permutations — sha256-derived literals (NOT engine hashes), so the
    Spark expressions and the SQL oracle embed the identical numbers.
    a_i in [1, P-1], b_i in [0, P-1]."""
    import hashlib

    def draw(tag: str, i: int, lo: int) -> int:
        h = hashlib.sha256(f"minhash:{tag}:{i}".encode()).digest()
        return lo + int.from_bytes(h[:8], "big") % (MINHASH_P - lo)

    return [(draw("a", i, 1), draw("b", i, 0)) for i in range(num_hashes)]


def minhash_signatures_from_sets(sets: DataFrame,
                                 num_hashes: int = 32) -> DataFrame:
    """(doc, signature array<bigint>[num_hashes]) from the shingle-set
    frame of `shingle_sets`: universal-hash MinHash over ONE md5 per
    shingle. h = the first 7 hex digits of md5(shingle) as a 28-bit int,
    permutation i = (a_i·h + b_i) mod P with P = 2^31−1 and
    sha256-derived literal constants (`minhash_perm_constants`) — every
    op replays exactly in any SQL engine, and the products stay under
    2^60 so the arithmetic is overflow-safe int64. It is the only hash
    family because seeded xxhash64 surfaced the same verified pairs and
    was no faster at 5M docs (SCALE.md r11).

    Shape (the r11 third-decade fix): explode the set array, compute the
    base hash ONCE per (doc, shingle) row in a codegen'd projection,
    then take all num_hashes permutation mins in one hash aggregate.
    Declarative MIN aggs over long arithmetic stay inside whole-stage
    codegen, whereas a transform/array_min lambda shape is
    CodegenFallback — interpreted per-node eval, 111.2 s vs 35.7 s for
    the signature stage at 5M docs (SCALE.md r11). The added shuffle is
    key-reduced by the map-side partial MIN to num_hashes longs per
    doc, and AQE coalesces it."""
    ab = minhash_perm_constants(num_hashes)
    h = F.conv(F.substring(F.md5(F.col("g")), 1, 7), 16, 10).cast("long")
    exploded = (sets.select("doc", F.explode("sh").alias("g"))
                .select("doc", h.alias("h")))
    # each permutation MIN parses from one SQL string (functions.litexpr
    # discipline, r14): the element-wise F.lit arithmetic paid ~6 py4j
    # round-trips per permutation per construction
    aggs = [F.expr(f"min(({a}L * h + {b}L) % {MINHASH_P}L)")
            .alias(f"h{i}") for i, (a, b) in enumerate(ab)]
    sigs = exploded.groupBy("doc").agg(*aggs)
    return sigs.select(
        "doc", F.expr(_sig_array_sql(num_hashes)).alias("signature"))


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 8,
                        num_hashes: int = 32) -> DataFrame:
    """Band the signatures and self-join on (band, band_hash): docs agreeing
    on any full band become a candidate pair. Output (a, b) with a < b.

    The banding join is the scale move: instead of n² comparisons, only
    docs that collide in a bucket meet. Skewed buckets (boilerplate docs)
    are handled by AQE skew-join splitting.

    Band keys are `portable_band_table`'s polynomial fold mod P — pure
    arithmetic, reproducible in SQL. Band-key collisions only ADD
    candidates, which exact verification then rejects, so the 2^-31
    collision rate costs recall nothing."""
    # ONE definition of the band fold — shared with the banded admission
    # state, whose persisted keys must match this self-join's banding
    # bit-for-bit
    banded = portable_band_table(sigs, bands, num_hashes)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(right,
                  (F.col("l.band") == F.col("r.band"))
                  & (F.col("l.band_hash") == F.col("r.band_hash"))
                  & (F.col("l.doc") < F.col("r.doc")))
        .select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
        .distinct()
    )
    return pairs


def exact_jaccard(shingles: DataFrame, threshold: float = 0.0) -> DataFrame:
    """Exact all-pairs Jaccard via the shared-shingle join. Quadratic in
    per-shingle document frequency — the oracle-checkable ground truth at
    test scale, NOT the 100 TB path (use `near_dup_pairs_minhash`, which
    verifies only LSH candidates via `verify_pairs_jaccard`).

    jaccard(a,b) = |A∩B| / (|A| + |B| − |A∩B|) — computed from exact
    integer counts, so the double division is engine-deterministic.
    """
    sizes = shingles.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    l = shingles.alias("l")
    r = shingles.alias("r")
    common = (
        l.join(r, (F.col("l.shingle") == F.col("r.shingle"))
               & (F.col("l.doc") < F.col("r.doc")))
        .groupBy(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common
        .join(sizes.withColumnRenamed("doc", "a").withColumnRenamed("sz", "sz_a"), "a")
        .join(sizes.withColumnRenamed("doc", "b").withColumnRenamed("sz", "sz_b"), "b")
        .withColumn("jaccard",
                    F.col("common").cast("double")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("common")))
    )
    return out.filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


# Candidate-pair ceiling for the guarded broadcast in
# verify_pairs_jaccard: below it, each side's candidate-doc list is at
# most n_pairs distinct longs (<= ~32 MB of ids at the limit — well
# inside executor broadcast budgets at any sane executor size); above
# it, banding has degenerated (the lists approach |docs|) and the
# broadcast that would OOM is skipped in favor of a shuffle semi-join.
_BROADCAST_CANDIDATE_PAIRS = 4_000_000


def verify_pairs_jaccard(sets: DataFrame, pairs: DataFrame,
                         threshold: float = 0.0) -> DataFrame:
    """Exact Jaccard for *candidate pairs only*: join each side's shingle
    set (from `shingle_sets`) and intersect with array ops. Cost is
    O(|candidates|) — independent of how common individual shingles are,
    which is what makes the LSH pipeline scale where the all-pairs join
    degenerates.

    r13 shape: BOTH fat joins are preceded by a semi-join reduction of
    `sets` to each side's candidate docs. Without it the b-side join
    shuffled the ENTIRE fat sets frame: the a-side join broadcasts
    `pairs` (small) and streams sets shuffle-free, but its output
    carries sh_a arrays — too fat to broadcast — so the planner fell
    back to shuffling all of `sets` (corpus-sized string arrays)
    against it. The candidate-doc id lists are bounded by |docs| and in
    practice LSH-sparse (longs), so the semi-joins broadcast them and
    the fat shuffles that remain are candidate-sized on both sides.
    Result-identical: inner equi-joins only ever read the rows the
    semi-join keeps."""
    # pairs is consumed three times now (two candidate-doc broadcast
    # builds + the verification join); unmaterialized, each consumer
    # re-runs the banded self-join lineage upstream — measured OOM at
    # the 1000x decade before this checkpoint landed. Candidate-sized,
    # so the materialization is small by the LSH contract.
    pairs = pairs.localCheckpoint(eager=True)
    adocs = pairs.select(F.col("a").alias("doc")).distinct()
    bdocs = pairs.select(F.col("b").alias("doc")).distinct()
    # GUARDED broadcast on the candidate-doc lists (r14). Unconditional
    # F.broadcast OOMs under degenerate banding (one band hash colliding
    # across a large corpus fraction pushes the lists toward |docs| —
    # the r13 ADVICE finding); but leaving the hint off entirely plans
    # both semi-joins as SortMergeJoin, and even when AQE converts them
    # to broadcasts at runtime the corpus-sized shuffle WRITE of the fat
    # `sets` frame has already been paid — measured: q_corpus_curation
    # 1000x regressed 214 -> 264 s (outside the 1.4x same-code band)
    # with the hint off, while the guarded shape restores the band.
    # `pairs` is checkpointed, so the guard's count() is a cheap local
    # scan; n_pairs bounds each side's distinct doc count, so the
    # broadcast is <= ~8 bytes * n_pairs per side — far under executor
    # memory at the threshold, and the degenerate case falls back to
    # the gracefully-degrading shuffle semi-join.
    if pairs.count() <= _BROADCAST_CANDIDATE_PAIRS:
        adocs, bdocs = F.broadcast(adocs), F.broadcast(bdocs)
    sets_a = sets.join(adocs, "doc", "left_semi")
    sets_b = sets.join(bdocs, "doc", "left_semi")
    out = (
        pairs
        .join(sets_a.select(F.col("doc").alias("a"),
                            F.col("sh").alias("sh_a"),
                            F.col("sz").alias("sz_a")), "a")
        .join(sets_b.select(F.col("doc").alias("b"),
                            F.col("sh").alias("sh_b"),
                            F.col("sz").alias("sz_b")), "b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard",
                    F.col("common").cast("double")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("common")))
    )
    return out.filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


def near_dup_pairs_minhash(df: DataFrame, id_col: str, text_col: str,
                           n: int = 2, num_hashes: int = 32, bands: int = 8,
                           threshold: float = 0.7) -> DataFrame:
    """Full near-dup pipeline: shingle → MinHash → LSH candidates → exact
    Jaccard verification ≥ threshold. The canonical LLM-corpus near-dedup.
    Every stage (signatures → banding → candidate join → verification)
    is bit-reproducible by a SQL oracle."""
    # materialized once (localCheckpoint, not cache — its blocks release
    # on GC, so a long session running many queries doesn't accumulate
    # cached partitions): the set frame feeds signature banding (self-join
    # → 2 consumers) and both sides of verification — unmaterialized the
    # ngram+hash projection recomputes 4x (no shuffle boundary means no
    # exchange reuse).
    sets = shingle_sets(df, id_col, text_col, n).localCheckpoint(eager=True)
    sigs = minhash_signatures_from_sets(sets, num_hashes)
    cands = lsh_candidate_pairs(sigs, bands, num_hashes)
    return verify_pairs_jaccard(sets, cands, threshold=threshold)


def containment_pairs(shingles: DataFrame,
                      threshold_units: int = 900_000,
                      regime: str = "auto") -> DataFrame:
    """Exact shingle CONTAINMENT pairs: containment(a → b) =
    |Sh(a) ∩ Sh(b)| / |Sh(a)| — the asymmetric near-dup relation Jaccard
    misses. A page wrapped in boilerplate, a quoted email, a doc chunked
    into a larger scrape has containment ≈ 1 toward its container while
    Jaccard collapses with the size gap (|A|/|B| bounds it), so
    MinHash-LSH — which approximates JACCARD — structurally under-recalls
    exactly these pairs. A curation pipeline needs both relations.

    Input: (doc, shingle) from `shingle_table`. Output
    (contained, container, common, sz_contained, containment_units) for
    every ordered pair with 1e6·common DIV sz_contained ≥
    ``threshold_units`` — integer fixed-point throughout, so the result
    is engine-exact (same DIV in any SQL engine). Mutual containment
    (near-identical docs) correctly emits both directions.

    ENGINE-CHOSEN REGIME (same discipline as `near_dup_pairs_exact`'s
    candidate probe), two exact plans with a measured crossover
    (SCALE.md r10):

    - ``naive``: shared-shingle self-join → count per ordered pair.
      Join volume = Σ df² but each row is consumed by ONE count
      aggregate — the cheap plan when the vocabulary is small/flat
      (the synthetic fixture: 3.3 s vs 109 s at sf0.1).
    - ``prefix``: the containment-form PREFIX FILTER (PPJoin
      discipline): containment ≥ t needs common ≥ ceil(t·|A|), so A's
      (|A| − ceil(t·|A|) + 1) globally-rarest shingles (df-ascending,
      shingle tie-break) must intersect B — candidates come from the
      prefix × full-index join, then an exact recount on candidates
      only. Linearizes on Zipf-distributed real text where the prefix
      is the rare tail; LOSES when candidates ≈ all sharing pairs
      (flat vocab) because the recount multiplies by set size.

    ``auto`` probes both integrals from one ranking pass (driver
    scalars): V_naive = Σ df², V_prefix = prefix-join volume × (1 +
    2·avg set size) — the recount upper bound — and picks the smaller.
    Both paths are pytest-pinned identical. The probe is NOT free: the
    V_prefix integral executes the ranking pass (a full shuffle over the
    shingle rows) into one bounded-output aggregate at plan-build time,
    and the prefix execution re-derives that ranking (the measured
    re-derive-vs-checkpoint no-win below) — so ``auto`` costs one extra
    bounded-output job plus the intentional re-derive, not a metadata
    scan (ADVICE r10). A corpus with NO rare tail leaves exact
    containment inherently near-all-pairs (measured: the flat-vocab
    fixture at 100× spilled past local disk) — the bounded-recall path
    there is a banded candidate generator + the prefix regime's exact
    recount as its verification tail."""
    if regime not in ("auto", "naive", "prefix"):
        raise ValueError(f"unknown regime {regime!r}")
    sizes = shingles.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    dftab = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))

    from pyspark.sql import Window
    w = Window.partitionBy("doc").orderBy("df", "shingle")
    # minimum shared-shingle count for doc A: ceil(T·sz / 1e6) — exactly
    # the final integer-DIV filter inverted, so the prefix bound is tight
    ranked = (shingles.join(dftab, "shingle")
              .withColumn("rn", F.row_number().over(w)))
    pref = (ranked.join(sizes, "doc")
            .withColumn("minc",
                        F.expr(f"({threshold_units} * sz + 999999) "
                               "DIV 1000000"))
            .filter(F.col("rn") <= F.col("sz") - F.col("minc") + 1)
            .select("doc", "shingle"))

    if regime == "auto":
        # one probe job, three driver scalars: the two volume integrals
        # + the recount multiplier. The prefix integral re-derives the
        # ranking pass rather than checkpointing `pref` for the
        # execution to reuse — measured (scripts/containment_zipf.py):
        # the eager materialization saved nothing at 30k docs and LOST
        # at 100k (the probe's agg pipelines with the ranking anyway),
        # the same re-derive-narrow-state rule as the r8 DSIR lesson.
        probe = dftab.agg(
            F.sum(F.col("df") * F.col("df")).alias("v_naive"),
            F.sum("df").alias("gram_rows"),
            F.count(F.lit(1)).alias("n_sh")).collect()[0]
        pj = (pref.join(dftab, "shingle")
              .agg(F.sum("df").alias("v"),
                   F.count(F.lit(1)).alias("pref_rows")).collect()[0])
        n_docs = max(sizes.count(), 1)
        avg_sz = (probe["gram_rows"] or 0) / n_docs
        v_naive = probe["v_naive"] or 0
        v_prefix = (pj["v"] or 0) * (1 + 2 * avg_sz)
        regime = "naive" if v_naive <= v_prefix else "prefix"

    if regime == "naive":
        l, r = shingles.alias("l"), shingles.alias("r")
        common = (
            l.join(r, (F.col("l.shingle") == F.col("r.shingle"))
                   & (F.col("l.doc") != F.col("r.doc")))
            .groupBy(F.col("l.doc").alias("contained"),
                     F.col("r.doc").alias("container"))
            .agg(F.count(F.lit(1)).alias("common"))
        )
    else:
        cands = (
            pref.alias("l")
            .join(shingles.alias("r"),
                  (F.col("l.shingle") == F.col("r.shingle"))
                  & (F.col("l.doc") != F.col("r.doc")))
            .select(F.col("l.doc").alias("contained"),
                    F.col("r.doc").alias("container"))
            .distinct()
        )
        # exact recount over candidates only: common = |Sh(A) ∩ Sh(B)|
        # via a left_semi against the container's shingles (no fan-out:
        # shingles are distinct per doc, the semi keeps each pair-shingle
        # row once)
        a_side = cands.join(
            shingles.select(F.col("doc").alias("contained"), "shingle"),
            "contained")
        common = (
            a_side.join(
                shingles.select(F.col("doc").alias("container"),
                                "shingle"),
                ["container", "shingle"], "left_semi")
            .groupBy("contained", "container")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    out = (
        common
        .join(sizes.select(F.col("doc").alias("contained"),
                           F.col("sz").alias("sz_contained")), "contained")
        .withColumn("containment_units",
                    F.expr("1000000 * common DIV sz_contained"))
    )
    return (out.filter(F.col("containment_units") >= threshold_units)
            .select("contained", "container", "common", "sz_contained",
                    "containment_units"))


def containment_pairs_banded(sets: DataFrame,
                             threshold_units: int = 800_000,
                             num_hashes: int = 32,
                             bands: int = 8) -> DataFrame:
    """BOUNDED-RECALL containment pairs — the 100 TB path for corpora
    with NO rare tail, where BOTH exact regimes of `containment_pairs`
    are inherently near-all-pairs (the flat-vocab fixture's measured
    100x disk abort, SCALE.md r10): candidates come from the MinHash-LSH
    band join (pairs agreeing on >= 1 of ``bands`` signature bands), the
    verification tail is the prefix regime's EXACT recount — here as an
    `array_intersect` over the candidates' shingle-set arrays, emitting
    BOTH directions of every candidate pair with 1e6·common DIV sz >=
    ``threshold_units``. Same output schema and integer fixed-point
    semantics as `containment_pairs`; the only relaxation is WHICH pairs
    are examined.

    Why this completes where exact aborts: on a flat vocabulary any two
    docs share ~|A|²/V shingles, so shingle-join candidate volume is
    ~4-5% of n² no matter how the index is built — but a full BAND
    collision needs signatures agreeing on all (num_hashes/bands)
    permutation mins, probability ~ J^(rows) per band, so coincidental
    low-Jaccard pairs vanish while near-identical pairs (mutual
    containment) survive. The recall loss is exactly the asymmetric
    corner: A tiny inside huge B has containment ~1 but Jaccard ~
    |A|/|B|, which banding under-samples — pytest pins the measured
    recall vs the exact operator on the fixture, and the honest scale
    statement lives in SCALE.md. Every stage is SQL-replayable, so the
    registry entry carries a full oracle."""
    sigs = minhash_signatures_from_sets(sets, num_hashes)
    cands = lsh_candidate_pairs(sigs, bands, num_hashes)
    joined = (
        cands
        .join(sets.select(F.col("doc").alias("a"), F.col("sh").alias("sh_a"),
                          F.col("sz").alias("sz_a")), "a")
        .join(sets.select(F.col("doc").alias("b"), F.col("sh").alias("sh_b"),
                          F.col("sz").alias("sz_b")), "b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b"))
                    .cast("long"))
        .select("a", "b", "common", "sz_a", "sz_b")
    )
    # one candidate row fans into the two ordered directions, then the
    # same fixed-point gate as the exact operator
    both = joined.select(
        F.explode(F.array(
            F.struct(F.col("a").alias("contained"),
                     F.col("b").alias("container"),
                     F.col("common"),
                     F.col("sz_a").cast("long").alias("sz_contained")),
            F.struct(F.col("b").alias("contained"),
                     F.col("a").alias("container"),
                     F.col("common"),
                     F.col("sz_b").cast("long").alias("sz_contained")),
        )).alias("d")
    ).select("d.*")
    out = both.withColumn(
        "containment_units", F.expr("1000000 * common DIV sz_contained"))
    return (out.filter(F.col("containment_units") >= threshold_units)
            .select("contained", "container", "common", "sz_contained",
                    "containment_units"))


def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = 60) -> DataFrame:
    """SimHash per doc: hash each token, sum ±1 per bit position weighted by
    term frequency, bit b of the result = sign of the sum. Near-dup docs
    land at small Hamming distance. One explode + one groupBy (the per-bit
    sums all ride in the same aggregate).

    The token hash is md5's first 15 hex digits, a 60-bit value, so
    `bits` is at most 60. A SQL oracle rebuilds the identical signature
    (`CAST('0x' || substr(md5(tok),1,15) AS BIGINT)` in DuckDB,
    ``conv(substring(md5(tok),1,15),16,10)`` here). The default of 60 is
    the width you'd ship at 100 TB: band buckets need enough distinct
    values that corpus/2^(bits/(max_hamming+1)) rows per bucket stays
    small, and 32 bits (8-bit bands) saturates around 10⁴ docs (SCALE.md
    sizing rule). Pass bits=32 explicitly only for tiny corpora where the
    narrower aggregate is worth the quadratic cliff."""
    if not 1 <= bits <= 60:
        raise ValueError("the md5 token hash carries 60 bits; "
                         f"bits must be in [1, 60], got {bits}")
    tok_hash = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    toks = (
        df.select(F.col(id_col).alias("doc"),
                  F.explode(F.split(F.lower(F.trim(F.col(text_col))),
                                    TOKEN_SPLIT_RE)).alias("tok"))
        .withColumn("h", tok_hash)
    )
    one = F.lit(1).cast("long")
    bit_aggs = [
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(one) != 0, 1)
              .otherwise(-1)).alias(f"b{b}")
        for b in range(bits)
    ]
    sums = toks.groupBy("doc").agg(*bit_aggs)
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig.bitwiseOR(
            F.when(F.col(f"b{b}") > 0, F.shiftleft(one, b))
             .otherwise(F.lit(0).cast("long")))
    return sums.select("doc", sig.alias("simhash"))


def hamming_distance(a: F.Column, b: F.Column) -> F.Column:
    """Popcount of XOR — built-in bit_count."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidate_pairs(sim: DataFrame, bits: int = 64,
                            max_hamming: int = 3) -> DataFrame:
    """Pigeonhole-banded candidate generation for SimHash near-dup search.

    Split the `bits`-bit signature into (max_hamming + 1) contiguous bands:
    two signatures within Hamming distance `max_hamming` differ in at most
    `max_hamming` bit positions, so at least one band is bit-identical
    (pigeonhole) — banding therefore has 100% recall, unlike MinHash LSH.
    Candidates come from an equi self-join on (band_idx, band_val): the
    same shape as `lsh_candidate_pairs`, and the scale move that replaces
    the O(n²) all-pairs comparison. Skewed bands (e.g. the all-zero band of
    short docs) split under AQE skew-join handling.

    Input: (doc, simhash). Output: distinct (a, b) with a < b.
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    n_bands = max_hamming + 1
    width = -(-bits // n_bands)  # ceil — last band may be narrower
    # width == 64 (bits=64, max_hamming=0): (1 << 64) - 1 overflows the
    # signed long F.lit builds — all-bits-set is -1 in two's complement
    mask = -1 if width >= 64 else (1 << width) - 1
    banded = sim.select(
        "doc",
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit(mask))
            for i in range(n_bands)
        ])).alias("band", "band_val"),
    )
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.band_val") == F.col("r.band_val"))
               & (F.col("l.doc") < F.col("r.doc")))
        .select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
        .distinct()
    )


def near_dup_pairs_simhash(df: DataFrame, id_col: str, text_col: str,
                           bits: int = 60, max_hamming: int = 3
                           ) -> DataFrame:
    """SimHash near-dup pipeline at 100 TB shape: signatures (one explode +
    one groupBy) → pigeonhole band buckets (equi self-join, exact recall)
    → Hamming verification on candidates only. Output (a, b, hamming)."""
    sig = simhash(df, id_col, text_col, bits).localCheckpoint(eager=True)
    cands = simhash_candidate_pairs(sig, bits, max_hamming)
    out = (
        cands
        .join(sig.select(F.col("doc").alias("a"),
                         F.col("simhash").alias("sim_a")), "a")
        .join(sig.select(F.col("doc").alias("b"),
                         F.col("simhash").alias("sim_b")), "b")
        .select("a", "b",
                hamming_distance(F.col("sim_a"), F.col("sim_b"))
                .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
    return out


def exact_jaccard_cross(sh_a: DataFrame, sh_b: DataFrame,
                        threshold: float = 0.0) -> DataFrame:
    """Exact Jaccard between two shingle tables (`shingle_table` output) —
    the incremental-admission variant of `exact_jaccard`: score each new
    (a-side) document against the existing corpus (b-side) without the
    self-join's a<b de-duplication. Same cost profile: quadratic in
    per-shingle document frequency, correctness-scale ground truth; the
    100 TB path precomputes MinHash band signatures for the corpus once
    (a persisted table, like the IVF quantizer) and equi-joins only the
    new batch's bands against it."""
    sza = sh_a.groupBy("doc").agg(F.count(F.lit(1)).alias("sz_a"))
    szb = sh_b.groupBy("doc").agg(F.count(F.lit(1)).alias("sz_b"))
    common = (
        sh_a.alias("l").join(sh_b.alias("r"),
                             F.col("l.shingle") == F.col("r.shingle"))
        .groupBy(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common
        .join(sza.withColumnRenamed("doc", "a"), "a")
        .join(szb.withColumnRenamed("doc", "b"), "b")
        .withColumn("jaccard",
                    F.col("common").cast("double")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("common")))
    )
    return out.filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


# ---------------------------------------------------------------------------
# Streaming corpus admission: persisted-postings screen (the 100 TB regime)
# ---------------------------------------------------------------------------

def admission_state_init(corpus: DataFrame, state_dir: str,
                         id_col: str = "doc_id", text_col: str = "text",
                         n: int = 2, buckets: int = 64) -> None:
    """Seed the persisted admission state for `admission_screen_batch`'s
    postings screen: ``state_dir/postings`` — (shingle, doc, sz) rows
    partitioned by a shingle-hash ``bucket`` (routing only, results
    never depend on it), and ``state_dir/hashes`` — distinct content
    md5s for the exact gate, partitioned by an md5-hash bucket for the
    same per-batch pruning (an unpartitioned hash table would be
    re-scanned whole every micro-batch — the same O(corpus)-per-batch
    class the postings table exists to kill). Built once from the seed
    corpus; every admitted batch appends its own rows — the corpus TEXT
    is never re-shingled after this."""
    import os

    sets = shingle_sets(corpus, id_col, text_col, n)
    postings = (sets.select(F.col("doc"), "sz", F.explode("sh")
                            .alias("shingle"))
                .withColumn("bucket",
                            F.pmod(F.xxhash64("shingle"), F.lit(buckets))))
    (postings.write.mode("overwrite").partitionBy("bucket")
     .parquet(os.path.join(state_dir, "postings")))
    (corpus.select(F.md5(text_col).alias("h")).distinct()
     .withColumn("bucket", F.pmod(F.xxhash64("h"), F.lit(buckets)))
     .repartition("bucket")
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(os.path.join(state_dir, "hashes")))


def admission_screen_batch(batch: DataFrame, corpus_dir: str,
                           state_dir: str | None = None,
                           threshold: float = 0.5, n: int = 2,
                           buckets: int = 64,
                           writeback: bool = True) -> DataFrame:
    """One micro-batch of corpus admission (exact content gate + exact
    cross-Jaccard near gate vs the CURRENT corpus). Two exact screens,
    picked by whether persisted state exists:

    - with ``state_dir`` (postings, the 100 TB shape): equi-join the
      batch's shingles against the PERSISTED postings table seeded by
      `admission_state_init` and maintained by appends here — the
      corpus text is never touched. Per-batch cost is O(batch shingles
      x df-hit); the scan is pruned to the shingle-hash buckets the
      batch actually touches (a bounded <= ``buckets`` driver list into
      a partition-column IN filter). On a real deployment the postings
      table lives in a format with point data-skipping; Hive-style
      bucket partitions are the vanilla-parquet approximation.
    - without it (rescan): re-read the corpus text and re-shingle it
      this batch — O(corpus) regex/ngram work per batch. It maintains
      no state and is the exact reference the postings screen is
      pytest-pinned against.

    Both are EXACT and verdict-identical: Jaccard is computed from the
    same integer counts either way. scripts/admission_scale.py probed a
    fixed 2000-doc batch against 5k/50k/500k corpora and postings won
    at EVERY point (6.1/5.4/8.7 s vs rescan's 9.6/10.0/15.6 s
    best-of-2 — per-batch wall tracks batch size under postings and
    grows with the corpus under rescan); the one-off seed
    (2.7/4.2/15.2 s) amortizes across batches.

    Returns the verdict frame (doc_id, text, verdict, n_near), eagerly
    checkpointed; appends admitted docs to ``corpus_dir`` and, when
    ``state_dir`` is given, their postings/hashes to the state tables —
    so the NEXT batch sees this batch's admits. ``writeback=False`` is
    the SCREEN-ONLY mode: score a candidate batch against the current
    corpus without committing anything — the read-only audit shape (and
    the one that keeps a shared seeded state immutable, so
    q_stream_admission_fixed_batch can cache its seed across
    invocations and measure the pure per-batch screen cost)."""
    import os

    sp = batch.sparkSession
    batch = batch.localCheckpoint(eager=True)

    if state_dir is not None:
        bsets = shingle_sets(batch, "doc_id", "text", n)
        bsh = (bsets.select(F.col("doc").alias("doc_id"),
                            F.col("sz").alias("sz_a"),
                            F.explode("sh").alias("shingle"))
               .withColumn("bucket",
                           F.pmod(F.xxhash64("shingle"), F.lit(buckets)))
               .localCheckpoint(eager=True))
        # exact gate: prune the hash scan to the batch's md5 buckets
        bh = (batch.select("doc_id", F.md5("text").alias("h"))
              .withColumn("hb", F.pmod(F.xxhash64("h"), F.lit(buckets))))
        h_touched = [r["hb"]
                     for r in bh.select("hb").distinct().collect()]
        hashes = (sp.read.parquet(os.path.join(state_dir, "hashes"))
                  .filter(F.col("bucket").isin(h_touched)))
        exact = (bh.join(hashes.select("h"), "h", "left_semi")
                 .select("doc_id").distinct()
                 .withColumn("is_exact", F.lit(True)))
        touched = [r["bucket"]
                   for r in bsh.select("bucket").distinct().collect()]
        postings = (sp.read.parquet(os.path.join(state_dir, "postings"))
                    .filter(F.col("bucket").isin(touched)))
        common = (bsh.join(postings, "shingle")
                  .groupBy("doc_id", F.col("doc").alias("b"))
                  .agg(F.count(F.lit(1)).alias("common"),
                       F.first("sz_a").alias("sz_a"),
                       F.first("sz").alias("sz_b")))
        near = (common
                .withColumn("jaccard",
                            F.col("common").cast("double")
                            / (F.col("sz_a") + F.col("sz_b")
                               - F.col("common")))
                .filter(F.col("jaccard") >= threshold)
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_near")))
    else:
        corpus = sp.read.parquet(corpus_dir).localCheckpoint(eager=True)
        exact = (batch.select("doc_id", F.md5("text").alias("h"))
                 .join(corpus.select(F.md5("text").alias("h")).distinct(),
                       "h", "left_semi")
                 .select("doc_id").distinct()
                 .withColumn("is_exact", F.lit(True)))
        near = (exact_jaccard_cross(
                    shingle_table(batch, "doc_id", "text", n=n),
                    shingle_table(corpus, "doc_id", "text", n=n),
                    threshold=threshold)
                .groupBy(F.col("a").alias("doc_id"))
                .agg(F.count(F.lit(1)).alias("n_near")))

    verdicts = (
        batch.select("doc_id", "text")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id", "text",
            F.when(F.col("is_exact"), "exact_dup")
             .when(F.coalesce("n_near", F.lit(0)) > 0, "near_dup")
             .otherwise("admit").alias("verdict"),
            F.coalesce("n_near", F.lit(0).cast("bigint")).alias("n_near"))
        .localCheckpoint(eager=True))

    if not writeback:
        return verdicts
    admitted = verdicts.filter(F.col("verdict") == "admit")
    (admitted.select("doc_id", "text")
     .write.mode("append").parquet(corpus_dir))
    if state_dir is not None:
        adm_ids = admitted.select("doc_id")
        # repartition on the partition column before the append: without
        # it every task writes a sliver into every touched bucket dir
        # (up to tasks x buckets small files PER BATCH — a long-running
        # stream would fragment the state table); with it, one file per
        # touched bucket per batch, and the shuffle is only batch-sized
        (bsh.join(adm_ids, "doc_id", "left_semi")
         .select(F.col("doc_id").alias("doc"), F.col("sz_a").alias("sz"),
                 "shingle", "bucket")
         .repartition("bucket")
         .write.mode("append").partitionBy("bucket")
         .parquet(os.path.join(state_dir, "postings")))
        (admitted.select(F.md5("text").alias("h")).distinct()
         .withColumn("bucket", F.pmod(F.xxhash64("h"), F.lit(buckets)))
         .repartition("bucket")
         .write.mode("append").partitionBy("bucket")
         .parquet(os.path.join(state_dir, "hashes")))
    return verdicts


def portable_band_table(sigs: DataFrame, bands: int = 8,
                        num_hashes: int = 32) -> DataFrame:
    """(doc, band, band_hash) from MinHash signatures: each band's key is
    a polynomial rolling hash of its signature elements mod P (seeded
    with the band index, 1000003 multiplier — products < 2^62,
    overflow-safe). A standalone frame so the banded ADMISSION state
    persists exactly the keys `lsh_candidate_pairs` joins on. Replayed
    in SQL by plans/llm._minhash_band_fold_sql."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows = num_hashes // bands

    def band_key_sql(b: int) -> str:
        # explicit parens per fold step: SQL's % binds tighter than +,
        # so the textual form must force ((bv * m + sig[i]) % P)
        bv = f"{b}L"
        for j in range(rows):
            bv = (f"((({bv}) * 1000003 + signature[{b * rows + j}]) "
                  f"% {MINHASH_P})")
        return bv

    return sigs.select(
        "doc",
        F.expr("posexplode(array("
               + ",".join(band_key_sql(b) for b in range(bands))
               + "))").alias("band", "band_hash"))


def admission_state_init_banded(corpus: DataFrame, state_dir: str,
                                id_col: str = "doc_id",
                                text_col: str = "text", n: int = 2,
                                num_hashes: int = 32, bands: int = 8,
                                buckets: int = 64) -> None:
    """Seed the BANDED admission state — the layout the raw-postings
    screen's docstring has pointed at since r11 as the real 100 TB
    shape, now a first-class operator:

    - ``state_dir/bands``: (band, band_hash, doc) — `bands` rows per
      corpus doc instead of ~|tokens| shingle-posting rows (a ~25-50x
      smaller linear term in both rows and bytes: two ints + a long vs
      a shingle string per row), bucket-partitioned on the band hash.
    - ``state_dir/sets``: the per-doc shingle-SET rows (doc, sh, sz),
      bucket-partitioned on pmod(xxhash64(doc)) — candidate
      verification fetches FEW docs, so doc-bucket pruning actually
      engages here (sparse probe set), unlike the shingle-postings
      table where a batch's ~40k uniform probe keys touch every bucket
      (SCALE.md r13 floor analysis).
    - ``state_dir/hashes``: distinct content md5s for the exact gate
      (same as `admission_state_init`).

    Portable MinHash basis throughout, so the whole screen — signatures,
    band fold, candidate join, exact verification — replays bit-for-bit
    in a SQL oracle."""
    import os

    sets = shingle_sets(corpus, id_col, text_col, n)
    sigs = minhash_signatures_from_sets(sets, num_hashes)
    (portable_band_table(sigs, bands, num_hashes)
     .withColumn("bucket", F.pmod(F.xxhash64("band_hash"), F.lit(buckets)))
     .repartition("bucket")
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(os.path.join(state_dir, "bands")))
    (sets
     .withColumn("bucket", F.pmod(F.xxhash64("doc"), F.lit(buckets)))
     .repartition("bucket")
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(os.path.join(state_dir, "sets")))
    (corpus.select(F.md5(text_col).alias("h")).distinct()
     .withColumn("bucket", F.pmod(F.xxhash64("h"), F.lit(buckets)))
     .repartition("bucket")
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(os.path.join(state_dir, "hashes")))


def admission_screen_batch_banded(batch: DataFrame, state_dir: str,
                                  threshold: float = 0.5, n: int = 2,
                                  num_hashes: int = 32, bands: int = 8,
                                  buckets: int = 64,
                                  writeback: bool = False) -> DataFrame:
    """One micro-batch through the BANDED admission screen: exact
    content-md5 gate, then MinHash-band candidate join against the
    persisted band state, then exact Jaccard verification of CANDIDATE
    pairs only, with the corpus side's shingle sets point-fetched from
    the doc-bucketed sets table. Per-batch cost: O(batch shingles) to
    sign the batch, one scan of the ~25-50x-smaller band table for the
    candidate join, and O(candidates) verification IO (pruned to the
    candidate docs' buckets — a genuinely sparse probe set).

    DELIBERATELY probabilistic-recall vs `admission_screen_batch`'s
    exact shingle-postings screen: a near-dup pair colliding in no band
    is missed (the standard MinHash-LSH trade; ~32 perms / 8 bands puts
    the S-curve midpoint near Jaccard 0.5). Verified positives are
    exact. The verdicts ARE deterministic given the portable hash
    family, so the SQL oracle replays them bit-for-bit — this entry is
    exact-vs-its-own-spec, recall-floored-vs-the-exact-screen
    (tests/test_r13_ops.py pins both).

    Returns (doc_id, text, verdict, n_near) exactly like the postings
    screen; ``writeback=True`` appends admitted docs' bands/sets/hashes
    so the next batch sees them.

    Sizing ``buckets`` at deployment: the row-count math (a 200-doc
    batch's ~130 candidate docs touch ~3% of 4096 sets buckets) is
    NECESSARY but not sufficient — it counts rows, not files, and the
    measured third decade falsifies the naive "more buckets" reading:
    at a 5M-doc corpus, buckets=4096 is ~3x SLOWER than buckets=64 in
    every cell of a same-session 2x2 (batch 200/2000), because ~400 KB
    per bucket dir means thousands of parquet footer/open/listing
    operations per screen and per-FILE overhead swamps the per-BYTE
    pruning savings (SCALE.md r14). The binding rule is a
    BYTES-PER-BUCKET floor: raise buckets only while each bucket still
    holds ~100+ MB of state — true at a real 100 TB corpus (GBs per
    bucket at buckets in the thousands, where the row-count math then
    does engage), false at every corpus this repo can host. The same
    file-count caveat is WHY the raw postings table can't be saved by
    bucketing either — plus its probe set is ~200·B shingle keys, so
    even the row-count math never engages there (SCALE.md r13 floor
    analysis)."""
    import os

    sp = batch.sparkSession
    batch = batch.localCheckpoint(eager=True)
    bsets = shingle_sets(batch, "doc_id", "text", n)
    bsigs = minhash_signatures_from_sets(bsets, num_hashes)
    bbands = (portable_band_table(bsigs, bands, num_hashes)
              .select(F.col("doc").alias("bdoc"), "band", "band_hash")
              .localCheckpoint(eager=True))

    # exact gate — identical to the postings screen's
    bh = (batch.select("doc_id", F.md5("text").alias("h"))
          .withColumn("hb", F.pmod(F.xxhash64("h"), F.lit(buckets))))
    h_touched = [r["hb"] for r in bh.select("hb").distinct().collect()]
    if h_touched:
        hashes = (sp.read.parquet(os.path.join(state_dir, "hashes"))
                  .filter(F.col("bucket").isin(h_touched)))
        exact = (bh.join(hashes.select("h"), "h", "left_semi")
                 .select("doc_id").distinct()
                 .withColumn("is_exact", F.lit(True)))
    else:  # empty batch — nothing can gate
        exact = sp.createDataFrame([], "doc_id BIGINT, is_exact BOOLEAN")

    # candidate join against the band state (prune touched band buckets
    # — dense probe set, so this usually reads the whole band table;
    # the win is that the band table is the SMALL one)
    b_touched = [r["bk"] for r in
                 bbands.select(F.pmod(F.xxhash64("band_hash"),
                                      F.lit(buckets)).alias("bk"))
                 .distinct().collect()]
    if b_touched:
        sbands = (sp.read.parquet(os.path.join(state_dir, "bands"))
                  .filter(F.col("bucket").isin(b_touched)))
        cands = (bbands.join(sbands, ["band", "band_hash"])
                 .select("bdoc", F.col("doc").alias("cdoc")).distinct()
                 .localCheckpoint(eager=True))
    else:  # empty batch
        cands = sp.createDataFrame([], "bdoc BIGINT, cdoc BIGINT")

    # point-fetch candidate corpus sets: sparse doc-bucket pruning
    cdocs = cands.select(F.col("cdoc").alias("doc")).distinct()
    d_touched = [r["db"] for r in
                 cdocs.select(F.pmod(F.xxhash64("doc"),
                                     F.lit(buckets)).alias("db"))
                 .distinct().collect()]
    if d_touched:
        csets = (sp.read.parquet(os.path.join(state_dir, "sets"))
                 .filter(F.col("bucket").isin(d_touched))
                 .join(cdocs, "doc", "left_semi"))
        near = (cands
                .join(bsets.select(F.col("doc").alias("bdoc"),
                                   F.col("sh").alias("sh_a"),
                                   F.col("sz").alias("sz_a")), "bdoc")
                .join(csets.select(F.col("doc").alias("cdoc"),
                                   F.col("sh").alias("sh_b"),
                                   F.col("sz").alias("sz_b")), "cdoc")
                .withColumn("common",
                            F.size(F.array_intersect("sh_a", "sh_b")))
                .withColumn("jaccard",
                            F.col("common").cast("double")
                            / (F.col("sz_a") + F.col("sz_b")
                               - F.col("common")))
                .filter(F.col("jaccard") >= threshold)
                .groupBy(F.col("bdoc").alias("doc_id"))
                .agg(F.count(F.lit(1)).alias("n_near")))
    else:
        near = sp.createDataFrame([], "doc_id BIGINT, n_near BIGINT")

    verdicts = (
        batch.select("doc_id", "text")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id", "text",
            F.when(F.col("is_exact"), "exact_dup")
             .when(F.coalesce("n_near", F.lit(0)) > 0, "near_dup")
             .otherwise("admit").alias("verdict"),
            F.coalesce("n_near", F.lit(0).cast("bigint")).alias("n_near"))
        .localCheckpoint(eager=True))

    if not writeback:
        return verdicts
    admitted = verdicts.filter(F.col("verdict") == "admit")
    adm_ids = admitted.select("doc_id")
    asets = bsets.join(adm_ids, bsets["doc"] == adm_ids["doc_id"],
                       "left_semi")
    # the admitted docs' band rows ALREADY exist in the checkpointed
    # bbands frame — semi-join them out instead of re-running the
    # signature aggregate (the screen's most expensive per-batch stage)
    # on the admitted subset
    (bbands.join(adm_ids, bbands["bdoc"] == adm_ids["doc_id"],
                 "left_semi")
     .select(F.col("bdoc").alias("doc"), "band", "band_hash")
     .withColumn("bucket", F.pmod(F.xxhash64("band_hash"), F.lit(buckets)))
     .repartition("bucket")
     .write.mode("append").partitionBy("bucket")
     .parquet(os.path.join(state_dir, "bands")))
    (asets
     .withColumn("bucket", F.pmod(F.xxhash64("doc"), F.lit(buckets)))
     .repartition("bucket")
     .write.mode("append").partitionBy("bucket")
     .parquet(os.path.join(state_dir, "sets")))
    (admitted.select(F.md5("text").alias("h")).distinct()
     .withColumn("bucket", F.pmod(F.xxhash64("h"), F.lit(buckets)))
     .repartition("bucket")
     .write.mode("append").partitionBy("bucket")
     .parquet(os.path.join(state_dir, "hashes")))
    return verdicts


def duplicated_span_table(df: DataFrame, id_col: str, text_col: str,
                          k: int = 8, min_docs: int = 2) -> DataFrame:
    """Exact substring-duplication spans, the Lee-et-al-style pass
    ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499) re-expressed for Spark: instead of a monolithic
    suffix array, hash every k-token shingle WITH its start position,
    keep hashes seen in >= `min_docs` distinct documents, and merge each
    document's hit positions into maximal spans via gaps-and-islands.
    A span of t duplicated tokens yields t-k+1 consecutive hits, so the
    merged island recovers the full duplicated substring regardless of
    its length — the suffix array's answer for cross-doc duplicates of
    length >= k, at shuffle-join cost.

    Plan shape at 100 TB: one explode (rows = total tokens), one groupBy
    on the shingle hash (the ONLY wide exchange; keys are hashes,
    never text), a semi-join back, then a per-doc window over hit
    positions (partitioned by doc — bounded by the longest document, not
    the corpus). No all-pairs anything.

    Shingle keys are md5 hex strings, so a SQL oracle rebuilds identical
    hashes.

    Output: (doc, span_start, span_end, n_tokens, n_shingles) — token
    positions 0-based inclusive."""
    from pyspark.sql import Window

    toks = F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT_RE)
    base = df.select(F.col(id_col).alias("doc"), toks.alias("ts"))
    sh = (
        base
        # the short-doc filter MUST sit below the generator: sequence(0,
        # negative) is a DESCENDING sequence in Spark (not empty), whose
        # slice(ts, 0|negative, k) entries would throw — filtering before
        # the explode makes that unconditionally impossible instead of
        # relying on PushDownPredicates to reorder it
        .filter(F.size("ts") >= k)
        .select("doc", F.explode(F.transform(
            # start indices 0..n-k
            F.sequence(F.lit(0), F.size("ts") - k),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(F.concat_ws(" ", F.slice("ts", i + 1, k)))
                .alias("h")))).alias("s"))
        .select("doc", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    )
    if min_docs == 2:
        # "seen in >=2 distinct docs" == min(doc) != max(doc): one plain
        # aggregate (one exchange on h) instead of countDistinct's
        # partial-distinct expansion (exchange on (h, doc) THEN on h)
        dup = (sh.groupBy("h")
               .agg(F.min("doc").alias("__lo"), F.max("doc").alias("__hi"))
               .filter(F.col("__lo") != F.col("__hi"))
               .select("h"))
    else:
        dup = (sh.groupBy("h")
               .agg(F.countDistinct("doc").alias("nd"))
               .filter(F.col("nd") >= min_docs)
               .select("h"))
    hits = (sh.join(dup, "h", "left_semi")
            .withColumn("endp", F.col("pos") + (k - 1)))
    w = Window.partitionBy("doc").orderBy("pos")
    prev_end = F.max("endp").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    marked = hits.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1)
         .otherwise(0))
    islands = marked.withColumn("island", F.sum("new_island").over(w))
    return (islands.groupBy("doc", "island")
            .agg(F.min("pos").alias("span_start"),
                 F.max("endp").alias("span_end"),
                 (F.max("endp") - F.min("pos") + 1).alias("n_tokens"),
                 F.count(F.lit(1)).alias("n_shingles"))
            .drop("island"))


def prefix_filter_candidates(sets: DataFrame,
                             threshold: float = 0.5) -> DataFrame:
    """PPJoin-style prefix-filtered candidate pairs (a, b), a < b, for an
    exact Jaccard join at threshold ``threshold``.

    The all-pairs shared-shingle join (`exact_jaccard`) is quadratic in
    per-shingle document frequency — the classic scale cliff for EXACT
    set-similarity joins. Prefix filtering (Chaudhuri et al. 2006 /
    Xiao et al. PPJoin, public literature) restores scale while keeping
    exactness: order every document's shingles by a global canonical
    order (ascending document frequency, ties lexicographic — rarest
    first), and join only on each side's PREFIX of length
    |s| − ⌈τ·|s|⌉ + 1. Completeness: J(a,b) ≥ τ implies
    |A∩B| ≥ τ·max(|A|,|B|) (from c ≥ τ(|a|+|b|)/(1+τ) and c ≤ min), so
    two qualifying sets must collide inside both prefixes under any
    shared total order. A length filter (min ≥ τ·max) prunes further.

    Rare-first ordering makes prefixes collide on LOW-frequency shingles,
    so the candidate join's key skew is bounded by construction — the
    hot shingles that blow up the naive join sit at the back of every
    document and never enter the prefix. τ = 0.5 is exact in binary
    floating point, so the length/prefix arithmetic has no rounding edge.
    """
    from pyspark.sql import Window

    sh = sets.select("doc", "sz", F.explode("sh").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfreq"))
    w = Window.partitionBy("doc").orderBy("dfreq", "shingle")
    prefix = (
        sh.join(dfreq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn")
                <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
        .select("doc", "sz", "shingle", "rn")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # positional filter (the "P" in PPJoin): a shared prefix token at
    # ranks (ra, rb) in the canonical order caps the achievable overlap
    # at 1 + min(|a|−ra, |b|−rb) (only suffix tokens can still match),
    # while J ≥ τ needs overlap ≥ ⌈τ/(1+τ)·(|a|+|b|)⌉. A true pair's
    # FIRST shared prefix token always satisfies the bound, so dropping
    # violating rows before the distinct loses no pair. Measured at
    # sf0.1 (scripts/setjoin_scale.py): 5.49M → 3.54M candidates on the
    # near-uniform-df fixture — modest, because uniform frequencies give
    # the canonical order little to work with; on Zipfian corpora (the
    # technique's premise) prefixes are genuinely rare tokens and the
    # candidate set approaches output size.
    overlap_need = F.ceil((F.col("a.sz") + F.col("b.sz"))
                          * F.lit(threshold / (1.0 + threshold)))
    overlap_cap = 1 + F.least(F.col("a.sz") - F.col("a.rn"),
                              F.col("b.sz") - F.col("b.rn"))
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc") < F.col("b.doc")))
        .filter(F.least(F.col("a.sz"), F.col("b.sz"))
                >= F.lit(threshold) * F.greatest(F.col("a.sz"), F.col("b.sz")))
        .filter(overlap_cap >= overlap_need)
        .select(F.col("a.doc").alias("a"), F.col("b.doc").alias("b"))
        .distinct()
    )


def estimate_allpairs_candidates(sets: DataFrame) -> int:
    """Cheap df-distribution probe: the exact all-pairs shared-shingle
    join materializes Σ_s C(df_s, 2) candidate rows (df_s = per-shingle
    document frequency). One explode + one two-level aggregate — shingle-
    keyed, map-side combined — returns that sum as a bounded driver
    scalar. O(corpus shingles) work, no joins."""
    # integral arithmetic throughout: float division would make the sum a
    # double and lose exactness above ~2^53 candidates — right where the
    # budget comparison matters. df·(df−1) is even, so summing it and
    # halving once at the end is exact in bigint.
    row = (sets.select(F.explode("sh").alias("shingle"))
           .groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
           .agg((F.sum(F.col("df") * (F.col("df") - 1)).cast("bigint"))
                .alias("c2"))
           .collect())
    return int(row[0]["c2"] or 0) // 2


def near_dup_pairs_exact(df: DataFrame, id_col: str, text_col: str,
                         n: int = 2, threshold: float = 0.5,
                         allpairs_candidate_budget: int = 150_000_000,
                         ) -> DataFrame:
    """EXACT Jaccard near-dup pairs with an ENGINE-CHOSEN physical path
    (r7 verdict #4: the regime decision belongs in the engine, not a
    docstring).

    Both physical paths return the identical exact result set; they differ
    only in cost regime, and the committed sf0.1 measurements
    (scripts/setjoin_scale.py) show a 7× split in EACH direction:

    - near-uniform df (synthetic fixtures): the all-pairs shared-shingle
      join wins (8.6 s vs 59.6 s) — candidate volume is modest and the
      prefix path's extra shuffles (dfreq join, per-doc window, positional
      filter) are pure overhead;
    - Zipfian df (real corpora): all-pairs degenerates quadratically on
      hot shingles; the prefix path's candidates stay near output size.

    The chooser runs `estimate_allpairs_candidates` (one aggregate over
    the shingle table that both paths need anyway) and takes all-pairs iff
    the estimate fits ``allpairs_candidate_budget``. Default calibrated on
    local[32] measurements (r8): at c_all = 36M (sf0.1 fixture) all-pairs
    runs the candidate join+agg in ~4 s where the prefix path takes ~30 s
    of extra dfreq/window/positional machinery; the prefix path's cost is
    near-FLAT in corpus size (candidates track output size), so the
    crossover sits where the quadratic all-pairs term overtakes that flat
    cost — ~300M candidates here; budget = 150M leaves 2x headroom. On a
    wider cluster both sides scale with width: raise proportionally. A
    negative budget always takes the prefix path."""
    sets = shingle_sets(df, id_col, text_col, n=n)
    sets = sets.localCheckpoint(eager=True)  # probe + both paths consume it
    c_all = estimate_allpairs_candidates(sets)
    if c_all <= allpairs_candidate_budget:
        sh = sets.select("doc", F.explode("sh").alias("shingle"))
        return exact_jaccard(sh, threshold=threshold)
    cand = prefix_filter_candidates(sets, threshold=threshold)
    return verify_pairs_jaccard(sets, cand, threshold=threshold)
