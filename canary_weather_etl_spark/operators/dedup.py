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

from ..session import materialize
from .text import TOKEN_SPLIT_RE


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
    """Exploded (doc, shingle) table, one row per distinct n-gram of a
    document. The set-similarity joins take `shingle_sets` instead."""
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


# ---------------------------------------------------------------------------
# Exact set-similarity joins: one set of parts for Jaccard and containment
# (the overlap primitive of SSJoin, Chaudhuri et al. ICDE 2006, with the
# prefix filter of PPJoin, Xiao et al. WWW 2008). Every operator takes
# `shingle_sets` frames (doc, sh, sz) and scores a pair from the exact
# integer counts common = |A∩B|, sz_a = |A| and sz_b = |B|.
# ---------------------------------------------------------------------------

def _shingle_rows(sets: DataFrame) -> DataFrame:
    """(doc, sz, shingle): one row per set element — the narrow explode
    the shared-shingle joins and the frequency ranking run on."""
    return sets.select("doc", "sz", F.explode("sh").alias("shingle"))


def _overlap_counts(rows_a: DataFrame, rows_b: DataFrame,
                    doc_cmp: str | None) -> DataFrame:
    """(a, sz_a, b, sz_b, common) for every doc pair sharing a shingle:
    the shared-shingle join of two `_shingle_rows` frames, counted per
    pair. ``doc_cmp`` ("<" or "!=") restricts the pairs of a self-join.
    The join volume is Σ df² over the shingles — the all-pairs cost."""
    on = F.col("l.shingle") == F.col("r.shingle")
    if doc_cmp is not None:
        on = on & F.expr(f"l.doc {doc_cmp} r.doc")
    return (rows_a.alias("l").join(rows_b.alias("r"), on)
            .groupBy(F.col("l.doc").alias("a"), F.col("l.sz").alias("sz_a"),
                     F.col("r.doc").alias("b"), F.col("r.sz").alias("sz_b"))
            .agg(F.count(F.lit(1)).alias("common")))


def _rarest_first(sets: DataFrame, min_overlap: F.Column) -> DataFrame:
    """(doc, sz, shingle, df, rn, in_prefix): each doc's shingles ranked
    rarest first — ascending document frequency ``df``, ties by shingle,
    one total order for the whole corpus — with ``in_prefix`` on the
    first sz − min_overlap + 1. A doc sharing at least ``min_overlap``
    shingles with another shares one inside this prefix, so prefix rows
    generate every candidate pair while the hot shingles, last in every
    doc, never enter a join."""
    from pyspark.sql import Window

    rows = _shingle_rows(sets)
    dft = rows.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc").orderBy("df", "shingle")
    return (rows.join(dft, "shingle")
            .withColumn("rn", F.row_number().over(w))
            .withColumn("in_prefix",
                        F.col("rn") <= F.col("sz") - min_overlap + 1))


# Candidate-pair ceiling for the guarded broadcast in _verify_overlap:
# below it, each side's candidate-doc list is at most n_pairs distinct
# longs (<= ~32 MB of ids at the limit — well inside executor broadcast
# budgets at any sane executor size); above it, candidate generation has
# degenerated (the lists approach |docs|) and the broadcast that would
# OOM is skipped in favor of a shuffle semi-join.
_BROADCAST_CANDIDATE_PAIRS = 4_000_000


def _verify_overlap(pairs: DataFrame, sets_a: DataFrame,
                    sets_b: DataFrame) -> DataFrame:
    """Exact overlap of CANDIDATE pairs only: each side's shingle set
    joined to the materialized (a, b) ``pairs`` and intersected, adding
    sh_a, sz_a, sh_b, sz_b and common = size(array_intersect). The cost
    is O(|candidates|), whatever the shingle frequencies.

    Both fat joins are preceded by a semi-join of each side's sets to
    its candidate docs, so the shuffles that remain are candidate-sized:
    without it the b-side join shuffled the whole sets frame, since the
    a-side output carries sh_a arrays too fat to broadcast. The semi-join
    builds are BROADCAST while ``pairs`` stays under the ceiling: with no
    hint they plan as SortMergeJoin, and even where AQE converts them at
    runtime the corpus-sized shuffle WRITE of ``sets`` is already paid
    (q_corpus_curation at 1000x ran 264 s against 214 s with the hint);
    an unconditional hint OOMs under degenerate banding, where one band
    hash collides across much of the corpus. ``pairs`` must be
    materialized: it feeds the guard's count, both doc lists and the
    join (unmaterialized, the candidate lineage ran three times and
    OOMed at the 1000x decade)."""
    adocs = pairs.select(F.col("a").alias("doc")).distinct()
    bdocs = pairs.select(F.col("b").alias("doc")).distinct()
    if pairs.count() <= _BROADCAST_CANDIDATE_PAIRS:
        adocs, bdocs = F.broadcast(adocs), F.broadcast(bdocs)
    sets_a = sets_a.join(adocs, "doc", "left_semi")
    sets_b = sets_b.join(bdocs, "doc", "left_semi")
    return (
        pairs
        .join(sets_a.select(F.col("doc").alias("a"),
                            F.col("sh").alias("sh_a"),
                            F.col("sz").alias("sz_a")), "a")
        .join(sets_b.select(F.col("doc").alias("b"),
                            F.col("sh").alias("sh_b"),
                            F.col("sz").alias("sz_b")), "b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
    )


def _jaccard_at_least(overlap: DataFrame, threshold: float) -> DataFrame:
    """(a, b, jaccard) for the pairs of an overlap frame with Jaccard ≥
    ``threshold``. jaccard = |A∩B| / (|A| + |B| − |A∩B|) from exact
    integer counts, so the double division is engine-deterministic."""
    return (overlap
            .withColumn("jaccard",
                        F.col("common").cast("double")
                        / (F.col("sz_a") + F.col("sz_b") - F.col("common")))
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard"))


def _containment_at_least(directed: DataFrame,
                       threshold_units: int) -> DataFrame:
    """(contained, container, common, sz_contained, containment_units)
    for the pairs (a contained in b) of an overlap frame with
    1e6·common DIV sz_a ≥ ``threshold_units``: integer fixed point, so
    every SQL engine computes the same DIV."""
    return (directed
            .select(F.col("a").alias("contained"),
                    F.col("b").alias("container"),
                    F.col("common").cast("long").alias("common"),
                    F.col("sz_a").cast("long").alias("sz_contained"))
            .withColumn("containment_units",
                        F.expr("1000000 * common DIV sz_contained"))
            .filter(F.col("containment_units") >= threshold_units))


def exact_jaccard(sets: DataFrame, threshold: float = 0.0) -> DataFrame:
    """Exact all-pairs Jaccard (a, b, jaccard), a < b, over a
    `shingle_sets` frame via the shared-shingle count. Quadratic in
    per-shingle document frequency: the oracle-checkable ground truth and
    the cheap plan on flat vocabularies; `near_dup_pairs_exact` switches
    to the prefix filter where that cost explodes, and
    `near_dup_pairs_minhash` verifies only LSH candidates."""
    rows = _shingle_rows(sets)
    return _jaccard_at_least(_overlap_counts(rows, rows, "<"), threshold)


def exact_jaccard_cross(sets_a: DataFrame, sets_b: DataFrame,
                        threshold: float = 0.0) -> DataFrame:
    """Exact Jaccard between two `shingle_sets` frames — the
    incremental-admission variant of `exact_jaccard`: score each new
    (a-side) document against the existing corpus (b-side) without the
    self-join's a<b de-duplication. Same cost profile: quadratic in
    per-shingle document frequency, correctness-scale ground truth; the
    100 TB path precomputes MinHash band signatures for the corpus once
    (a persisted table, like the IVF quantizer) and equi-joins only the
    new batch's bands against it."""
    return _jaccard_at_least(
        _overlap_counts(_shingle_rows(sets_a), _shingle_rows(sets_b), None),
        threshold)


def verify_pairs_jaccard(sets: DataFrame, pairs: DataFrame,
                         threshold: float = 0.0) -> DataFrame:
    """Exact Jaccard (a, b, jaccard) of the candidate ``pairs`` only, from
    the shingle sets of ``sets`` (`shingle_sets`). The candidates are
    materialized here (candidate-sized by the LSH and prefix-filter
    contracts) and verified by `_verify_overlap`."""
    return _jaccard_at_least(
        _verify_overlap(materialize(pairs), sets, sets), threshold)


def near_dup_pairs_minhash(df: DataFrame, id_col: str, text_col: str,
                           n: int = 2, num_hashes: int = 32, bands: int = 8,
                           threshold: float = 0.7) -> DataFrame:
    """Full near-dup pipeline: shingle → MinHash → LSH candidates → exact
    Jaccard verification ≥ threshold. The canonical LLM-corpus near-dedup.
    Every stage (signatures → banding → candidate join → verification)
    is bit-reproducible by a SQL oracle."""
    # materialized once (a checkpoint, not cache — it is released
    # on GC, so a long session running many queries doesn't accumulate
    # cached partitions): the set frame feeds signature banding (self-join
    # → 2 consumers) and both sides of verification — unmaterialized the
    # ngram+hash projection recomputes 4x (no shuffle boundary means no
    # exchange reuse).
    sets = materialize(shingle_sets(df, id_col, text_col, n))
    sigs = minhash_signatures_from_sets(sets, num_hashes)
    cands = lsh_candidate_pairs(sigs, bands, num_hashes)
    return verify_pairs_jaccard(sets, cands, threshold=threshold)


def _containment_min_overlap(threshold_units: int) -> F.Column:
    """The fewest shared shingles that reach ``threshold_units`` for a doc
    of size sz: ceil(T·sz / 1e6), the final integer-DIV gate inverted, so
    the prefix bound is tight. sz is an INT, so the product is taken in
    bigint: T·sz passes 2^31 from about 2400 shingles at T = 0.9."""
    return F.expr(
        f"({threshold_units} * CAST(sz AS BIGINT) + 999999) DIV 1000000")


def exact_containment(sets: DataFrame, threshold_units: int) -> DataFrame:
    """Exact containment pairs by the shared-shingle count over every
    ordered pair (a ≠ b). Join volume Σ df², each row consumed by ONE
    count: the cheap plan on a small or flat vocabulary (the documents
    fixture: 3.3 s against 109 s for the prefix plan at sf0.1)."""
    rows = _shingle_rows(sets)
    return _containment_at_least(_overlap_counts(rows, rows, "!="),
                                 threshold_units)


def containment_candidates(sets: DataFrame,
                           threshold_units: int) -> DataFrame:
    """Directed candidate pairs (a, b), a ≠ b, for containment ≥
    ``threshold_units``: a's rarest-first prefix joined to b's whole
    set. containment(a → b) ≥ T needs common ≥ ceil(T·|A|), so a
    qualifying pair shares one of A's |A| − ceil(T·|A|) + 1 rarest
    shingles. Linear on Zipf-distributed text, where the prefix is the
    rare tail; on a flat vocabulary the candidates are nearly all
    sharing pairs."""
    pref = _rarest_first(sets, _containment_min_overlap(threshold_units))
    rows = _shingle_rows(sets)
    return (pref.filter("in_prefix").alias("l")
            .join(rows.alias("r"),
                  (F.col("l.shingle") == F.col("r.shingle"))
                  & (F.col("l.doc") != F.col("r.doc")))
            .select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
            .distinct())


def verify_pairs_containment(sets: DataFrame, pairs: DataFrame,
                             threshold_units: int) -> DataFrame:
    """Exact containment of the directed candidate ``pairs`` (a contained
    in b) only, verified like `verify_pairs_jaccard`."""
    return _containment_at_least(
        _verify_overlap(materialize(pairs), sets, sets), threshold_units)


def _containment_probe(sets: DataFrame,
                       threshold_units: int) -> tuple[int, int, int, int]:
    """(Σ df², shingle rows, docs, prefix-join volume) from ONE aggregate
    over the rarest-first rows: Σ df over all rows is Σ df² over the
    shingles, the rows with rn = 1 count the docs, and Σ df over the
    prefix rows is the volume of `containment_candidates`' join."""
    row = (_rarest_first(sets, _containment_min_overlap(threshold_units))
           .agg(F.sum("df"), F.count(F.lit(1)),
                F.count(F.when(F.col("rn") == 1, 1)),
                F.sum(F.when(F.col("in_prefix"), F.col("df"))))
           .collect()[0])
    return tuple(int(v or 0) for v in row)


def _containment_prefers_prefix(probe: tuple[int, int, int, int]) -> bool:
    """The containment plan choice from `_containment_probe`'s integers:
    the prefix plan iff its volume — prefix-join volume × (1 + 2·mean set
    size), the verification's upper bound — is below the all-pairs Σ df²."""
    v_naive, rows, docs, v_join = probe
    return v_join * (1 + 2 * rows / max(docs, 1)) < v_naive


def containment_pairs(sets: DataFrame,
                      threshold_units: int = 900_000) -> DataFrame:
    """Exact shingle CONTAINMENT pairs: containment(a → b) =
    |Sh(a) ∩ Sh(b)| / |Sh(a)| — the asymmetric near-dup relation Jaccard
    misses. A page wrapped in boilerplate, a quoted email, a doc chunked
    into a larger scrape has containment ≈ 1 toward its container while
    Jaccard collapses with the size gap (|A|/|B| bounds it), so
    MinHash-LSH — which approximates JACCARD — structurally under-recalls
    exactly these pairs. A curation pipeline needs both relations.

    Input: `shingle_sets` (doc, sh, sz). Output
    (contained, container, common, sz_contained, containment_units) for
    every ordered pair with 1e6·common DIV sz_contained ≥
    ``threshold_units``. Mutual containment (near-identical docs) emits
    both directions.

    The engine picks one of two exact plans with a measured crossover
    (SCALE.md r10): `exact_containment` or `containment_candidates`
    verified by `verify_pairs_containment`. `_containment_probe` runs one
    bounded-output job over the ranking pass at build time (a full
    shuffle over the shingle rows); the prefix plan re-derives that
    ranking rather than reusing a checkpoint of it, which saved nothing
    at 30k docs and lost at 100k (scripts/containment_zipf.py). A corpus
    with NO rare tail leaves exact containment near-all-pairs under
    either plan (the flat-vocab fixture at 100× spilled past local
    disk); `containment_pairs_banded` is the bounded-recall path there."""
    if _containment_prefers_prefix(_containment_probe(sets,
                                                      threshold_units)):
        return verify_pairs_containment(
            sets, containment_candidates(sets, threshold_units),
            threshold_units)
    return exact_containment(sets, threshold_units)


def containment_pairs_banded(sets: DataFrame,
                             threshold_units: int = 800_000,
                             num_hashes: int = 32,
                             bands: int = 8) -> DataFrame:
    """BOUNDED-RECALL containment pairs — the 100 TB path for corpora
    with NO rare tail, where both exact plans of `containment_pairs`
    are inherently near-all-pairs (the flat-vocab fixture's measured
    100x disk abort, SCALE.md r10): candidates come from the MinHash-LSH
    band join (pairs agreeing on >= 1 of ``bands`` signature bands), and
    the exact verification of `_verify_overlap` scores BOTH directions of
    every candidate pair. Same output schema and integer fixed-point
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
    # materialized once, as in near_dup_pairs_minhash: the sets feed the
    # signatures and both verification sides, and the candidates'
    # checkpoint cuts the lineage, so unmaterialized the ngram projection
    # ran in two jobs (sf0.1, local[8]: 2.2 s per call against 1.7 s)
    sets = materialize(sets)
    sigs = minhash_signatures_from_sets(sets, num_hashes)
    cands = materialize(lsh_candidate_pairs(sigs, bands, num_hashes))
    pairs = _verify_overlap(cands, sets, sets)
    # one verified pair fans into its two directions
    directed = pairs.select(F.explode(F.array(
        F.struct("a", "b", "common", "sz_a"),
        F.struct(F.col("b").alias("a"), F.col("a").alias("b"), "common",
                 F.col("sz_b").alias("sz_a")),
    )).alias("d")).select("d.*")
    return _containment_at_least(directed, threshold_units)


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
    sig = materialize(simhash(df, id_col, text_col, bits))
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
    # Static overwrite on every seeding write: a re-seed replaces the old
    # state whole, also where the session sets partitionOverwriteMode to
    # dynamic (which would keep the buckets the new corpus misses).
    (postings.write.mode("overwrite").partitionBy("bucket")
     .option("partitionOverwriteMode", "static")
     .parquet(os.path.join(state_dir, "postings")))
    (corpus.select(F.md5(text_col).alias("h")).distinct()
     .withColumn("bucket", F.pmod(F.xxhash64("h"), F.lit(buckets)))
     .repartition("bucket")
     .write.mode("overwrite").partitionBy("bucket")
     .option("partitionOverwriteMode", "static")
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
    batch = materialize(batch)

    if state_dir is not None:
        bsh = (_shingle_rows(shingle_sets(batch, "doc_id", "text", n))
               .withColumn("bucket",
                           F.pmod(F.xxhash64("shingle"), F.lit(buckets)))
               .transform(materialize))
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
        scored = _jaccard_at_least(_overlap_counts(bsh, postings, None),
                                   threshold)
    else:
        corpus = materialize(sp.read.parquet(corpus_dir))
        exact = (batch.select("doc_id", F.md5("text").alias("h"))
                 .join(corpus.select(F.md5("text").alias("h")).distinct(),
                       "h", "left_semi")
                 .select("doc_id").distinct()
                 .withColumn("is_exact", F.lit(True)))
        scored = exact_jaccard_cross(
            shingle_sets(batch, "doc_id", "text", n),
            shingle_sets(corpus, "doc_id", "text", n), threshold)
    near = (scored.groupBy(F.col("a").alias("doc_id"))
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
        .transform(materialize))

    if not writeback:
        return verdicts
    admitted = verdicts.filter(F.col("verdict") == "admit")
    (admitted.select("doc_id", "text")
     .write.mode("append").parquet(corpus_dir))
    if state_dir is not None:
        adm_ids = admitted.select(F.col("doc_id").alias("doc"))
        # repartition on the partition column before the append: without
        # it every task writes a sliver into every touched bucket dir
        # (up to tasks x buckets small files PER BATCH — a long-running
        # stream would fragment the state table); with it, one file per
        # touched bucket per batch, and the shuffle is only batch-sized
        (bsh.join(adm_ids, "doc", "left_semi")
         .select("doc", "sz", "shingle", "bucket")
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
    # static overwrite: see admission_state_init
    (portable_band_table(sigs, bands, num_hashes)
     .withColumn("bucket", F.pmod(F.xxhash64("band_hash"), F.lit(buckets)))
     .repartition("bucket")
     .write.mode("overwrite").partitionBy("bucket")
     .option("partitionOverwriteMode", "static")
     .parquet(os.path.join(state_dir, "bands")))
    (sets
     .withColumn("bucket", F.pmod(F.xxhash64("doc"), F.lit(buckets)))
     .repartition("bucket")
     .write.mode("overwrite").partitionBy("bucket")
     .option("partitionOverwriteMode", "static")
     .parquet(os.path.join(state_dir, "sets")))
    (corpus.select(F.md5(text_col).alias("h")).distinct()
     .withColumn("bucket", F.pmod(F.xxhash64("h"), F.lit(buckets)))
     .repartition("bucket")
     .write.mode("overwrite").partitionBy("bucket")
     .option("partitionOverwriteMode", "static")
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
    batch = materialize(batch)
    bsets = shingle_sets(batch, "doc_id", "text", n)
    bsigs = minhash_signatures_from_sets(bsets, num_hashes)
    bbands = (portable_band_table(bsigs, bands, num_hashes)
              .select(F.col("doc").alias("bdoc"), "band", "band_hash")
              .transform(materialize))

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
                 .select(F.col("bdoc").alias("a"), F.col("doc").alias("b"))
                 .distinct()
                 .transform(materialize))
    else:  # empty batch
        cands = sp.createDataFrame([], "a BIGINT, b BIGINT")

    # point-fetch candidate corpus sets: sparse doc-bucket pruning
    d_touched = [r["db"] for r in
                 cands.select(F.pmod(F.xxhash64("b"),
                                     F.lit(buckets)).alias("db"))
                 .distinct().collect()]
    if d_touched:
        csets = (sp.read.parquet(os.path.join(state_dir, "sets"))
                 .filter(F.col("bucket").isin(d_touched)))
        near = (_jaccard_at_least(_verify_overlap(cands, bsets, csets),
                                  threshold)
                .groupBy(F.col("a").alias("doc_id"))
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
        .transform(materialize))

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
    exact Jaccard join at threshold ``threshold``; `verify_pairs_jaccard`
    scores them.

    The all-pairs shared-shingle join (`exact_jaccard`) is quadratic in
    per-shingle document frequency — the classic scale cliff for EXACT
    set-similarity joins. Prefix filtering restores scale while keeping
    exactness: J(a,b) ≥ τ implies |A∩B| ≥ τ·max(|A|,|B|) (from
    c ≥ τ(|a|+|b|)/(1+τ) and c ≤ min), so two qualifying sets collide
    inside both `_rarest_first` prefixes of length |s| − ⌈τ·|s|⌉ + 1. A
    length filter (min ≥ τ·max) prunes further. Rare-first ordering
    makes prefixes collide on LOW-frequency shingles, so the candidate
    join's key skew is bounded by construction. τ = 0.5 is exact in
    binary floating point, so the length/prefix arithmetic has no
    rounding edge."""
    prefix = (_rarest_first(sets, F.ceil(F.lit(threshold) * F.col("sz")))
              .filter("in_prefix"))
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
    row = (_shingle_rows(sets)
           .groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
           .agg((F.sum(F.col("df") * (F.col("df") - 1)).cast("bigint"))
                .alias("c2"))
           .collect())
    return int(row[0]["c2"] or 0) // 2


# All-pairs candidate budget of `near_dup_pairs_exact`, calibrated on
# local[32] measurements (r8): at c_all = 36M (sf0.1 fixture) all-pairs
# runs the candidate join+agg in ~4 s where the prefix path takes ~30 s
# of extra df/window/positional machinery; the prefix path's cost is
# near-FLAT in corpus size (candidates track output size), so the
# crossover sits where the quadratic all-pairs term overtakes that flat
# cost — ~300M candidates here; 150M leaves 2x headroom. On a wider
# cluster both sides scale with width.
_ALLPAIRS_BUDGET = 150_000_000


def near_dup_pairs_exact(df: DataFrame, id_col: str, text_col: str,
                         n: int = 2, threshold: float = 0.5) -> DataFrame:
    """EXACT Jaccard near-dup pairs with an ENGINE-CHOSEN physical path.

    Both paths return the identical exact result set; they differ only in
    cost, and the committed sf0.1 measurements (scripts/setjoin_scale.py)
    show a 7× split in EACH direction:

    - near-uniform df (synthetic fixtures): the all-pairs shared-shingle
      join (`exact_jaccard`) wins (8.6 s vs 59.6 s) — candidate volume is
      modest and the prefix path's extra shuffles (df join, per-doc
      window, positional filter) are pure overhead;
    - Zipfian df (real corpora): all-pairs degenerates quadratically on
      hot shingles; the prefix path (`prefix_filter_candidates` verified
      by `verify_pairs_jaccard`) keeps candidates near output size.

    The chooser runs `estimate_allpairs_candidates` (one aggregate over
    the shingle sets both paths need anyway) and takes all-pairs iff the
    estimate fits ``_ALLPAIRS_BUDGET``."""
    sets = materialize(shingle_sets(df, id_col, text_col, n=n))
    if estimate_allpairs_candidates(sets) <= _ALLPAIRS_BUDGET:
        return exact_jaccard(sets, threshold)
    return verify_pairs_jaccard(
        sets, prefix_filter_candidates(sets, threshold), threshold)
