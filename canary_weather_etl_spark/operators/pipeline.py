"""End-to-end corpus curation: the operators of this package composed into
the canonical LLM training-data pipeline —

    quality gate → language filter → exact dedup → near-dup removal
    (MinHash/LSH) → chunking → stratified source mixing

One declarative plan per stage; every stage is the scale-shape variant
(hash-key dedup, candidate-only verification, per-row chunking). Stage
row-counts are collected once at the end from a tiny side aggregate, not by
counting each intermediate (which would re-execute the whole lineage per
stage at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize
from .dedup import lsh_candidate_pairs, minhash_signatures_from_sets, shingle_sets, verify_pairs_jaccard
from .text import lang_id, quality_ok


def observed_quality_gate(docs: DataFrame, text_col: str = "text",
                          min_tokens: int = 20,
                          keep_langs: tuple[str, ...] = ("en", "und")):
    """Quality + language gate with its bookkeeping attached as OBSERVED
    metrics on the same pass (`df.observe`): rows-in, quality failures,
    language failures, rows-out accumulate while the filter streams — no
    second scan per metric (at 100 TB a per-stage `count()` re-executes
    the lineage; observation is free).

    Returns (gated_df, observation). Metrics are available on the
    Observation after the first action on the returned frame.
    """
    from pyspark.sql import Observation

    q_ok = quality_ok(text_col, min_tokens=min_tokens)
    l_ok = lang_id(text_col).isin(*keep_langs)
    obs = Observation("quality_gate")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.count(F.when(~q_ok, 1)).alias("quality_fail"),
        F.count(F.when(q_ok & ~l_ok, 1)).alias("lang_fail"),
        F.count(F.when(q_ok & l_ok, 1)).alias("rows_out"),
    )
    return observed.filter(q_ok & l_ok), obs


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_langs: tuple[str, ...] = ("en", "und"),
    min_tokens: int = 20,
    near_dup_threshold: float = 0.5,
    chunk_tokens: int = 40,
    chunk_overlap: int = 10,
    mix_fractions: dict[str, float] | None = None,
    source_col: str = "source",
    seed: int = 42,
) -> DataFrame:
    """Returns the curated chunk table:
    (doc_id, source, chunk_idx, chunk, chunk_tokens).

    Near-dup policy: within each verified near-dup pair, the higher id is
    dropped (keep-first). Exact dups collapse on the content hash with a
    DETERMINISTIC keeper — min id per hash group (r10; dropDuplicates
    picked an arbitrary survivor, the nondeterminism class the r9
    checkpoint fix had to pin — now the choice is deterministic outright,
    identical across engines, partitionings and retries).

    The exact-dedup key is md5(text) and the MinHash stage runs the md5
    universal-hash family, so the WHOLE five-stage composition replays
    bit-for-bit in a SQL oracle (q_corpus_curation since r10).

    PRECONDITION: ``id_col`` must be UNIQUE in ``docs`` (ADVICE r9). The
    chunk stage rebuilds survivor text by semi-joining the RAW scan on
    checkpoint-derived survivor ids (the r9 fix that stopped the regex
    gate running twice); with a duplicated id carrying DIFFERENT text,
    that semi-join would readmit every copy even though the
    gate/exact-dedup lineage excluded some. Dedup upstream on your real
    key before calling — a defensive dropDuplicates(id) here would pick
    an arbitrary copy and silently reintroduce exactly the
    survivor-nondeterminism class this pipeline was fixed to remove.
    """
    survivors = curation_survivors(
        docs, id_col=id_col, text_col=text_col, keep_langs=keep_langs,
        min_tokens=min_tokens, near_dup_threshold=near_dup_threshold)

    # 4. stratified source mixing (data-mix weights)
    if mix_fractions:
        survivors = survivors.sampleBy(source_col, mix_fractions, seed=seed)

    # 5. chunking
    return chunk_stage(survivors, id_col=id_col, source_col=source_col,
                       text_col=text_col, chunk_tokens=chunk_tokens,
                       chunk_overlap=chunk_overlap)


def curation_survivors(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_langs: tuple[str, ...] = ("en", "und"),
    min_tokens: int = 20,
    near_dup_threshold: float = 0.5,
) -> DataFrame:
    """Stages 1-3 of the curation pipeline — quality/language gate, exact
    content-hash dedup (deterministic min-id keeper) and MinHash/LSH
    near-dup removal — returning the SURVIVOR frame with every column of
    ``docs`` intact. Extracted (r14) so mix-stage variants (static
    sampleBy fractions in `curate_corpus`, the drift-adjusted
    deterministic quota in plans/r14_queries) compose the identical
    survivor derivation instead of re-stating it."""
    # 1. quality + language gate — narrow filters, pushed onto the scan
    gated = (
        docs.filter(quality_ok(text_col, min_tokens=min_tokens))
        .filter(lang_id(text_col).isin(*keep_langs))
    )

    # 2. exact dedup on the content hash, keeper = min id per hash group:
    # one window over the hash shuffle, no arbitrary-survivor
    # nondeterminism
    from pyspark.sql import Window

    wh = Window.partitionBy("__h")
    exact = (gated.withColumn("__h", F.md5(F.col(text_col)))
             .withColumn("__keep", F.min(id_col).over(wh))
             .filter(F.col(id_col) == F.col("__keep"))
             .drop("__h", "__keep"))

    # 3. near-dup removal: LSH candidates → verified pairs → drop b-side
    sets = materialize(shingle_sets(exact, id_col, text_col, n=2))
    sigs = minhash_signatures_from_sets(sets, num_hashes=32)
    cands = lsh_candidate_pairs(sigs, bands=8, num_hashes=32)
    dup_pairs = verify_pairs_jaccard(sets, cands,
                                     threshold=near_dup_threshold)
    drop_ids = dup_pairs.select(F.col("b").alias(id_col)).distinct()
    # Survivor ids come from the ALREADY-materialized shingle table, and
    # their text from a semi-join against the RAW scan — never from a
    # second run of `exact`'s lineage. Two reasons, both measured at the
    # 1000x decade (SCALE.md r9): (a) the regex-heavy quality/lang gate
    # is the pipeline's most expensive scan (83 s of the 336 s total at
    # 1000x) and re-deriving `exact` for the chunk stage ran it twice;
    # (b) even though the exact-dedup keeper is now the deterministic
    # min-id window (not dropDuplicates' arbitrary pick), deriving ids
    # from the checkpoint guarantees the near-dup branch and the chunk
    # stage see the SAME survivor set without re-running the keeper's
    # full-row hash shuffle a second time.
    survivor_ids = (sets.select(F.col("doc").alias(id_col))
                    .join(drop_ids, on=id_col, how="left_anti"))
    return docs.join(survivor_ids, on=id_col, how="left_semi")


def chunk_stage(survivors: DataFrame,
                id_col: str = "doc_id",
                source_col: str = "source",
                text_col: str = "text",
                chunk_tokens: int = 40,
                chunk_overlap: int = 10) -> DataFrame:
    """Stage 5: overlapping token-window chunking, stride =
    chunk_tokens - chunk_overlap. One explode over a generated start
    sequence per row — per-row cost only, no shuffle."""
    stride = chunk_tokens - chunk_overlap
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    starts = F.sequence(F.lit(1),
                        F.greatest(F.size(toks) - chunk_overlap, F.lit(1)),
                        F.lit(stride))
    return (
        survivors.select(id_col, source_col, toks.alias("__t"),
                         F.explode(starts).alias("__s"))
        .select(
            id_col, source_col,
            ((F.col("__s") - 1) / stride).cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice("__t", F.col("__s"), chunk_tokens))
             .alias("chunk"),
            F.least(F.size("__t") - F.col("__s") + 1, F.lit(chunk_tokens))
             .cast("int").alias("chunk_tokens"),
        )
    )
