"""Distributed BPE merge training — the tokenizer-induction step of an
LLM data pipeline, as iterative DataFrame aggregation.

The reference repo counts tokens with a fixed regex (README.md's
word-level stats; plans/llm.py `n_bpe_tokens` mirrors it); THIS operator
learns the merge table itself, byte-pair-encoding style (Sennrich et al.
2016, public algorithm):

1. collapse the corpus to a (word, count) frequency table — the corpus
   may be 100 TB but distinct words are millions, so every later round
   touches vocabulary-sized data, not corpus-sized;
2. each round: explode adjacent symbol pairs weighted by word count,
   sum per pair (one map-side-combined shuffle of pair keys), pick the
   most frequent pair (deterministic tie-break: count desc, then pair
   lexicographic), and merge every non-overlapping left-to-right
   occurrence inside the symbol arrays via a JVM array fold — no Python
   in the loop, no driver-side corpus pass;
3. the only driver traffic per round is the single winning pair (the
   same bounded-scalar class as connected_components' convergence count).

Scale shape: `n_merges` rounds x (one pair-count shuffle over the vocab
+ one narrow map to rewrite symbol arrays), with a materialization
cutting lineage every other round. The vocab table is hash-partitioned
once and stays put; pair counting is a plain aggregate, so AQE handles
skewed pairs.

Determinism: counts are integer sums (order-free) and the tie-break is
total, so the merge sequence is bit-reproducible — pinned by an
exact-equality test against a from-scratch Python BPE at sf0.001
(tests/test_llm_operators.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.litexpr import (
    string_array_sql,
    string_int_map_sql,
    string_literal_sql,
)
from ..session import materialize

# end-of-word marker, appended as a distinct final symbol so merges can
# learn suffixes ("ing</w>") without crossing word boundaries
EOW = "</w>"

# The encoders materialize the partially merged symbol arrays every this
# many merges. One nested fold per merge grows the expression tree with
# the merge list, and Catalyst's project collapsing would re-inline
# intermediate projections, so the cut caps codegen input per stage.
FOLD_CADENCE = 64


def _words(text_col: str) -> F.Column:
    """The tokenizer of training, both encoders and the test reference:
    lowercase, trim ASCII space, split on Java-default \\s+ — the ASCII
    class [ \\t\\n\\x0B\\f\\r]. Unicode whitespace (U+00A0, U+2028, ...)
    is NOT a separator; corpora that need it should normalize whitespace
    upstream (operators/text.py cleaning) rather than rely on the
    tokenizer, so the rule stays bit-reproducible across engines and the
    Python reference twin (re.ASCII \\s+)."""
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (word, n, syms): word frequencies with each word as its
    initial symbol array (characters + end-of-word marker).
    Words come from the shared tokenizer ``_words``."""
    words = (docs.select(F.explode(_words(text_col)).alias("word"))
             .filter(F.col("word") != ""))
    return (
        words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "syms",
            F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW))))
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent symbol pairs weighted by word frequency: one explode +
    one aggregate. zip_with over (syms, syms[1:]) builds the pair list
    JVM-side."""
    pairs = vocab.select(
        "n",
        F.explode(
            F.zip_with(
                F.slice("syms", 1, F.size("syms") - 1),
                F.slice("syms", 2, F.size("syms") - 1),
                lambda a, b: F.struct(a.alias("left"), b.alias("right"))))
        .alias("p"))
    return (pairs.groupBy("p.left", "p.right")
            .agg(F.sum("n").alias("pair_n")))


def _merge_fold_sql(prev_sql: str, left: str, right: str) -> str:
    """SQL text of one BPE merge fold: greedy left-to-right
    non-overlapping rewrite of the (left, right) adjacency into the
    merged symbol over the symbol array given by ``prev_sql``. One
    JVM-parsed string per merge (functions.litexpr, r14) — the former
    per-merge Python-lambda fold construction paid a dozen py4j
    round-trips per merge per caller; the analyzed expression is
    identical (pinned by tests/test_litexpr.py)."""
    lft, rgt = string_literal_sql(left), string_literal_sql(right)
    mrg = string_literal_sql(left + right)
    return (f"aggregate({prev_sql}, cast(array() as array<string>), "
            f"(acc, x) -> CASE WHEN size(acc) > 0 "
            f"AND element_at(acc, -1) = {lft} AND x = {rgt} "
            f"THEN concat(slice(acc, 1, size(acc) - 1), array({mrg})) "
            f"ELSE concat(acc, array(x)) END)")


def _merge_pair(vocab: DataFrame, left: str, right: str) -> DataFrame:
    """Rewrite every non-overlapping left-to-right (left, right) adjacency
    into the merged symbol, with a pure JVM array fold (greedy left scan —
    the BPE application rule)."""
    return vocab.withColumn("syms",
                            F.expr(_merge_fold_sql("syms", left, right)))


def _fold_merges(words: DataFrame, key: str,
                 merges: list[tuple[str, str]]) -> tuple[DataFrame, str]:
    """Fold ``merges`` in learned order over each ``word``'s initial symbol
    array. Returns ``(frame, sql)``: ``sql`` is the merged symbol array
    over ``frame``. Every ``FOLD_CADENCE`` merges the partial arrays are
    materialized as ``(key, __syms)`` and folding resumes from that
    column."""
    col_sql = f"concat(split(word, ''), array({string_literal_sql(EOW)}))"
    for i, (left, right) in enumerate(merges):
        col_sql = _merge_fold_sql(col_sql, left, right)
        if (i + 1) % FOLD_CADENCE == 0 and (i + 1) < len(merges):
            words = materialize(
                words.select(key, F.expr(col_sql).alias("__syms")))
            col_sql = "__syms"
    return words, col_sql


def bpe_train(docs: DataFrame, text_col: str = "text",
              n_merges: int = 10, min_pair_count: int = 2) -> DataFrame:
    """Learn `n_merges` BPE merges; returns the merge table
    (rank, left, right, merged, pair_n) in learned order. Stops early if
    no pair reaches `min_pair_count` (merging hapax adjacencies is
    noise). The returned table is what a tokenizer ships."""
    spark = docs.sparkSession
    vocab = materialize(word_freq_table(docs, text_col))
    rows = []
    for rank in range(n_merges):
        top = (_pair_counts(vocab)
               .orderBy(F.col("pair_n").desc(), F.col("left"),
                        F.col("right"))
               .limit(1).collect())
        if not top or top[0]["pair_n"] < min_pair_count:
            break
        left, right, pair_n = (top[0]["left"], top[0]["right"],
                               top[0]["pair_n"])
        rows.append((rank, left, right, left + right, int(pair_n)))
        vocab = _merge_pair(vocab, left, right)
        # materialize every other round: two stacked array folds are
        # optimizer-cheap, and halving the checkpoint jobs halves the
        # scheduling floor that dominates on vocab-sized data (results
        # unchanged — the pair-count aggregate realizes the folds anyway)
        if rank % 2 == 1:
            vocab = materialize(vocab)
    return spark.createDataFrame(
        rows, "rank INT, left STRING, right STRING, merged STRING, "
              "pair_n BIGINT")


def bpe_encode_len(docs: DataFrame, merges: list[tuple[str, str]],
                   id_col: str = "doc_id", text_col: str = "text",
                   out_col: str = "n_bpe") -> DataFrame:
    """Apply a learned merge list and report per-document token counts —
    the budget number sequence packing consumes. Word-level, mirroring
    training: explode words, fold each word's symbol array through the
    merges in learned order (each merge is one JVM array fold with the
    pair INLINED as literals), then sum symbols per document.
    Returns (id_col, out_col).

    Plan-size bound: the symbol column is materialized every
    ``FOLD_CADENCE`` merges, which keeps hundreds of merges feasible; for
    realistic tokenizer sizes (10k+ merges) this whole-fold-per-merge
    shape is the wrong algorithm regardless of plan size — use an
    Arrow-batched encoder that applies the (broadcast) merge table per
    word in Python (rank-priority merge, the standard BPE encode), which
    is O(len·#applied-merges) per word instead of O(len·#all-merges)."""
    words = (docs.select(id_col, F.explode(_words(text_col)).alias("word"))
             .filter(F.col("word") != ""))
    cur, col_sql = _fold_merges(words, id_col, merges)
    counts = (cur.select(id_col,
                         F.expr(f"size({col_sql})").alias("__w_toks"))
              .groupBy(id_col)
              .agg(F.sum("__w_toks").cast("bigint").alias(out_col)))
    # left-join back so empty/whitespace-only docs report 0, not absence —
    # a packing consumer joining budgets must see every document
    return (docs.select(id_col).distinct()
            .join(counts, id_col, "left")
            .select(id_col, F.coalesce(F.col(out_col), F.lit(0))
                    .cast("bigint").alias(out_col)))


def bpe_encode_ids(docs: DataFrame, merges: list[tuple[str, str]],
                   vocab: dict[str, int], id_col: str = "doc_id",
                   text_col: str = "text",
                   out_col: str = "token_ids") -> DataFrame:
    """Apply a learned merge list and emit the per-document TOKEN-ID
    ARRAYS — the actual pretraining artifact (bpe_encode_len only reports
    the budget number). Returns (id_col, out_col array<bigint>, n_tokens).

    Scale shape (the 100 TB path): the merge folds run over the DISTINCT
    word table, not the corpus — a 100 TB corpus has millions of distinct
    words, so the expensive per-merge array folds touch vocabulary-sized
    data once; the corpus-sized work is one broadcast join of the encoded
    word table back onto (doc, position) rows plus one grouped assembly.
    Word order is preserved by position (posexplode → array_sort on the
    collected (pos, ids) structs) — never by collect_list arrival order,
    which is shuffle-nondeterministic.

    ID mapping: symbols missing from ``vocab`` map to -1 (UNK). Lookup is
    ``try_element_at`` so ANSI mode cannot throw on unknown symbols."""
    words = (docs.select(id_col,
                         F.posexplode(_words(text_col)).alias("pos", "word"))
             .filter(F.col("word") != ""))
    cur, col_sql = _fold_merges(words.select("word").distinct(), "word",
                                merges)
    # vocab lookup as ONE parsed map literal (the create_map build paid
    # two py4j round-trips per vocab entry)
    encoded = cur.select(
        "word",
        F.expr(f"transform({col_sql}, s -> cast(coalesce("
               f"try_element_at({string_int_map_sql(vocab)}, s), -1) "
               f"as bigint))").alias("__ids"))
    per_doc = (
        words.join(F.broadcast(encoded), "word")
        .groupBy(id_col)
        .agg(F.flatten(F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "__ids"))),
            lambda x: x["__ids"])).alias(out_col)))
    # left-join back so empty/whitespace-only docs report [], not absence
    return (docs.select(id_col).distinct()
            .join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col(out_col),
                               F.array().cast("array<bigint>"))
                    .alias(out_col))
            .withColumn("n_tokens", F.size(out_col).cast("bigint")))


def bpe_decode_expr(vocab: dict[str, int], ids_col: str = "token_ids",
                    unk: str = "⁇UNK⁇") -> F.Column:
    """Invert ``bpe_encode_ids``: token-id array → whitespace-joined text.

    One literal-array lookup per id, concatenate, split words on the
    ``</w>`` marker — a narrow row-wise projection, no shuffle. Id -1 is
    the encoder's UNK sentinel: (t+1)=0 would make element_at throw at
    runtime, and INVALID_INDEX_OF_ZERO fires even under ``try_element_at``
    (measured on Spark 4.1: index 0 is *invalid*, not "missing"), so the
    sentinel takes an explicit lazy WHEN guard. Any id outside
    [0, len(vocab)) — negative sentinels, beyond-vocab ids, and ids past
    int32 whose (t+1) cast would THROW under ANSI mode (ADVICE r9) — is
    caught by the same WHEN before the cast is ever evaluated, so
    out-of-vocab input degrades to a VISIBLE ``unk`` marker — a
    detectable roundtrip mismatch, never a crashed query.

    Build-time precondition: ``vocab`` ids must be dense 0..len-1 (the
    inverse lookup is a positional literal array); a gapped or
    duplicated-id vocab raises here with the offending ids, not a
    KeyError mid-comprehension."""
    inv = {i: s for s, i in vocab.items()}
    if sorted(inv) != list(range(len(vocab))):
        bad = sorted(set(inv) ^ set(range(len(vocab))))[:10]
        raise ValueError(
            f"bpe_decode_expr requires dense token ids 0..{len(vocab) - 1} "
            f"with no duplicates; got {len(inv)} distinct ids over "
            f"{len(vocab)} symbols (first gaps/extras: {bad})")
    sym_arr = F.expr(string_array_sql(inv[i] for i in range(len(inv))))
    n = len(inv)
    return F.array_join(
        F.filter(
            F.split(
                F.array_join(
                    F.transform(ids_col,
                                lambda t: F.when((t < 0) | (t >= n),
                                                 F.lit(unk))
                                .otherwise(F.coalesce(
                                    F.try_element_at(
                                        sym_arr, (t + 1).cast("int")),
                                    F.lit(unk)))),
                    ""),
                EOW),
            lambda w: w != ""),
        " ")
