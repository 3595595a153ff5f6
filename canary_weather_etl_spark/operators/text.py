"""Text analysis operators (SURVEY.md §2.11): tokenization, quality
scoring, language ID, fingerprinting.

All hot-path logic is built-in `pyspark.sql.functions` column expressions —
JVM-side, whole-stage-codegen-friendly, no Python UDFs (the reference's own
discipline, SURVEY.md §2.10, kept at 100 TB scale). Each operator has a
documented ANSI-SQL twin so the DuckDB oracle can verify it; the shared
constants below are the single source of truth for both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Shared constants — the SQL twins in plans/llm.py are generated from these.
TOKEN_SPLIT_RE = r"\s+"

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")

# Marker-word/char heuristics per language (n-gram-ish language ID: count
# distinctive function words; CJK detected by codepoint class). Ordered —
# first maximal score wins, 'und' (undetermined) when nothing matches.
# LANG_MARKERS is the SQL-twin source of truth (the oracles replay these
# regexes verbatim); WORD_MARKERS is the engine's token-equality form of
# the same four word lists — a consistency pytest pins the two.
WORD_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "was", "for", "with"),
    "es": ("el", "la", "los", "las", "que", "de", "y", "en", "por"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "les", "des", "et", "est", "une", "dans", "pour"),
}

LANG_MARKERS: dict[str, str] = {
    **{lang: r"\b(" + "|".join(ws) + r")\b"
       for lang, ws in WORD_MARKERS.items()},
    "zh": r"[一-鿿]",
}

PUNCT_RE = r"[^\w\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text → array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), TOKEN_SPLIT_RE)


def token_count(col: Column | str) -> Column:
    """Token count. SQL twin: LEN(STRING_SPLIT_REGEX(TRIM(x), '\\s+'))."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Approximate BPE token count: word-piece-ish segmentation by a regex
    that splits words, digits runs, and punctuation separately — the cheap
    stand-in for a real tokenizer when budgeting LLM training data.
    SQL twin: LEN(REGEXP_EXTRACT_ALL(x, pattern)) — the engine counts
    with regexp_count (r13: same match count, no per-match array
    allocation; match-COUNTING sites should never materialize the
    matches)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"[A-Za-z]+|[0-9]|[^\sA-Za-z0-9]"))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def avg_word_len(col: Column | str) -> Column:
    """Mean token length: chars-with-no-whitespace ÷ tokens (exact integer
    division → deterministic double)."""
    c = F.col(col) if isinstance(col, str) else col
    nonspace = F.length(F.regexp_replace(c, r"\s+", ""))
    return nonspace.cast("double") / token_count(c)


def stopword_count(col: Column | str) -> Column:
    """Number of stopword tokens — token-equality filter over the
    whitespace tokenization (4-5x faster than the equivalent
    word-boundary-regex count; the alternation regex dominated the whole
    text-profile cost). SQL twin:
    LEN(LIST_FILTER(tokens, x -> x IN (...)))."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.split(F.lower(F.trim(c)), TOKEN_SPLIT_RE)
    return F.size(F.filter(low, lambda x: x.isin(*STOPWORDS)))


def stopword_ratio(col: Column | str) -> Column:
    return stopword_count(col).cast("double") / token_count(col)


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars ÷ total chars. Counted with regexp_count (r13):
    identical count to the old size(regexp_extract_all(...)) without
    allocating one String per punctuation mark. Measured at 5M docs:
    wall PARITY (94.5 vs 98.0 s for the whole gate — the regex SCAN is
    the floor, not the match allocations), so this is an allocation/GC
    argument, not a claimed speedup (SCALE.md r13)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(PUNCT_RE)).cast("double") / F.length(c)


def quality_ok(col: Column | str,
               min_tokens: int = 20,
               max_avg_word_len: float = 12.0,
               max_punct_ratio: float = 0.3) -> Column:
    """Boolean quality gate: the standard cheap pre-filters an LLM data
    pipeline applies before expensive dedup/scoring stages."""
    return (
        (token_count(col) >= min_tokens)
        & (avg_word_len(col) <= max_avg_word_len)
        & (punct_ratio(col) <= max_punct_ratio)
    )


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Per-language marker-hit counts. r13 shape: the four WORD-marker
    languages count by token equality over ONE punct-normalized
    tokenization; zh stays a codepoint-class regexp_count (it counts
    CHARS, not word tokens). Dict order preserved — lang_id's
    tie-break depends on it.

    WHY tokens, not \\b regexes: the oracles' RE2 \\b is ASCII, and
    Java's \\b is not (it treats e-acute / CJK chars as word chars — no
    boundary, no match), so the pre-r13 Java-\\b engine shape silently
    diverged from every lang-marker oracle on non-ASCII-adjacent
    markers ('theé': RE2 counts 1, Java 0); ASCII fixtures never fired
    it. PUNCT_RE ([^\\w\\s], ASCII \\w in BOTH engines) turns every
    non-word non-space char into a token break, which makes token
    equality on the normalized split EXACTLY the RE2-\\b count —
    hypothesis-fuzzed vs DuckDB incl. 'theé'/'the一'/'2the'/'_the_'
    (tests/test_r13_ops.py).

    Shapes measured at 5M docs (full gate predicate, warm best-of-3):
    Java-\\b-on-raw regexp_count 94.5 s but WRONG per the above; THIS
    shape 109.4 s; punct-normalize + \\b regexp_count 125.5 s (pays the
    replace but keeps the alternation scans too); ASCII-lookaround and
    token-anchored-lookahead regexp_count both >>600 s (Java cannot
    literal-optimize a pattern behind a zero-width assertion, so the
    alternation runs at every char). Correctness costs ~15% of the
    gate stage; every faster shape measured keeps the divergence."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.regexp_replace(F.lower(F.trim(c)), PUNCT_RE, " "),
                   TOKEN_SPLIT_RE)

    def count_in(words: tuple[str, ...]) -> Column:
        # one-arg lambda only: pyspark introspects HOF lambda signatures
        return F.size(F.filter(toks, lambda x: x.isin(*words)))

    scores: dict[str, Column] = {
        lang: count_in(ws) for lang, ws in WORD_MARKERS.items()
    }
    scores["zh"] = F.regexp_count(F.lower(c), F.lit(LANG_MARKERS["zh"]))
    return scores


def lang_id(col: Column | str) -> Column:
    """Predicted language: argmax of marker scores, 'und' if all zero.
    Deterministic tie-break = declaration order of LANG_MARKERS (first
    language hitting the max wins). SQL twin: GREATEST(...) + CASE chain
    in the same order."""
    scores = lang_scores(col)
    mx = F.greatest(*scores.values())
    expr = F.lit("und")
    # build the CASE chain back-to-front so earlier langs win ties
    for lang in reversed(list(scores)):
        expr = F.when(scores[lang] == mx, lang).otherwise(expr)
    return F.when(mx <= 0, "und").otherwise(expr)


def fingerprint(col: Column | str) -> Column:
    """Canonical document fingerprint (OpenRefine-style): lowercase, split,
    distinct, sort, re-join. Two docs with the same bag of words collide —
    the cheap 'same content, different order' dedup key.
    SQL twin: ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(LOWER(x),' '))), ' ')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(F.lower(F.trim(c)), TOKEN_SPLIT_RE))))


def fingerprint_hash(col: Column | str) -> Column:
    """64-bit content fingerprint of the canonical form (xxhash64 —
    engine-specific, so rows-only checked; use `fingerprint` for the
    SQL-matchable variant)."""
    return F.xxhash64(fingerprint(col))


# ------------------- character n-gram LM quality score ----------------------

def char_trigrams(col_name: str) -> Column:
    """array<string> of all character trigrams of lower(text). The
    short-text branch matters: Spark's sequence(1, 0) counts DOWN
    ([1, 0]), it is not empty — so length < 3 must be guarded
    explicitly."""
    e = f"lower({col_name})"
    return F.expr(
        f"CASE WHEN length({e}) < 3 THEN array() "
        f"ELSE transform(sequence(1, length({e}) - 2), "
        f"i -> substring({e}, i, 3)) END")


def trigram_model(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus character-trigram relative frequencies: (tri, logp) with
    logp = log2(cnt / total). One explode + hash-agg pass; the model table
    is bounded by the observed trigram alphabet (≪ corpus size), so it
    broadcasts. The unsmoothed MLE is fine for scoring docs drawn from the
    same corpus (every doc trigram exists in the model by construction)."""
    tris = df.select(F.explode(char_trigrams(text_col)).alias("tri"))
    counts = tris.groupBy("tri").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("double").alias("__total"))
    return (counts.crossJoin(F.broadcast(total))
            .select("tri",
                    F.log2(F.col("cnt") / F.col("__total")).alias("logp")))


def lm_cross_entropy(df: DataFrame, model: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document cross-entropy (bits/trigram) against the corpus
    trigram model — the classic perplexity-proxy quality gate: typical
    text scores low, boilerplate/gibberish scores high. Join is doc-trigram
    × broadcast model; one hash-agg by document."""
    doc_tris = df.select(id_col,
                         F.explode(char_trigrams(text_col)).alias("tri"))
    return (
        doc_tris.join(F.broadcast(model), "tri")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tri"),
             (-F.avg("logp")).alias("xent"))
    )
