"""Round-10 registry queries.

Widened LLM-curation surface: shingle CONTAINMENT pairs (the asymmetric
near-dup relation Jaccard structurally misses — boilerplate-wrapped
copies, quoted emails, chunk-of-a-scrape) and a fasttext-style quality
classifier applied at the 100 TB shape (literal trained weights, integer
fixed-point features, one narrow row-wise pass). Every query is
SQL-oracled — both are integer-exact end to end.

Reference provenance: the reference repo (ilias-lp/canary-weather-etl
README.md) ships no dedup or scoring; this extends the engine's
LLM-data-pipeline family (SURVEY.md §2.11) with public methods only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import text as T
from .registry import load, load_par, register

# ---------------------------------------------------------------------------
# Shingle containment: the asymmetric near-dup relation
# ---------------------------------------------------------------------------

_CONTAINMENT_SQL = r"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
                                   '\s+'), x -> x <> '') AS t
        FROM documents
    ), grams AS (
        SELECT DISTINCT doc_id AS doc, shingle FROM (
            SELECT doc_id, t[i] || ' ' || t[i+1] AS shingle
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
                  FROM toks)
        )
    ), sizes AS (
        SELECT doc, COUNT(*) AS sz FROM grams GROUP BY doc
    ), common AS (
        SELECT l.doc AS contained, r.doc AS container,
               COUNT(*) AS common
        FROM grams l JOIN grams r
          ON l.shingle = r.shingle AND l.doc <> r.doc
        GROUP BY 1, 2
    )
    SELECT c.contained, c.container, c.common,
           s.sz AS sz_contained,
           1000000 * c.common // s.sz AS containment_units
    FROM common c JOIN sizes s ON s.doc = c.contained
    WHERE 1000000 * c.common // s.sz >= 800000
"""


@register(
    "q_containment_pairs",
    oracle=_CONTAINMENT_SQL,
    doc="Exact shingle CONTAINMENT pairs (|Sh(a)∩Sh(b)| / |Sh(a)| ≥ 0.8, "
        "integer fixed-point units): the ASYMMETRIC near-dup relation — "
        "a page wrapped in boilerplate, a quoted email, a chunk of a "
        "larger scrape has containment ≈ 1 toward its container while "
        "Jaccard collapses with the size gap (bounded by |A|/|B|), so "
        "the MinHash-LSH path structurally under-recalls exactly these "
        "pairs; a curation pipeline needs both relations "
        "(operators/dedup.containment_pairs). Mutual containment "
        "(near-identical docs) correctly emits both directions. EXACT, "
        "with the plan chosen by one build-time probe job over the "
        "rarest-first ranking (Σ df² against the prefix-join volume): "
        "the shared-shingle count over every ordered pair "
        "(dedup.exact_containment, wins on flat vocabularies — the "
        "fixture: 3.3 s vs 109 s at sf0.1, measured) or the "
        "rarest-first PREFIX candidates verified by array intersection "
        "(PPJoin discipline — linearizes on Zipf text where the "
        "contained side's prefix is selective). On this flat fixture "
        "the probe picks the shared-shingle count at sf0.01 and sf0.1. "
        "The oracle recounts every ordered pair's shared bigrams in "
        "DuckDB and checks each pair at ≥800000 units with its common "
        "count, size and units. Honest limit in SCALE.md r10: a corpus "
        "with NO rare tail leaves exact containment inherently "
        "near-all-pairs; the bounded-recall path there is "
        "q_containment_banded_recall.",
    tags=("llm", "dedup"),
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_par(spark, sf_dir, "documents")
    return D.containment_pairs(D.shingle_sets(d, "doc_id", "text", n=2),
                               threshold_units=800_000)


# ---------------------------------------------------------------------------
# Quality classifier: literal trained weights, integer fixed-point features
# ---------------------------------------------------------------------------

# weights "trained offline" and shipped as literals — the deployment shape
# for a fasttext/logreg-style quality model: the 100 TB job never fits,
# it only SCORES. All-integer arithmetic keeps the score engine-exact.
_QW = {"bias": -2_000_000, "tok": 1_000, "stop": 3, "punct": -8,
       "ttr": 1, "awl": -2}
_STOP_IN = ", ".join(f"'{s}'" for s in T.STOPWORDS)

_QUALITY_LOGIT_SQL = rf"""
    WITH f AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS tok,
               CAST(length(text) AS BIGINT) AS chars,
               CAST(len(list_filter(
                        string_split_regex(lower(trim(text)), '\s+'),
                        x -> x IN ({_STOP_IN}))) AS BIGINT) AS stop,
               CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT)
                   AS punct,
               CAST(len(list_distinct(
                        string_split_regex(trim(text), '\s+'))) AS BIGINT)
                   AS dtok,
               CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT)
                   AS nonspace
        FROM documents
    ), u AS (
        SELECT doc_id, source,
               LEAST(tok, 1000) AS tok_capped,
               CASE WHEN tok = 0 THEN 0
                    ELSE 1000000 * stop // tok END AS stop_units,
               CASE WHEN chars = 0 THEN 0
                    ELSE 1000000 * punct // chars END AS punct_units,
               CASE WHEN tok = 0 THEN 0
                    ELSE 1000000 * dtok // tok END AS ttr_units,
               CASE WHEN tok = 0 THEN 0
                    ELSE 100000 * nonspace // tok END AS awl_units
        FROM f
    )
    SELECT doc_id, source, tok_capped, stop_units, punct_units, ttr_units,
           awl_units,
           CAST({_QW['bias']}
                + {_QW['tok']} * tok_capped
                + {_QW['stop']} * stop_units
                + {_QW['punct']} * punct_units
                + {_QW['ttr']} * ttr_units
                + {_QW['awl']} * awl_units AS BIGINT) AS logit_units,
           ({_QW['bias']}
                + {_QW['tok']} * tok_capped
                + {_QW['stop']} * stop_units
                + {_QW['punct']} * punct_units
                + {_QW['ttr']} * ttr_units
                + {_QW['awl']} * awl_units) >= 0 AS keep
    FROM u
"""


@register(
    "q_quality_logit_score",
    oracle=_QUALITY_LOGIT_SQL,
    doc="Model-based quality scoring at the 100 TB shape: a logistic/"
        "fasttext-style classifier with weights TRAINED OFFLINE and "
        "shipped as plan literals scores every document in ONE narrow "
        "row-wise pass — no shuffle, no UDF, whole-stage codegen end to "
        "end. Features are integer fixed-point units (capped token "
        "count; stopword, punctuation, type-token and avg-word-length "
        "ratios as millionth-units via integer DIV), so the logit — and "
        "the keep gate riding the same pass — is engine-exact rather "
        "than float-rounded: the oracle rebuilds every unit bit-for-bit. "
        "The decision threshold stays in logit space (≥ 0), exactly as "
        "a calibrated sigmoid cut would deploy (monotone transform, "
        "same gate, no transcendental in the plan).",
    tags=("llm", "quality"),
)
def q_quality_logit_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    c = F.col("text")
    f = d.select(
        "doc_id", "source",
        T.token_count(c).cast("long").alias("tok"),
        T.char_count(c).cast("long").alias("chars"),
        T.stopword_count(c).cast("long").alias("stop"),
        F.regexp_count(c, F.lit(T.PUNCT_RE)).cast("long").alias("punct"),
        F.size(F.array_distinct(T.tokens(c))).cast("long").alias("dtok"),
        F.length(F.regexp_replace(c, r"\s+", "")).cast("long")
        .alias("nonspace"),
    )
    u = f.select(
        "doc_id", "source",
        F.least(F.col("tok"), F.lit(1000)).alias("tok_capped"),
        F.when(F.col("tok") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("1000000 * stop DIV tok")).alias("stop_units"),
        F.when(F.col("chars") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("1000000 * punct DIV chars")).alias("punct_units"),
        F.when(F.col("tok") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("1000000 * dtok DIV tok")).alias("ttr_units"),
        F.when(F.col("tok") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("100000 * nonspace DIV tok")).alias("awl_units"),
    )
    logit = (
        F.lit(_QW["bias"]).cast("long")
        + F.lit(_QW["tok"]) * F.col("tok_capped")
        + F.lit(_QW["stop"]) * F.col("stop_units")
        + F.lit(_QW["punct"]) * F.col("punct_units")
        + F.lit(_QW["ttr"]) * F.col("ttr_units")
        + F.lit(_QW["awl"]) * F.col("awl_units")
    )
    return u.select(
        "doc_id", "source", "tok_capped", "stop_units", "punct_units",
        "ttr_units", "awl_units",
        logit.cast("long").alias("logit_units"),
        (logit >= 0).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Streaming corpus admission: oracle SQL shared by the admission entries
# ---------------------------------------------------------------------------

def _admission_round_sql(batch: str, corpus_grams: str, corpus_sz: str,
                         corpus_md5: str, bg: str, bsz: str) -> str:
    """One screening round: batch grams vs a corpus gram/size/md5 set —
    the same arithmetic as q_dedup_incremental's oracle."""
    return f"""
    common_{batch} AS (
        SELECT {bg}.doc_id AS a, {corpus_grams}.doc_id AS b, COUNT(*) AS cm
        FROM {bg} JOIN {corpus_grams}
          ON {bg}.shingle = {corpus_grams}.shingle
        GROUP BY 1, 2),
    near_{batch} AS (
        SELECT a AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_near
        FROM common_{batch}
        JOIN {bsz} ON {bsz}.doc_id = a
        JOIN {corpus_sz} ON {corpus_sz}.doc_id = b
        WHERE CAST(cm AS DOUBLE) / ({bsz}.sz + {corpus_sz}.sz - cm) >= 0.5
        GROUP BY 1),
    exact_{batch} AS (
        SELECT DISTINCT b.doc_id FROM {batch} b
        JOIN {corpus_md5} c ON md5(b.text) = c.h),
    verd_{batch} AS (
        SELECT b.doc_id,
               CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                    WHEN COALESCE(n.n_near, 0) > 0 THEN 'near_dup'
                    ELSE 'admit' END AS verdict,
               COALESCE(n.n_near, CAST(0 AS BIGINT)) AS n_near
        FROM {batch} b
        LEFT JOIN exact_{batch} e ON e.doc_id = b.doc_id
        LEFT JOIN near_{batch} n ON n.doc_id = b.doc_id)"""


def _grams_sql(src: str, out: str) -> str:
    # list_filter drops the leading/trailing empty token that split emits
    # for text bounded by non-space whitespace (tab/newline): trim() strips
    # spaces only, so '\\tfoo' splits to ['', 'foo']. The engine's
    # word_ngrams regex shape never emits empty-token shingles, so the
    # oracle must drop them too (r12 ADVICE).
    return f"""
    {out}_t AS (SELECT doc_id,
                list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            x -> x <> '') AS t
                FROM {src}),
    {out} AS (SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, t[i] || ' ' || t[i+1] AS shingle
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
              FROM {out}_t))),
    {out}_sz AS (SELECT doc_id, COUNT(*) AS sz FROM {out} GROUP BY doc_id)"""
