"""Round-8 registry queries.

New surface this round (r7 verdict items #7/#8 plus widened LLM-pipeline
coverage): tokenizer APPLY at scale emitting real token-id arrays, a
streaming-upsert end-to-end readback, and further training-data-pipeline
operators. Every query is SQL-oracled unless noted.

Reference provenance: the reference repo (README.md) only counts tokens
with a fixed regex; the tokenizer/encode surface here is the standard
public BPE algorithm (Sennrich et al. 2016) re-expressed Spark-first, as
in operators/bpe.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import materialize
from .llm import _JACCARD_SQL
from .registry import load, load_par, register

# ---------------------------------------------------------------------------
# BPE encode → token-id arrays
# ---------------------------------------------------------------------------

# Planted merge table: EXACTLY what operators/bpe.bpe_train learns on the
# sf0.01 documents corpus (8 merges, min_pair_count=2) — planted as
# literals so the oracle can replay the same merges and the query stays
# deterministic at every SF (encode-only; training is q_bpe_merges).
_BPE_MERGES = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"),
]

# Token-id convention: </w>=0, a..z = 1..26, merged tokens 27+rank in
# learned order. Symbols outside the vocabulary map to -1 (UNK).
_BPE_VOCAB = {"</w>": 0}
_BPE_VOCAB.update({chr(ord("a") + i): i + 1 for i in range(26)})
_BPE_VOCAB.update({l + r: 27 + i for i, (l, r) in enumerate(_BPE_MERGES)})


def _merge_values_sql() -> str:
    rows = ", ".join(
        f"({k}, ' {l} {r} ', ' {l}{r} ')"
        for k, (l, r) in enumerate(_BPE_MERGES))
    return f"m(k, pat, rep) AS (VALUES {rows})"


def _vocab_values_sql() -> str:
    rows = ", ".join(f"('{s}', {i})" for s, i in sorted(_BPE_VOCAB.items()))
    return f"vocab(sym, tid) AS (VALUES {rows})"


# the CTE chain through `wids` (word -> token-id list under the planted
# merges) is shared by the encode oracle and the fertility oracle below
_BPE_ENC_PREFIX = f"""
    WITH RECURSIVE
    doc AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
    warr AS (SELECT doc_id, regexp_split_to_array(t, '\\s+') AS arr
             FROM doc),
    wpos AS (
        SELECT doc_id, pos, arr[pos] AS word
        FROM (SELECT doc_id, arr,
                     unnest(generate_series(1, len(arr))) AS pos
              FROM warr)
        WHERE arr[pos] <> ''),
    dw AS (SELECT DISTINCT word FROM wpos),
    init AS (SELECT word,
                    ' ' || array_to_string(string_split(word, ''), ' ')
                        || ' </w> ' AS s
             FROM dw),
    {_merge_values_sql()},
    -- BPE application = for each merge in learned order, replace the
    -- LEFTMOST occurrence and rescan until none remain (greedy
    -- left-to-right non-overlapping — equivalent to the engine's array
    -- fold), then advance to the next merge. Single-space sentinels make
    -- ' l r ' match whole symbols only.
    r(word, s, k) AS (
        SELECT word, s, 0 FROM init
        UNION ALL
        SELECT r.word,
               CASE WHEN strpos(r.s, m.pat) > 0
                    THEN substr(r.s, 1, strpos(r.s, m.pat) - 1) || m.rep
                         || substr(r.s, strpos(r.s, m.pat) + length(m.pat))
                    ELSE r.s END,
               CASE WHEN strpos(r.s, m.pat) > 0 THEN r.k ELSE r.k + 1 END
        FROM r JOIN m ON m.k = r.k),
    enc AS (SELECT word, string_split(trim(s), ' ') AS ta
            FROM r WHERE k = {len(_BPE_MERGES)}),
    {_vocab_values_sql()},
    syms AS (
        SELECT word, ord, ta[ord] AS sym
        FROM (SELECT word, ta, unnest(generate_series(1, len(ta))) AS ord
              FROM enc)),
    wids AS (
        SELECT s.word, list(COALESCE(v.tid, -1) ORDER BY s.ord) AS ids
        FROM syms s LEFT JOIN vocab v ON v.sym = s.sym
        GROUP BY s.word)
"""

_BPE_IDS_ORACLE = _BPE_ENC_PREFIX + """,
    docids AS (
        SELECT w.doc_id, flatten(list(wi.ids ORDER BY w.pos)) AS tids
        FROM wpos w JOIN wids wi ON wi.word = w.word
        GROUP BY w.doc_id)
    SELECT d.doc_id,
           -- space-joined id STRING, not BIGINT[]: the external driver's
           -- pandas canonicalizer sorts result columns and cannot hash
           -- list cells (the r9 red row) — flatten on BOTH sides.
           -- DuckDB's array_to_string of an EMPTY list is NULL, so the
           -- empty-document case needs the outer COALESCE to ''.
           COALESCE(array_to_string(di.tids, ' '), '') AS token_ids,
           CAST(COALESCE(len(di.tids), 0) AS BIGINT) AS n_tokens
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN docids di USING (doc_id)
"""


@register(
    "q_bpe_encode_ids",
    oracle=_BPE_IDS_ORACLE,
    doc="Tokenizer APPLY at scale: encode every document into its BPE "
        "token-ID array — the actual pretraining artifact — with a "
        "planted 8-merge table (bit-identical to what bpe_train learns "
        "on this corpus at sf0.01) and the documented id convention "
        "(</w>=0, a..z=1..26, merges 27+rank, UNK=-1). Scale shape: the "
        "per-merge array folds run over the DISTINCT word table "
        "(vocabulary-sized), corpus-sized work is one broadcast join of "
        "encoded words onto positions + one grouped assembly ordered by "
        "explicit position, never by shuffle arrival. The oracle replays "
        "the merges as leftmost-replace-to-fixpoint over space-joined "
        "symbols inside one recursive CTE — provably the same greedy "
        "non-overlapping scan as the engine's JVM fold (and pinned "
        "against a from-scratch Python encoder in tests). The registry "
        "RESULT flattens the id array to a space-joined string: the "
        "driver's pandas canonicalizer cannot hash list cells, and the "
        "registry contract (test_registry_contract) forbids top-level "
        "complex result columns; the operator itself still returns the "
        "real array<bigint> artifact.",
    tags=("llm", "tokenizer"), bench=True,
)
def q_bpe_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_encode_ids
    docs = load_par(spark, sf_dir, "documents")
    ids = bpe_encode_ids(docs, _BPE_MERGES, _BPE_VOCAB)
    return ids.select(
        "doc_id",
        F.array_join(F.col("token_ids").cast("array<string>"), " ")
        .alias("token_ids"),
        "n_tokens")


# ---------------------------------------------------------------------------
# Streaming upsert → table readback (end-to-end foreachBatch driver row)
# ---------------------------------------------------------------------------

_STREAM_UPSERT_ORACLE = """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS date,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2),
    b AS (SELECT MIN(date) AS d0 FROM daily),
    b1 AS (SELECT user_id, date, n_events AS metric
           FROM daily, b WHERE date < d0 + 20),
    b2 AS (SELECT user_id, date, n_events + 1000 AS metric
           FROM daily, b WHERE date >= d0 + 10 AND date < d0 + 30)
    SELECT user_id, date, CAST(metric AS BIGINT) AS metric FROM b2
    UNION ALL
    SELECT user_id, date, CAST(metric AS BIGINT) AS metric
    FROM b1 WHERE NOT EXISTS (SELECT 1 FROM b2
                              WHERE b2.user_id = b1.user_id
                                AND b2.date = b1.date)
"""


@register(
    "q_stream_upsert_readback",
    oracle=_STREAM_UPSERT_ORACLE,
    doc="End-to-end streaming upsert (r7 verdict #8): two overlapping "
        "daily-aggregate batches land as file drops, a foreachBatch "
        "stream (streaming/jobs.stream_upsert_sink → the SAME "
        "sources.weather.upsert_clean operator as the batch path: "
        "left_anti survivors + unionByName, committed as a new version of "
        "the table's file manifest) upserts them new-wins-on-(user_id, "
        "date) into a partitioned table, and the query returns the table "
        "READ BACK from the files its manifest lists. The "
        "oracle is the pure-SQL new-wins twin (batch2 ∪ batch1-not-in-"
        "batch2). Only affected partitions are rewritten — at 100 TB the "
        "upsert cost is O(touched partitions), not table size.",
    tags=("streaming", "upsert"),
)
def q_stream_upsert_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..sources.weather import read_clean
    from ..streaming.jobs import drain, stream_upsert_sink

    e = load(spark, sf_dir, "events")
    daily = (e.groupBy("user_id", F.to_date("ts").alias("date"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_events")))
    d0 = daily.agg(F.min("date")).collect()[0][0]  # bounded driver scalar

    def mk(df, bump):
        return (df.select(
            "user_id", "date",
            (F.col("n_events") + F.lit(bump)).cast("bigint").alias("metric"))
            .withColumn("island", F.lit("events"))
            .withColumn("location_name",
                        F.concat(F.lit("u"),
                                 (F.col("user_id") % 4).cast("string")))
            .withColumn("year", F.year("date"))
            .withColumn("month", F.month("date")))

    b1 = mk(daily.filter(F.col("date") < F.date_add(F.lit(d0), 20)), 0)
    b2 = mk(daily.filter(
        (F.col("date") >= F.date_add(F.lit(d0), 10))
        & (F.col("date") < F.date_add(F.lit(d0), 30))), 1000)

    base = tempfile.mkdtemp(prefix="canary_stream_upsert_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    drops = os.path.join(base, "drops")
    table = os.path.join(base, "table")
    ckpt = os.path.join(base, "ckpt")

    b1.coalesce(2).write.mode("overwrite").parquet(drops)
    schema = spark.read.parquet(drops).schema
    # drain() (streaming/jobs.py) asserts awaitTermination returned True
    # and re-raises q.exception() — a silent timeout here would read a
    # partial table and fail later as an opaque hash mismatch, or start
    # the second query against a checkpoint the first still holds.
    drain(stream_upsert_sink(
        spark.readStream.schema(schema).parquet(drops), table, ckpt,
        keys=("user_id", "date")))
    b2.coalesce(2).write.mode("append").parquet(drops)
    drain(stream_upsert_sink(
        spark.readStream.schema(schema).parquet(drops), table, ckpt,
        keys=("user_id", "date")))

    return (read_clean(spark, table)
            .select("user_id", "date", F.col("metric").cast("bigint")
                    .alias("metric")))


# ---------------------------------------------------------------------------
# Regime-chosen exact set-similarity join
# ---------------------------------------------------------------------------

@register(
    "q_setjoin_auto_regime",
    oracle=_JACCARD_SQL,
    doc="EXACT word-bigram Jaccard pairs (≥0.5) with the physical path "
        "chosen BY THE ENGINE (dedup.near_dup_pairs_exact): one cheap "
        "df-distribution probe (Σ df·(df−1)/2 over the shingle table — "
        "the exact all-pairs candidate count) decides between the "
        "count-based all-pairs join (uniform-df regime, wins 8.6 vs "
        "59.6 s on this fixture at sf0.1) and the PPJoin "
        "prefix+positional path (Zipfian regime, where all-pairs is "
        "quadratic on hot shingles). Identical result set either way. "
        "At sf0.01 and sf0.1 the probe stays under the 150M budget and "
        "takes the all-pairs path (dedup.exact_jaccard); "
        "q_setjoin_prefix_filter runs the prefix path's parts directly "
        "against the same oracle (every pair with bigram Jaccard ≥0.5 "
        "and its exact score). Both paths on one corpus pinned in "
        "tests/test_r8_ops.py.",
    tags=("llm", "dedup"),
)
def q_setjoin_auto_regime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import near_dup_pairs_exact
    d = load_par(spark, sf_dir, "documents")
    return near_dup_pairs_exact(d, "doc_id", "text", n=2, threshold=0.5)


# ---------------------------------------------------------------------------
# Product-quantization ANN (ADC top-k), bit-exact oracle
# ---------------------------------------------------------------------------

def _pq_oracle(m: int = 2, k: int = 4, iterations: int = 2,
               dims: int = 64, topk: int = 10,
               scale: int = 1_000_000, tail: str = "adc") -> str:
    """Unrolled SQL twin of the full PQ pipeline (train m codebooks with
    Lloyd k-means per subspace → encode → ADC top-k). Same quantization,
    init (vec_id < k), argmin tie-break (dist, cid), FLOOR(sum/n) update,
    and empty-cluster carry as operators/clustering.kmeans_fixed — the
    q_kmeans_lloyd oracle pattern applied per subspace."""
    sublen = dims // m
    parts = [f"""
    q AS (
        SELECT vec_id, u.ord AS ord,
               CAST((u.ord - 1) // {sublen} AS INT) AS sub,
               CAST(FLOOR(CAST(u.val AS DOUBLE) * {scale} + 0.5) AS BIGINT)
                   AS qv
        FROM (SELECT vec_id,
                     unnest(list_transform(embedding,
                            (x, i) -> {{'val': x, 'ord': i}})) AS u
              FROM embeddings)
    )"""]
    for s in range(m):
        parts.append(f"""
    qs{s} AS (SELECT vec_id, ord, qv FROM q WHERE sub = {s}),
    c{s}_0 AS (SELECT CAST(vec_id AS INT) AS cid, ord, qv AS cv
               FROM qs{s} WHERE vec_id < {k})""")
        for t in range(1, iterations + 1):
            parts.append(f"""
    d{s}_{t} AS (
        SELECT q.vec_id, c.cid,
               CAST(SUM((q.qv - c.cv) * (q.qv - c.cv)) AS BIGINT) AS dist
        FROM qs{s} q JOIN c{s}_{t - 1} c ON q.ord = c.ord
        GROUP BY q.vec_id, c.cid
    ),
    a{s}_{t} AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d{s}_{t}) WHERE rn = 1
    ),
    c{s}_{t} AS (
        SELECT p.cid, p.ord,
               COALESCE(CAST(FLOOR(CAST(x.sq AS DOUBLE) / x.n) AS BIGINT),
                        p.cv) AS cv
        FROM c{s}_{t - 1} p LEFT JOIN (
            SELECT a.cid, q.ord, CAST(SUM(q.qv) AS BIGINT) AS sq,
                   COUNT(*) AS n
            FROM a{s}_{t} a JOIN qs{s} q ON q.vec_id = a.vec_id
            GROUP BY a.cid, q.ord) x
        ON x.cid = p.cid AND x.ord = p.ord
    )""")
        parts.append(f"""
    de{s} AS (
        SELECT q.vec_id, c.cid,
               CAST(SUM((q.qv - c.cv) * (q.qv - c.cv)) AS BIGINT) AS dist
        FROM qs{s} q JOIN c{s}_{iterations} c ON q.ord = c.ord
        GROUP BY q.vec_id, c.cid
    ),
    e{s} AS (
        SELECT vec_id, cid AS code FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM de{s}) WHERE rn = 1
    ),
    dt{s} AS (
        SELECT cid, dist AS d FROM de{s} WHERE vec_id = 0
    )""")
    e_joins = " ".join(
        f"JOIN e{s} ON e{s}.vec_id = e0.vec_id" for s in range(1, m))
    dt_joins = " ".join(
        f"JOIN dt{s} ON dt{s}.cid = e{s}.code" for s in range(m))
    adc_sum = " + ".join(f"dt{s}.d" for s in range(m))
    if tail == "buckets":
        code_cols = ", ".join(f"e{s}.code AS code_{s}" for s in range(m))
        group_cols = ", ".join(f"code_{s}" for s in range(m))
        return f"""
    WITH {','.join(parts)},
    codes AS (SELECT e0.vec_id, {code_cols} FROM e0 {e_joins})
    SELECT {group_cols},
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(MIN(vec_id) AS BIGINT) AS keeper_vec_id
    FROM codes GROUP BY {group_cols}
    """
    return f"""
    WITH {','.join(parts)},
    adc AS (
        SELECT e0.vec_id, CAST({adc_sum} AS BIGINT) AS adc_units
        FROM e0 {e_joins} {dt_joins}
        WHERE e0.vec_id <> 0)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY adc_units, vec_id) AS INT)
               AS rank,
           vec_id, adc_units
    FROM adc
    ORDER BY adc_units, vec_id
    LIMIT {topk}
    """


@register(
    "q_pq_adc_topk",
    oracle=_pq_oracle(m=2, k=4, iterations=2, dims=64, topk=10),
    doc="Product-quantization ANN (Jégou et al. 2011, public method), the "
        "memory-bound scale path the LSH/IVF/JL family lacked: train m=2 "
        "per-subspace codebooks with the SAME fixed-point Lloyd k-means "
        "as q_kmeans_lloyd (broadcast centroids, zero-shuffle assignment "
        "fold), compress every vector to m small codes (64 dims → 2 "
        "codes/vector of residency), and answer the query by ASYMMETRIC "
        "distance: the query's m×k integer distance table is driver-side "
        "literals, each corpus row pays m literal-array lookups — no "
        "joins, no vector math at query time — then TakeOrderedAndProject "
        "for the top-k. Bit-exact against a fully unrolled SQL oracle "
        "(train + encode + ADC in one recursive-free CTE chain). At 100 "
        "TB: codebooks train on a sample once, the code table is ~1000x "
        "smaller than the vectors, and query cost is a narrow scan of "
        "integer codes.",
    tags=("llm", "similarity", "iterative"), bench=True,
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import clustering as C
    from ..operators import similarity as S
    emb = load_par(spark, sf_dir, "embeddings")
    # quantize feeds m trainings + the encode + the query row: one
    # materialization (GC-released blocks)
    qdf = materialize(C.quantize_vectors(emb))
    books = S.pq_train_codebooks(qdf, m=2, k=4, iterations=2)
    q0 = [int(v) for v in
          qdf.filter(F.col("vec_id") == 0).collect()[0]["qvec"]]
    codes = S.pq_encode(qdf.filter(F.col("vec_id") != 0), books)
    return S.pq_adc_topk(codes, q0, books, k_top=10)


# ---------------------------------------------------------------------------
# DSIR-style importance weighting for domain mixing (integer-exact)
# ---------------------------------------------------------------------------

_DSIR_ORACLE = """
    WITH toks AS (
        SELECT doc_id, source,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents),
    toks2 AS (SELECT * FROM toks WHERE w <> ''),
    v AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS vsz FROM toks2),
    tgt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n
            FROM toks2 WHERE source = 'src0' GROUP BY w),
    src AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n
            FROM toks2 WHERE source <> 'src0' GROUP BY w),
    tot AS (SELECT
              (SELECT CAST(SUM(n) AS BIGINT) FROM tgt) AS nt,
              (SELECT CAST(SUM(n) AS BIGINT) FROM src) AS ns),
    ratio AS (
        SELECT a.w,
               CAST((10000 * (COALESCE(t.n, 0) + 1) * (tot.ns + v.vsz))
                    // ((COALESCE(s.n, 0) + 1) * (tot.nt + v.vsz))
                    AS BIGINT) AS r_units
        FROM (SELECT DISTINCT w FROM toks2) a
        LEFT JOIN tgt t ON t.w = a.w
        LEFT JOIN src s ON s.w = a.w, tot, v),
    scored AS (
        SELECT k.doc_id, MIN(k.source) AS source,
               CAST(SUM(r.r_units) AS BIGINT) AS score_units
        FROM toks2 k JOIN ratio r ON r.w = k.w
        WHERE k.source <> 'src0'
        GROUP BY k.doc_id)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_units DESC, doc_id)
                AS INT) AS rank,
           doc_id, source, score_units
    FROM scored
    ORDER BY score_units DESC, doc_id
    LIMIT 20
"""


@register(
    "q_dsir_importance",
    oracle=_DSIR_ORACLE,
    doc="Data-selection-by-importance-resampling (DSIR, Xie et al. 2023 — "
        "public method) in INTEGER fixed-point: score every candidate "
        "document by how target-like its unigram distribution is. Per "
        "word, the Laplace-smoothed target/source likelihood ratio is one "
        "exact bigint expression — (10^4·(n_t+1)·(N_s+V)) div "
        "((n_s+1)·(N_t+V)) — so no ln/float crosses the engines; a doc's "
        "score is the multiplicity-weighted sum of its tokens' ratio "
        "units, and the top-20 most-target-like source docs come back "
        "ranked. Scale shape: two vocabulary-sized count aggregates, one "
        "broadcast join of the ratio table onto the exploded corpus (the "
        "one corpus-sized stage — token rows with an 8-byte payload), one "
        "grouped sum, TakeOrderedAndProject. The scale constant 10^4 "
        "keeps the product under 2^63 even at 100x-amplified corpora.",
    tags=("llm", "curation"), bench=True,
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    d = load_par(spark, sf_dir, "documents")
    toks = (d.select("doc_id", "source",
                     F.explode(F.split(F.lower(F.trim("text")), r"\s+"))
                     .alias("w"))
            .filter(F.col("w") != ""))
    # toks is deliberately NOT materialized: its two consumers (the
    # counts aggregate and the score join) each re-derive the narrow
    # explode from the column-pruned parquet scan, which measures CHEAPER
    # than checkpointing corpus-sized token rows at every decade probed —
    # 1.9/8.1/318 s with the checkpoint vs 1.95/5.6/83 s without at
    # sf0.1/100x/1000x (SCALE.md; the HITS two-copy lesson again:
    # materializing data-sized intermediates loses on a shared heap)
    # ONE map-side-combined aggregate over the corpus yields the whole
    # model: per-word target and source counts together (fused r8 —
    # previously vsz / tgt / src / N_t / N_s each re-scanned the token
    # table, ~6 corpus passes; now 1). Everything downstream of `counts`
    # is vocabulary-sized: V = its row count, N_t / N_s are its column
    # sums, and the ratio table is a plain projection — the two left
    # joins are gone entirely.
    counts = (toks.groupBy("w")
              .agg(F.sum(F.when(F.col("source") == "src0", 1)
                         .otherwise(0)).alias("nt"),
                   F.sum(F.when(F.col("source") != "src0", 1)
                         .otherwise(0)).alias("ns"))
              .transform(materialize))
    vsz = counts.count()
    tot = counts.agg(F.sum("nt").alias("t"), F.sum("ns").alias("s")) \
                .collect()[0]
    n_t, n_s = int(tot["t"]), int(tot["s"])
    ratio = counts.select("w", F.expr(
        f"CAST((10000 * (nt + 1) * ({n_s} + {vsz})) "
        f"DIV ((ns + 1) * ({n_t} + {vsz})) "
        f"AS BIGINT)").alias("r_units"))
    scored = (toks.filter(F.col("source") != "src0")
              .join(F.broadcast(ratio), "w")
              .groupBy("doc_id")
              .agg(F.min("source").alias("source"),
                   F.sum("r_units").cast("bigint").alias("score_units")))
    top = scored.orderBy(F.desc("score_units"), "doc_id").limit(20)
    # rank AFTER the cut: 20-row frame by construction, safe at any scale
    w = Window.orderBy(F.desc("score_units"), "doc_id")
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", "source", "score_units"))


# ---------------------------------------------------------------------------
# Clamped running balance (closed-form window, no recursion needed)
# ---------------------------------------------------------------------------

@register(
    "q_capped_balance",
    oracle="""
    WITH d AS (
        SELECT user_id, ts, event_id,
               CAST(ROUND(value * 100) AS BIGINT)
                   * (CASE WHEN event_type = 'purchase' THEN -1 ELSE 1 END)
                   AS delta
        FROM events WHERE value IS NOT NULL),
    p AS (
        SELECT user_id, ts, event_id, delta,
               SUM(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS pre
        FROM d),
    q AS (
        SELECT user_id, pre,
               LEAST(CAST(0 AS BIGINT),
                     MIN(pre) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)) AS floor_off,
               CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id
                                            ORDER BY ts DESC,
                                                     event_id DESC) = 1
                    THEN 1 ELSE 0 END AS is_last
        FROM p),
    b AS (SELECT user_id, pre - floor_off AS bal, is_last FROM q)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN bal = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_at_floor,
           CAST(MAX(bal) AS BIGINT) AS max_balance_cents,
           CAST(MAX(CASE WHEN is_last = 1 THEN bal END) AS BIGINT)
               AS final_balance_cents
    FROM b GROUP BY user_id
    """,
    doc="Floor-clamped running balance: b_t = max(0, b_{t-1} + delta_t) "
        "per user over time-ordered integer-cent deltas (purchases debit, "
        "everything else credits) — the inventory/wallet recurrence that "
        "LOOKS like it needs row-at-a-time state. It doesn't: one-sided "
        "clamping has the closed form b_t = prefix_t − least(0, "
        "running_min(prefix)_t), so the whole operator is two stacked "
        "window passes over the SAME (user, ts) sort order — Catalyst "
        "plans a single sort+exchange, all JVM. Emits per-user event "
        "count, times pinned at the floor, max and final balance. At "
        "scale: one shuffle on user_id, per-user sorted runs, no UDF.",
    tags=("window", "analytics"), bench=True,
)
def q_capped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.select(
        "user_id", "ts", "event_id",
        (F.round(F.col("value") * 100).cast("bigint")
         * F.when(F.col("event_type") == "purchase", -1).otherwise(1))
        .alias("delta"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    p = d.withColumn("pre", F.sum("delta").over(w))
    wl = Window.partitionBy("user_id").orderBy(F.desc("ts"),
                                               F.desc("event_id"))
    q = p.withColumn(
        "floor_off",
        F.least(F.lit(0).cast("bigint"), F.min("pre").over(w))) \
        .withColumn("is_last",
                    (F.row_number().over(wl) == 1).cast("int"))
    b = q.select("user_id",
                 (F.col("pre") - F.col("floor_off")).alias("bal"),
                 "is_last")
    return (b.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.sum(F.when(F.col("bal") == 0, 1).otherwise(0))
                 .cast("bigint").alias("n_at_floor"),
                 F.max("bal").cast("bigint").alias("max_balance_cents"),
                 F.max(F.when(F.col("is_last") == 1, F.col("bal")))
                 .cast("bigint").alias("final_balance_cents")))


# ---------------------------------------------------------------------------
# Two-sided clamped balance (floor AND cap) — the genuinely recursive case
# ---------------------------------------------------------------------------

_CAP_CENTS = 10_000  # 100.00 — binds on this fixture's value distribution

_INVENTORY_ORACLE = f"""
    WITH RECURSIVE d AS (
        SELECT user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n,
               CAST(ROUND(value * 100) AS BIGINT)
                   * (CASE WHEN event_type = 'purchase' THEN -1 ELSE 1 END)
                   AS delta
        FROM events WHERE value IS NOT NULL),
    r AS (
        SELECT user_id, rn, n,
               LEAST({_CAP_CENTS}, GREATEST(0, delta)) AS bal,
               CASE WHEN LEAST({_CAP_CENTS}, GREATEST(0, delta)) = 0
                    THEN 1 ELSE 0 END AS nf,
               CASE WHEN LEAST({_CAP_CENTS}, GREATEST(0, delta))
                        = {_CAP_CENTS} THEN 1 ELSE 0 END AS nc
        FROM d WHERE rn = 1
        UNION ALL
        SELECT d.user_id, d.rn, d.n,
               LEAST({_CAP_CENTS}, GREATEST(0, r.bal + d.delta)),
               r.nf + CASE WHEN LEAST({_CAP_CENTS},
                                      GREATEST(0, r.bal + d.delta)) = 0
                           THEN 1 ELSE 0 END,
               r.nc + CASE WHEN LEAST({_CAP_CENTS},
                                      GREATEST(0, r.bal + d.delta))
                               = {_CAP_CENTS} THEN 1 ELSE 0 END
        FROM r JOIN d ON d.user_id = r.user_id AND d.rn = r.rn + 1)
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           CAST(nf AS BIGINT) AS n_at_floor,
           CAST(nc AS BIGINT) AS n_at_cap,
           CAST(bal AS BIGINT) AS final_balance_cents
    FROM r WHERE rn = n
"""


@register(
    "q_inventory_clamped",
    oracle=_INVENTORY_ORACLE,
    doc="TWO-sided clamped running balance: b_t = min(CAP, max(0, b_{t-1} "
        "+ delta_t)) per user — unlike the one-sided case "
        "(q_capped_balance, closed-form windows) this recurrence has NO "
        "prefix-sum closed form, the textbook justification for the "
        "repo's UDF-as-last-resort rule. Spark side: ONE "
        "applyInPandas over user_id groups (Arrow-batched; the per-group "
        "Python loop is O(events/user) over an int64 numpy array), "
        "emitting per-user floor/cap hit counts and the final balance. "
        "Oracle: a DuckDB recursive CTE stepping row-by-row per user. At "
        "100 TB: one shuffle on user_id (same as any sessionization), "
        "per-group state is 3 ints, and group iteration is the "
        "irreducible serial core of the semantics — not an expressible-"
        "in-SQL loop smuggled into Python.",
    tags=("window", "analytics", "pandas-udf"),
)
def q_inventory_clamped(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.select(
        "user_id", "ts", "event_id",
        (F.round(F.col("value") * 100).cast("bigint")
         * F.when(F.col("event_type") == "purchase", -1).otherwise(1))
        .alias("delta"))
    cap = _CAP_CENTS

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        bal, nf, nc = 0, 0, 0
        for dlt in pdf["delta"].to_numpy():
            bal = min(cap, max(0, bal + int(dlt)))
            nf += bal == 0
            nc += bal == cap
        return pd.DataFrame(
            [[int(pdf["user_id"].iloc[0]), len(pdf), nf, nc, bal]],
            columns=["user_id", "n_events", "n_at_floor", "n_at_cap",
                     "final_balance_cents"])

    return d.groupBy("user_id").applyInPandas(
        run, "user_id bigint, n_events bigint, n_at_floor bigint, "
             "n_at_cap bigint, final_balance_cents bigint")


# ---------------------------------------------------------------------------
# BPE decode — the tokenizer round trip is lossless
# ---------------------------------------------------------------------------

@register(
    "q_bpe_decode_roundtrip",
    oracle="""
    WITH norm AS (
        SELECT doc_id,
               array_to_string(
                   list_filter(regexp_split_to_array(lower(trim(text)),
                                                     '\\s+'),
                               w -> w <> ''), ' ') AS expected_text
        FROM documents)
    SELECT doc_id, expected_text AS decoded_text, expected_text
    FROM norm
    """,
    doc="Tokenizer DECODE: invert q_bpe_encode_ids — token ids → symbols "
        "(one literal-array lookup per id), concatenate, split words on "
        "the </w> marker — and emit the reconstruction next to the "
        "whitespace-normalized original. The oracle just normalizes the "
        "original text, so a hash match PROVES the encode→decode round "
        "trip is lossless over the whole corpus (every id maps back, "
        "word order survives the positional assembly, no UNK leakage). "
        "Decode is a narrow row-wise projection — no shuffle beyond "
        "encode's own.",
    tags=("llm", "tokenizer"),
)
def q_bpe_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_decode_expr, bpe_encode_ids
    docs = load_par(spark, sf_dir, "documents")
    enc = bpe_encode_ids(docs, _BPE_MERGES, _BPE_VOCAB)
    # bpe_decode_expr degrades OOV ids (-1 sentinel / beyond-vocab) to a
    # visible UNK marker — a detectable mismatch, never a crashed query
    # (OOV totality pinned in tests/test_r8_ops.py)
    decoded = bpe_decode_expr(_BPE_VOCAB)
    norm = (docs.select(
        "doc_id",
        F.array_join(
            F.filter(F.split(F.lower(F.trim("text")), r"\s+"),
                     lambda w: w != ""), " ").alias("expected_text")))
    return (enc.select("doc_id", decoded.alias("decoded_text"))
            .join(norm, "doc_id"))


# ---------------------------------------------------------------------------
# Parameterized SQL (named parameter markers, Spark 4 API surface)
# ---------------------------------------------------------------------------

@register(
    "q_parameterized_sql",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE value >= 10.0 AND event_type IN ('purchase', 'click')
    GROUP BY event_type
    """,
    doc="Parameterized SQL (spark.sql(query, args={...}) with named "
        ":param markers — the injection-safe API a production query "
        "service uses instead of string interpolation): literals bind at "
        "parse time so Catalyst still constant-folds and pushes the "
        "filters into the scan. Same aggregate either way — the oracle "
        "inlines the bound values.",
    tags=("sql",),
)
def q_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events_param")
    return spark.sql(
        """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events_param
        WHERE value >= :min_value AND event_type IN (:t1, :t2)
        GROUP BY event_type
        """,
        args={"min_value": 10.0, "t1": "purchase", "t2": "click"})


# ---------------------------------------------------------------------------
# PQ-code semantic-dedup buckets
# ---------------------------------------------------------------------------

@register(
    "q_pq_semantic_buckets",
    oracle=_pq_oracle(m=2, k=4, iterations=2, dims=64, tail="buckets"),
    doc="Semantic-dedup buckets from PQ codes: vectors sharing all m "
        "quantization codes are coarse semantic duplicates — group by the "
        "code tuple, keep the min-id vector per bucket (the same "
        "keeper-selection convention as dedup.dup_groups). This is the O(1)-"
        "memory-per-vector coarse pass an embedding-dedup pipeline runs "
        "BEFORE pairwise verification: at 100 TB the 16-bucket (k^m) "
        "histogram shuffles m bytes per vector, nothing pairwise. Codes "
        "come from the same trained codebooks as q_pq_adc_topk; same "
        "unrolled train+encode SQL oracle, bucket-grouped tail.",
    tags=("llm", "similarity", "dedup"),
)
def q_pq_semantic_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import clustering as C
    from ..operators import similarity as S
    emb = load_par(spark, sf_dir, "embeddings")
    qdf = materialize(C.quantize_vectors(emb))
    books = S.pq_train_codebooks(qdf, m=2, k=4, iterations=2)
    codes = S.pq_encode(qdf, books)
    return (codes.groupBy("code_0", "code_1")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                 F.min("vec_id").cast("bigint").alias("keeper_vec_id")))


# ---------------------------------------------------------------------------
# Tokenizer fertility (tokens per word, by language)
# ---------------------------------------------------------------------------

_FERTILITY_ORACLE = _BPE_ENC_PREFIX + """,
    wtok AS (SELECT word, CAST(len(ids) AS BIGINT) AS n_tok FROM wids),
    perdoc AS (
        SELECT w.doc_id, COUNT(*) AS n_words, SUM(wt.n_tok) AS n_toks
        FROM wpos w JOIN wtok wt USING (word)
        GROUP BY w.doc_id)
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(p.n_words), 0) AS BIGINT) AS n_words,
           CAST(COALESCE(SUM(p.n_toks), 0) AS BIGINT) AS n_tokens,
           CASE WHEN COALESCE(SUM(p.n_words), 0) > 0
                THEN CAST((1000 * SUM(p.n_toks)) // SUM(p.n_words)
                          AS BIGINT)
                ELSE NULL END AS fertility_x1000
    FROM documents d LEFT JOIN perdoc p USING (doc_id)
    GROUP BY d.lang
"""


@register(
    "q_tokenizer_fertility",
    oracle=_FERTILITY_ORACLE,
    doc="Tokenizer fertility by language — tokens-per-word under the "
        "planted 8-merge BPE (the standard tokenizer-evaluation metric: "
        "fertility near 1.0 means the vocabulary covers the language, "
        "high fertility flags languages the tokenizer fragments, the "
        "go/no-go gate before committing a tokenizer for multilingual "
        "pretraining). Integer report (x1000, floor-div) so the oracle "
        "matches bit-exactly. Scale shape: the merge folds run ONCE over "
        "the DISTINCT word table (vocabulary-sized); the corpus-sized "
        "work is one broadcast join of per-word token counts onto the "
        "exploded positions + two grouped aggregates (doc, then lang) — "
        "same 100 TB path as q_bpe_encode_ids, but the per-word payload "
        "is a single bigint instead of the id array. Empty docs count "
        "toward n_docs, contribute nothing to the sums.",
    tags=("llm", "text", "tokenizer"),
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import EOW, bpe_encode_ids  # noqa: F401

    d = load_par(spark, sf_dir, "documents")
    ids = bpe_encode_ids(d, _BPE_MERGES, _BPE_VOCAB)
    n_words = F.size(F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != ""))
    per_doc = (d.select("doc_id", "lang", n_words.alias("n_words"))
               .join(ids.select("doc_id", "n_tokens"), "doc_id"))
    return (per_doc.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_words").cast("bigint").alias("n_words"),
                 F.sum("n_tokens").cast("bigint").alias("n_tokens"))
            .withColumn(
                "fertility_x1000",
                F.when(F.col("n_words") > 0,
                       F.expr("(1000 * n_tokens) DIV n_words"))
                .cast("bigint")))


# ---------------------------------------------------------------------------
# Attribute-filtered exact vector search (pre-filter ANN)
# ---------------------------------------------------------------------------

_FILTERED_TOPK_SQL = """
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
        FROM embeddings WHERE vec_id < 5
    ), pairs AS (
        SELECT query_id, vec_id, qv, embedding AS v
        FROM embeddings, q
        WHERE vec_id != query_id AND label = qlabel
    ), expl AS (
        SELECT query_id, vec_id, qv, v,
               unnest(generate_series(1, len(v))) AS i
        FROM pairs
    ), dots AS (
        SELECT query_id, vec_id,
               SUM(CAST(qv[i] AS DOUBLE) * CAST(v[i] AS DOUBLE)) AS dp,
               SUM(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)) AS qq,
               SUM(CAST(v[i] AS DOUBLE) * CAST(v[i] AS DOUBLE)) AS vv
        FROM expl GROUP BY 1, 2
    ), ranked AS (
        SELECT query_id, vec_id,
               FLOOR(dp / (SQRT(qq) * SQRT(vv)) * 1e6 + 0.5) / 1e6 AS cos_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY FLOOR(dp / (SQRT(qq) * SQRT(vv)) * 1e6 + 0.5) / 1e6
                       DESC, vec_id
               ) AS INT) AS rank
        FROM dots
    )
    SELECT query_id, rank, vec_id, cos_sim FROM ranked WHERE rank <= 5
"""


@register(
    "q_ann_filtered_topk",
    oracle=_FILTERED_TOPK_SQL,
    doc="Attribute-FILTERED vector search (the 'where label matches' "
        "variant every production vector store needs): each query's "
        "top-5 cosine neighbors among candidates sharing its label, "
        "computed as PRE-filter — the label equi-predicate lands below "
        "the distance fold, so non-matching vectors never reach the "
        "arithmetic (vs post-filtering a top-k, which under-returns when "
        "the filter is selective). Spark shape: queries (with their "
        "labels) broadcast; the corpus scan applies the join predicate "
        "label = qlabel during the broadcast hash join, then the SAME "
        "zip_with/aggregate dot-product fold and deterministic "
        "(rounded-cos, vec_id) cut as q_sim_topk_bruteforce. At 100 TB "
        "with a partition-keyed label column the filter prunes "
        "partitions before the scan; exact per-label search composes "
        "with the IVF/PQ paths by bucketing within label.",
    tags=("llm", "similarity"),
)
def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as S

    e = load_par(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"), "embedding", "label"))
    # the label equality rides topk_brute_force's broadcast-join
    # condition (match_col) — norms stay precomputed once per side, and
    # filtered-out vectors never reach the distance fold
    return (S.topk_brute_force(e, q, k=5, match_col="label")
            .withColumn("rank", F.col("rank").cast("int")))


# ---------------------------------------------------------------------------
# Late-interaction retrieval (ColBERT-style MaxSim)
# ---------------------------------------------------------------------------

_MAXSIM_ORACLE = """
    WITH qdocs AS (
        SELECT doc_id AS query_id, lower(trim(text)) AS t
        FROM documents WHERE doc_id < 3),
    qtok AS (
        SELECT DISTINCT query_id, w AS word FROM (
            SELECT query_id, pos, arr[pos] AS w
            FROM (SELECT query_id,
                         regexp_split_to_array(t, '\\s+') AS arr
                  FROM qdocs),
                 unnest(generate_series(1, 4)) AS g(pos)
            WHERE pos <= len(arr))
        WHERE w <> ''),
    pdocs AS (
        SELECT doc_id AS passage_id, lower(trim(text)) AS t
        FROM documents WHERE doc_id % 7 = 3),
    ptok AS (
        SELECT DISTINCT passage_id,
               unnest(regexp_split_to_array(t, '\\s+')) AS word
        FROM pdocs),
    ptok2 AS (SELECT passage_id, word FROM ptok WHERE word <> ''),
    words AS (
        SELECT word FROM qtok UNION SELECT word FROM ptok2),
    vecs AS (
        SELECT word, i,
               CAST((strpos('0123456789abcdef', substr(h, 2*i+1, 1)) - 1)
                    * 16
                    + (strpos('0123456789abcdef', substr(h, 2*i+2, 1)) - 1)
                    AS DOUBLE) - 127.5 AS v
        FROM (SELECT word, sha256(word) AS h FROM words),
             unnest(generate_series(0, 7)) AS g(i)),
    norms AS (SELECT word, SUM(v * v) AS ss FROM vecs GROUP BY word),
    pairs AS (
        SELECT q.query_id, q.word AS qw, p.passage_id, p.word AS pw
        FROM qtok q CROSS JOIN ptok2 p),
    dots AS (
        SELECT pr.query_id, pr.qw, pr.passage_id, pr.pw,
               SUM(vq.v * vp.v) AS dp
        FROM pairs pr
        JOIN vecs vq ON vq.word = pr.qw
        JOIN vecs vp ON vp.word = pr.pw AND vp.i = vq.i
        GROUP BY 1, 2, 3, 4),
    cosq AS (
        SELECT d.query_id, d.qw, d.passage_id,
               CAST(FLOOR(d.dp / (SQRT(nq.ss) * SQRT(np.ss)) * 1e6 + 0.5)
                    AS BIGINT) AS cos_units
        FROM dots d
        JOIN norms nq ON nq.word = d.qw
        JOIN norms np ON np.word = d.pw),
    maxsim AS (
        SELECT query_id, passage_id, qw, MAX(cos_units) AS mx
        FROM cosq GROUP BY 1, 2, 3),
    scores AS (
        SELECT query_id, passage_id,
               CAST(SUM(mx) AS BIGINT) AS score_units
        FROM maxsim GROUP BY 1, 2),
    ranked AS (
        SELECT query_id, passage_id, score_units,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY score_units DESC, passage_id) AS INT) AS rank
        FROM scores)
    SELECT query_id, rank, passage_id, score_units
    FROM ranked WHERE rank <= 3
"""


@register(
    "q_maxsim_late_interaction",
    oracle=_MAXSIM_ORACLE,
    doc="Late-interaction retrieval (ColBERT-style MaxSim, Khattab & "
        "Zaharia 2020 — public method): score(query, passage) = sum over "
        "query tokens of the max cosine against any passage token, over "
        "per-TOKEN vectors — the retrieval family between single-vector "
        "ANN and cross-encoders. Token vectors are the engine's "
        "deterministic sha-derived stubs (documents are word soup, the "
        "OPERATOR shape is the point): centered hex bytes are exact "
        "binary halves, so dot products and norms are bit-exact doubles "
        "in both engines, each token-pair cosine is floored to integer "
        "1e6 units BEFORE the max/sum, and the whole score is integer "
        "arithmetic — hash-oracle-able end-to-end. Distinct-token "
        "variant (max is duplicate-invariant; query capped at its first "
        "4 positions). Scale shape: token vectors come from ONE distinct-"
        "word table (vocab-sized, 8-dim arrays built by pure JVM "
        "expressions — sha2/substr/conv, no UDF); the quadratic "
        "query-token x passage-token stage is the known late-interaction "
        "cost — production prunes candidates with single-vector ANN "
        "first (the IVF/PQ paths here) and MaxSim re-ranks the "
        "shortlist, which is exactly how this operator composes: "
        "queries x shortlist, per-pair work bounded by tokens^2.",
    tags=("llm", "similarity", "retrieval"),
)
def q_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_par(spark, sf_dir, "documents")
    toks = lambda df, idc: (  # noqa: E731
        df.select(F.col(idc),
                  F.posexplode(F.split(F.lower(F.trim("text")), r"\s+"))
                  .alias("pos", "word"))
        .filter(F.col("word") != ""))
    qtok = (toks(d.filter(F.col("doc_id") < 3), "doc_id")
            .filter(F.col("pos") < 4)   # posexplode is 0-based
            .select(F.col("doc_id").alias("query_id"), "word").distinct())
    ptok = (toks(d.filter(F.col("doc_id") % 7 == 3), "doc_id")
            .select(F.col("doc_id").alias("passage_id"), "word").distinct())

    # one vocab-sized vector table: centered sha-hex bytes (exact halves)
    words = qtok.select("word").union(ptok.select("word")).distinct()
    h = F.sha2(F.col("word"), 256)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.conv(F.substr(h, i * 2 + 1, F.lit(2)), 16, 10)
                   .cast("double") - F.lit(127.5))
    wv = (words.select("word", vec.alias("v"))
          .withColumn("ss", F.aggregate(
              "v", F.lit(0.0), lambda a, x: a + x * x))
          .transform(materialize))  # vocab-sized, feeds both sides

    qv = qtok.join(wv, "word").select(
        "query_id", F.col("word").alias("qw"),
        F.col("v").alias("vq"), F.col("ss").alias("ssq"))
    pv = ptok.join(wv, "word").select(
        "passage_id", F.col("v").alias("vp"), F.col("ss").alias("ssp"))
    dp = F.aggregate(F.zip_with("vq", "vp", lambda x, y: x * y),
                     F.lit(0.0), lambda a, x: a + x)
    cos_units = F.floor(dp / (F.sqrt("ssq") * F.sqrt("ssp")) * 1e6 + 0.5) \
                 .cast("bigint")
    pairs = pv.crossJoin(F.broadcast(qv)).select(
        "query_id", "qw", "passage_id", cos_units.alias("cos_units"))
    scores = (pairs.groupBy("query_id", "passage_id", "qw")
              .agg(F.max("cos_units").alias("mx"))
              .groupBy("query_id", "passage_id")
              .agg(F.sum("mx").cast("bigint").alias("score_units")))
    top = (scores.withColumn(
        "rank", F.row_number().over(
            Window.partitionBy("query_id")
            .orderBy(F.desc("score_units"), F.asc("passage_id")))
        .cast("int"))
        .filter(F.col("rank") <= 3))
    return top.select("query_id", "rank", "passage_id", "score_units")


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion (sparse + dense)
# ---------------------------------------------------------------------------

_RRF_ORACLE = """
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+'))
                   AS term
        FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           GROUP BY doc_id, term),
    idf AS (
        SELECT term,
               CAST(FLOOR(1000000000000 /
                          (COUNT(DISTINCT doc_id) * COUNT(DISTINCT doc_id)))
                    AS BIGINT) AS w_units
        FROM tf GROUP BY term),
    qv AS (SELECT term, tf AS tf_q FROM tf WHERE doc_id = 0),
    sparse AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY SUM(q.tf_q * d.tf * i.w_units) DESC, doc_id)
                    AS INT) AS rank_sparse
        FROM tf d JOIN qv q ON d.term = q.term
                  JOIN idf i ON d.term = i.term
        WHERE d.doc_id <> 0
        GROUP BY d.doc_id
        ORDER BY SUM(q.tf_q * d.tf * i.w_units) DESC, doc_id
        LIMIT 20),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    expl AS (
        SELECT e.vec_id, q.qv, e.embedding AS v,
               unnest(generate_series(1, len(e.embedding))) AS i
        FROM embeddings e, q WHERE e.vec_id <> 0),
    dots AS (
        SELECT vec_id,
               SUM(CAST(qv[i] AS DOUBLE) * CAST(v[i] AS DOUBLE)) AS dp,
               SUM(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)) AS qq,
               SUM(CAST(v[i] AS DOUBLE) * CAST(v[i] AS DOUBLE)) AS vv
        FROM expl GROUP BY vec_id),
    dense AS (
        SELECT vec_id AS doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY FLOOR(dp / (SQRT(qq) * SQRT(vv)) * 1e6 + 0.5)
                            / 1e6 DESC, vec_id) AS INT) AS rank_dense
        FROM dots
        ORDER BY FLOOR(dp / (SQRT(qq) * SQRT(vv)) * 1e6 + 0.5) / 1e6 DESC,
                 vec_id
        LIMIT 20),
    fused AS (
        SELECT COALESCE(s.doc_id, de.doc_id) AS doc_id,
               s.rank_sparse, de.rank_dense,
               COALESCE(1000000 // (60 + s.rank_sparse), 0)
               + COALESCE(1000000 // (60 + de.rank_dense), 0)
                   AS rrf_units
        FROM sparse s FULL OUTER JOIN dense de USING (doc_id))
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_units DESC, doc_id)
                AS INT) AS rank,
           doc_id, CAST(rrf_units AS BIGINT) AS rrf_units,
           rank_sparse, rank_dense
    FROM fused
    ORDER BY rrf_units DESC, doc_id LIMIT 10
"""


@register(
    "q_hybrid_rrf",
    oracle=_RRF_ORACLE,
    doc="Hybrid search via reciprocal-rank fusion (Cormack et al. 2009 — "
        "the standard lexical+vector combiner): the sparse leg ranks the "
        "corpus against query doc 0 with the inverse-df-squared integer "
        "scoring of q_tfidf_retrieval, the dense leg ranks embeddings "
        "against vector 0 by rounded cosine (the q_sim_topk_bruteforce "
        "discipline), both cut at top-20, and RRF fuses them: "
        "score = sum over legs of 1e6 DIV (60 + rank) — INTEGER "
        "arithmetic end-to-end, so the fusion is hash-exact (rank "
        "positions, not raw scores, cross the leg boundary — the reason "
        "RRF needs no score calibration between BM25-class and cosine-"
        "class scales). Docs appearing in one leg only contribute that "
        "leg's term. Scale shape: each leg is its own documented "
        "operator (inverted-index join / brute-force-or-ANN); the fusion "
        "itself is a full-outer join of two 20-row frames — free at any "
        "corpus size.",
    tags=("llm", "retrieval"),
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import similarity as S

    d = load_par(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"))
    # NOT materialized: the doc_id filters on the qv/corpus legs push
    # below the re-derived aggregate (grouping-key predicate) — see
    # q_tfidf_retrieval's measurement note
    tf = (toks.groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    idf = (tf.groupBy("term")
           .agg(F.count_distinct("doc_id").alias("df"))
           .select("term", (F.lit(1_000_000_000_000).cast("long")
                            / (F.col("df") * F.col("df")))
                   .cast("long").alias("w_units")))
    qv = (tf.filter(F.col("doc_id") == 0)
          .select("term", F.col("tf").alias("tf_q")))
    sp_top = (tf.filter(F.col("doc_id") != 0)
              .join(F.broadcast(qv), "term").join(idf, "term")
              .groupBy("doc_id")
              .agg(F.sum(F.col("tf_q") * F.col("tf") * F.col("w_units"))
                   .alias("score_units"))
              .orderBy(F.col("score_units").desc(), "doc_id").limit(20))
    sparse = sp_top.withColumn(
        "rank_sparse",
        F.row_number().over(Window.orderBy(F.desc("score_units"),
                                           F.asc("doc_id"))).cast("int")) \
        .select("doc_id", "rank_sparse")

    e = load_par(spark, sf_dir, "embeddings")
    q0 = (e.filter(F.col("vec_id") == 0)
          .select(F.col("vec_id").alias("query_id"), "embedding"))
    dense = (S.topk_brute_force(e, q0, k=20)
             .select(F.col("vec_id").alias("doc_id"),
                     F.col("rank").cast("int").alias("rank_dense")))

    fused = (sparse.join(dense, "doc_id", "full_outer")
             .select(
                 "doc_id", "rank_sparse", "rank_dense",
                 (F.coalesce(F.expr("1000000 DIV (60 + rank_sparse)"),
                             F.lit(0))
                  + F.coalesce(F.expr("1000000 DIV (60 + rank_dense)"),
                               F.lit(0))).cast("bigint")
                 .alias("rrf_units")))
    top = fused.orderBy(F.desc("rrf_units"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("rrf_units"), F.asc("doc_id"))
    return (top.withColumn("rank", F.row_number().over(w).cast("int"))
            .select("rank", "doc_id", "rrf_units",
                    "rank_sparse", "rank_dense"))
