"""Round-11 registry queries.

Closes the r10 verdict's operator gaps: the BOUNDED-RECALL containment
path for flat-vocabulary corpora (banded candidates + exact recount —
the corner where both exact regimes are inherently near-all-pairs), a
driver-visible Zipf-corpus containment entry (the chooser's prefix side
as a CORRECTNESS row, not just a script table), the streaming
admission's persisted-postings screen (the 100 TB regime, exact and
verdict-identical to the stateless rescan), the sketch families'
measured error bounds as driver-visible data rows (the q_sim_ann_recall
pattern: the RESULT is the error measurement), a fully-oracled
Bloom membership gate (bit-packed words table — the broadcastable
exact-dup pre-screen), the COMPOSED IVF + PQ-on-residuals ANN
(IVFADC — the canonical billion-vector layout, bit-exact against an
unrolled end-to-end SQL oracle), deterministic PCA by power
iteration (the spectral family: exact integer Gram in one
map-side-combinable pass, driver-side eigen-work, bit-exact unrolled
oracle), STREAMING vector-index ingest (micro-batches encode
against the frozen seed-trained IVFADC model and append codes — the
oracle replays the whole pipeline batch-free, and a pytest pins batch
invariance), STREAMING incremental PCA (additive raw-moment state
per micro-batch; the centering expansion is an exact integer identity,
so the entry shares the batch oracle verbatim and equals it row for
row), a TOTAL-VARIATION corpus-drift monitor (integer-exact — no
logarithm, so none of KL's cross-engine libm hazard), and the TOP-2
spectral scatter (integer Hotelling deflation + a second power chain,
both directions numpy-pinned).

Reference provenance: the reference repo (ilias-lp/canary-weather-etl
README.md) ships none of these; they extend the engine's LLM-pipeline
family (SURVEY.md §2.11) with public methods (MinHash-LSH banding,
PPJoin-style recount, CMS/HLL/GK error analysis) only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import sketch as SK
from .llm import _minhash_ab_sql, _minhash_band_fold_sql
from .r10_queries import _admission_round_sql, _grams_sql
from .registry import load, load_par, register

# ---------------------------------------------------------------------------
# Bounded-recall containment: banded candidates + exact recount
# ---------------------------------------------------------------------------

_CONTAINMENT_BANDED_SQL = rf"""
    WITH toks AS (
        SELECT doc_id AS doc,
               list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), grams AS (
        SELECT DISTINCT doc, shingle FROM (
            SELECT doc, t[i] || ' ' || t[i+1] AS shingle
            FROM (SELECT doc, t, unnest(generate_series(1, len(t)-1)) AS i
                  FROM toks)
        )
    ), sizes AS (
        SELECT doc, COUNT(*) AS sz FROM grams GROUP BY doc
    ), {_minhash_ab_sql(32)}, hs AS (
        SELECT doc, CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT) AS h
        FROM grams
    ), mins AS (
        SELECT doc, ab.p, MIN((ab.a * hs.h + ab.b) % 2147483647) AS mh
        FROM hs CROSS JOIN ab
        GROUP BY doc, ab.p
    ), sig AS (
        SELECT doc, list(mh ORDER BY p) AS s FROM mins GROUP BY doc
    ), bands AS (
        SELECT doc, b,
               CASE b {' '.join(
                   f"WHEN {b} THEN {_minhash_band_fold_sql(b)}"
                   for b in range(8))} END AS bv
        FROM sig, UNNEST(range(0, 8)) AS tb(b)
    ), cands AS (
        SELECT DISTINCT l.doc AS a, r.doc AS b
        FROM bands l JOIN bands r
          ON l.b = r.b AND l.bv = r.bv AND l.doc < r.doc
    ), cmn AS (
        SELECT c.a, c.b, COUNT(*) AS common
        FROM cands c
        JOIN grams ga ON ga.doc = c.a
        JOIN grams gb ON gb.doc = c.b AND gb.shingle = ga.shingle
        GROUP BY c.a, c.b
    ), dirs AS (
        SELECT a AS contained, b AS container, common FROM cmn
        UNION ALL
        SELECT b AS contained, a AS container, common FROM cmn
    )
    SELECT d.contained, d.container, d.common,
           s.sz AS sz_contained,
           1000000 * d.common // s.sz AS containment_units
    FROM dirs d JOIN sizes s ON s.doc = d.contained
    WHERE 1000000 * d.common // s.sz >= 800000
"""


@register(
    "q_containment_banded_recall",
    oracle=_CONTAINMENT_BANDED_SQL,
    doc="BOUNDED-RECALL containment pairs — the 100 TB path for corpora "
        "with NO rare tail, where BOTH exact regimes of "
        "q_containment_pairs are inherently near-all-pairs (the "
        "flat-vocab fixture's measured 100x disk abort, SCALE.md r10; "
        "this implements the banded design that row named): candidates "
        "come from the portable MinHash-LSH band join, verification is "
        "the EXACT fixed-point recount over candidate pairs only, both "
        "directions emitted (operators/dedup.containment_pairs_banded). "
        "A full band collision needs all 4 permutation mins of some "
        "band to agree (probability ~ Jaccard^4 per band), so the "
        "4-5%%-of-n² coincidental sharing pairs that sink the exact "
        "plans vanish while near-identical (mutual-containment) pairs "
        "survive; the recall loss is the asymmetric tiny-inside-huge "
        "corner, pytest-measured vs the exact operator. The oracle "
        "replays signatures, banding, candidates and recount "
        "bit-for-bit from the same sha256-derived literals.",
    tags=("llm", "dedup", "approx"),
)
def q_containment_banded_recall(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    d = load_par(spark, sf_dir, "documents")
    sets = D.shingle_sets(d, "doc_id", "text", n=2)
    return D.containment_pairs_banded(sets, threshold_units=800_000,
                                      num_hashes=32, bands=8)


# ---------------------------------------------------------------------------
# Containment on a deterministic Zipf corpus: the chooser's prefix side
# ---------------------------------------------------------------------------

_ZIPF_CLASSES = 5     # boilerplate template classes (df grows with n)
_ZIPF_BOIL = 20       # boilerplate tokens per doc
_ZIPF_TAIL = 10       # unique-tail tokens per doc (the rare tail)
_ZIPF_PLANT = 50      # every PLANT-th doc gets a contained twin
_ZIPF_OFFSET = 1_000_000


def _zipf_boil_sql() -> str:
    return " || ' ' || ".join(
        f"'boil{j}t' || CAST(doc_id % {_ZIPF_CLASSES} AS VARCHAR)"
        for j in range(_ZIPF_BOIL))


def _zipf_tail_sql() -> str:
    return " || ' ' || ".join(
        f"'u' || CAST(doc_id AS VARCHAR) || 'w{j}'"
        for j in range(_ZIPF_TAIL))


_CONTAINMENT_ZIPF_SQL = rf"""
    WITH ids AS (SELECT doc_id FROM documents),
    corpus AS (
        SELECT doc_id, {_zipf_boil_sql()} || ' ' || {_zipf_tail_sql()} AS text
        FROM ids
        UNION ALL
        SELECT doc_id + {_ZIPF_OFFSET} AS doc_id, {_zipf_tail_sql()} AS text
        FROM ids WHERE doc_id % {_ZIPF_PLANT} = 0
    ), toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
                                   '\s+'), x -> x <> '') AS t
        FROM corpus
    ), grams AS (
        SELECT DISTINCT doc_id AS doc, shingle FROM (
            SELECT doc_id, t[i] || ' ' || t[i+1] AS shingle
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
                  FROM toks)
        )
    ), sizes AS (
        SELECT doc, COUNT(*) AS sz FROM grams GROUP BY doc
    ), common AS (
        SELECT l.doc AS contained, r.doc AS container, COUNT(*) AS common
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


def _zipf_corpus(ids: DataFrame) -> DataFrame:
    """Deterministic template+tail Zipf corpus from a doc_id column —
    the same construction scripts/containment_zipf.py measures, shrunk
    to registry scale and expressed identically in Spark and SQL (the
    oracle rebuilds the text strings from the same literals)."""
    boil = F.concat_ws(" ", *[
        F.concat(F.lit(f"boil{j}t"),
                 (F.col("doc_id") % _ZIPF_CLASSES).cast("string"))
        for j in range(_ZIPF_BOIL)])
    tail = F.concat_ws(" ", *[
        F.concat(F.lit("u"), F.col("doc_id").cast("string"), F.lit(f"w{j}"))
        for j in range(_ZIPF_TAIL)])
    base = ids.select("doc_id", F.concat_ws(" ", boil, tail).alias("text"))
    twins = (ids.filter(F.col("doc_id") % _ZIPF_PLANT == 0)
             .select((F.col("doc_id") + _ZIPF_OFFSET).alias("doc_id"),
                     tail.alias("text")))
    return base.unionByName(twins)


@register(
    "q_containment_zipf",
    oracle=_CONTAINMENT_ZIPF_SQL,
    doc="Exact containment on a DETERMINISTIC ZIPF corpus — the other "
        "side of the regime crossover as driver-visible evidence (the "
        "synthetic documents fixture is flat-vocab, adversarial for "
        "every inverted-index method, so the chooser's prefix side "
        "previously lived only in scripts/containment_zipf.py's tables)."
        " The corpus is template boilerplate (5 classes, df grows with "
        "n) + a unique 10-token tail per doc + a contained twin every "
        "50th doc, constructed bit-identically in Spark and SQL from "
        "the same literals. The ENGINE-CHOSEN regime picks the prefix "
        "filter here (v_prefix < v_naive at every driver scale factor — "
        "the tails make rarest-shingle prefixes selective; "
        "pytest-pinned, tests/test_r11_ops.py) and the result is the "
        "planted twins at containment 1.0 — exact under either regime, "
        "so the oracle is regime-independent (the semantic ground-truth "
        "form).",
    tags=("llm", "dedup"),
)
def q_containment_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = load_par(spark, sf_dir, "documents").select("doc_id")
    sh = D.shingle_table(_zipf_corpus(ids), "doc_id", "text", n=2)
    return D.containment_pairs(sh, threshold_units=800_000, regime="auto")


# ---------------------------------------------------------------------------
# Streaming admission: the persisted-postings screen (100 TB regime)
# ---------------------------------------------------------------------------

_STREAM_ADMISSION_SQL = f"""
    WITH c0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
    ba AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
    bb AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
    {_grams_sql('c0', 'g_c0')},
    {_grams_sql('ba', 'g_ba')},
    {_grams_sql('bb', 'g_bb')},
    md5_c0 AS (SELECT DISTINCT md5(text) AS h FROM c0),
    {_admission_round_sql('ba', 'g_c0', 'g_c0_sz', 'md5_c0',
                          'g_ba', 'g_ba_sz')},
    adm_a AS (SELECT doc_id FROM verd_ba WHERE verdict = 'admit'),
    -- corpus after round 1 = seed + round-1 admits
    g_c1 AS (SELECT * FROM g_c0
             UNION ALL
             SELECT g.* FROM g_ba g JOIN adm_a USING (doc_id)),
    g_c1_sz AS (SELECT doc_id, COUNT(*) AS sz FROM g_c1 GROUP BY doc_id),
    md5_c1 AS (SELECT h FROM md5_c0
               UNION
               SELECT md5(b.text) AS h FROM ba b JOIN adm_a USING (doc_id)),
    {_admission_round_sql('bb', 'g_c1', 'g_c1_sz', 'md5_c1',
                          'g_bb', 'g_bb_sz')}
    SELECT doc_id, verdict, n_near FROM verd_ba
    UNION ALL
    SELECT doc_id, verdict, n_near FROM verd_bb
"""


@register(
    "q_stream_admission_postings",
    oracle=_STREAM_ADMISSION_SQL,
    doc="STREAMING corpus admission via the PERSISTED-POSTINGS screen "
        "(operators/dedup.admission_screen_batch with a state_dir): "
        "document batches land as parquet drops and a foreachBatch sink "
        "screens each against the CURRENT corpus with an exact "
        "content-md5 gate and an exact bigram Jaccard >= 0.5 near gate, "
        "so batch 2 sees batch 1's admits. Corpus state lives as a "
        "(shingle, doc, sz) postings table partitioned by shingle-hash "
        "bucket plus a content-md5 table, seeded once "
        "(admission_state_init); each micro-batch equi-joins its OWN "
        "shingles against the postings (scan pruned to the <= 64 "
        "buckets the batch touches) and appends admitted docs' "
        "postings/hashes — the corpus text is NEVER re-shingled after "
        "the seed, so per-batch cost is O(batch-shingles x df-hit), not "
        "O(corpus). The SQL oracle replays both micro-batch rounds "
        "against the evolving corpus. The stateless rescan screen is "
        "verdict-identical (pytest-pinned); scripts/admission_scale.py "
        "holds the batch fixed while the corpus grows 10x/100x and "
        "records that per-batch wall tracks batch size under postings "
        "while the rescan grows with the corpus.",
    tags=("llm", "dedup", "streaming"),
)
def q_stream_admission_postings(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..streaming.jobs import drain

    d = load(spark, sf_dir, "documents")
    corpus0 = d.filter(F.col("doc_id") % 3 == 2).select("doc_id", "text")
    batch_a = d.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    batch_b = d.filter(F.col("doc_id") % 3 == 1).select("doc_id", "text")

    base = tempfile.mkdtemp(prefix="canary_admission_postings_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    drops = os.path.join(base, "drops")
    corpus_dir = os.path.join(base, "corpus")
    state_dir = os.path.join(base, "state")
    verdicts_dir = os.path.join(base, "verdicts")
    ckpt = os.path.join(base, "ckpt")
    corpus0.write.mode("overwrite").parquet(corpus_dir)
    D.admission_state_init(corpus0, state_dir, n=2)

    def screen(batch: DataFrame, _batch_id: int) -> None:
        verdicts = D.admission_screen_batch(
            batch, corpus_dir, state_dir=state_dir, threshold=0.5, n=2)
        (verdicts.select("doc_id", "verdict", "n_near")
         .write.mode("append").parquet(verdicts_dir))

    schema = "doc_id BIGINT, text STRING"
    for b in (batch_a, batch_b):
        b.coalesce(1).write.mode("append").parquet(drops)
        q = (spark.readStream.schema(schema).parquet(drops)
             .writeStream.foreachBatch(screen)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        drain(q)

    return spark.read.parquet(verdicts_dir)


# ---------------------------------------------------------------------------
# Bloom-filter membership gate (bit-packed words table, portable family)
# ---------------------------------------------------------------------------

_BLOOM_GATE_SQL = r"""
    WITH corpus AS (
        SELECT DISTINCT md5(text) AS key FROM documents WHERE doc_id % 3 <> 1
    ), cpos AS (
        SELECT DISTINCT
               CAST('0x' || substr(md5(key || ':' || CAST(i AS VARCHAR)),
                    1, 7) AS BIGINT) % 65536 AS pos
        FROM corpus, UNNEST(range(0, 4)) AS t(i)
    ), words AS (
        SELECT pos // 32 AS word,
               SUM(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
        FROM cpos GROUP BY 1
    ), probes AS (
        SELECT doc_id, md5(text) AS key FROM documents
    ), ppos AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(key || ':' || CAST(i AS VARCHAR)),
                    1, 7) AS BIGINT) % 65536 AS pos
        FROM probes, UNNEST(range(0, 4)) AS t(i)
    ), hits AS (
        SELECT doc_id,
               SUM(CASE WHEN (w.bits
                    & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INT))) <> 0
                   THEN 1 ELSE 0 END) AS nhit
        FROM ppos p LEFT JOIN words w ON w.word = p.pos // 32
        GROUP BY doc_id
    ), truth AS (
        SELECT p.doc_id,
               (c.key IS NOT NULL) AS actually_in
        FROM probes p LEFT JOIN corpus c ON c.key = p.key
    )
    SELECT h.doc_id, h.nhit = 4 AS in_bloom, t.actually_in,
           (h.nhit = 4 AND NOT t.actually_in) AS false_positive
    FROM hits h JOIN truth t USING (doc_id)
"""


@register(
    "q_bloom_membership_gate",
    oracle=_BLOOM_GATE_SQL,
    doc="BLOOM-FILTER membership gate as a bit-packed words table "
        "(operators/sketch.bloom_build/bloom_probe) — the broadcastable "
        "exact-dup PRE-SCREEN for 100 TB admission: the full md5 key "
        "set stays partitioned on disk, the m/32-row (word, bits) "
        "filter rides in memory, and a batch semi-joins the big table "
        "only for its 'maybe' rows. Corpus = docs with doc_id%3<>1; "
        "every document probed; output (doc_id, in_bloom, actually_in, "
        "false_positive). One-sided BY CONSTRUCTION — no false "
        "negatives, pytest-asserted — with FP probability "
        "(1-e^(-kn/m))^k (~1.6e-7 at the fixture's n=334, m=65536, "
        "k=4). FULLY SQL-ORACLED: the portable md5 position family "
        "(same discipline as the r10/r11 MinHash/CMS conversions) lets "
        "the oracle rebuild the packed words and every probe "
        "bit-for-bit — unlike Spark's built-in bloom_filter_agg, whose "
        "binary is engine-opaque; 32-bit lanes inside the long avoid "
        "any sign-bit portability hazard.",
    tags=("sketch", "approx", "llm", "dedup"),
)
def q_bloom_membership_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketch as SK

    d = load_par(spark, sf_dir, "documents")
    corpus = (d.filter(F.col("doc_id") % 3 != 1)
              .select(F.md5("text").alias("key")).distinct())
    words = SK.bloom_build(corpus, "key", m_bits=65_536, k=4)
    probes = d.select("doc_id", F.md5("text").alias("key"))
    probed = SK.bloom_probe(words, probes, "key", m_bits=65_536, k=4)
    truth = (probes
             .join(corpus.withColumn("actually_in", F.lit(True)),
                   "key", "left")
             .select("doc_id", F.coalesce("actually_in", F.lit(False))
                     .alias("actually_in")))
    return (probed.join(truth, "doc_id")
            .select("doc_id", "in_bloom", "actually_in",
                    (F.col("in_bloom") & ~F.col("actually_in"))
                    .alias("false_positive")))


# ---------------------------------------------------------------------------
# Sketch-family error bounds as driver-visible data rows
# ---------------------------------------------------------------------------

@register(
    "q_sketch_error_bounds",
    oracle=None,  # rows-only BY DESIGN: engine-defined sketch values
    doc="Sketch-family MEASURED error vs the exact twin, as driver-"
        "visible data rows (the q_sim_ann_recall pattern — the RESULT "
        "is the error measurement, so the driver's row records the "
        "quantitative claim, not just a row count): HLL++ "
        "approx_count_distinct (rsd 0.05) vs exact COUNT DISTINCT over "
        "events.user_id — err_ppm must sit within the 3-sigma 150000 "
        "ppm bound; the Datasketches HLL family (hll_sketch_agg, the "
        "q_hll_sketch_merge sketch) vs the same exact count at its "
        "lgConfigK=12 3-sigma ~50000 ppm bound; "
        "approx_percentile(0.5, accuracy 10000) vs the "
        "element-rank it actually lands on in lineitem.l_extendedprice "
        "— rank deviation must sit within the published n/accuracy "
        "guarantee (100 ppm of n); the repo's CMS (width 2048, depth 4, "
        "md5 coordinate family, operators/sketch.py) point estimates vs "
        "exact event_type counts — CMS never undercounts and the max "
        "overcount must sit within the e/width expectation bound. "
        "Rows-only BY DESIGN: the HLL and percentile values are "
        "engine-defined (sketches a SQL oracle cannot replay); the "
        "within_bound flags are additionally pytest-asserted "
        "(tests/test_r11_ops.py).",
    tags=("sketch", "approx"),
)
def q_sketch_error_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_par(spark, sf_dir, "events")
    li = load_par(spark, sf_dir, "lineitem")

    # HLL++: relative cardinality error, 3-sigma bound at rsd=0.05
    hll = ev.agg(
        F.countDistinct("user_id").cast("double").alias("exact_v"),
        F.approx_count_distinct("user_id", rsd=0.05).cast("double")
        .alias("approx_v"))
    hll = hll.select(
        F.lit("hll_count_distinct").alias("family"),
        "exact_v", "approx_v",
        (F.lit(1_000_000.0) * F.abs(F.col("approx_v") - F.col("exact_v"))
         / F.col("exact_v")).alias("err_ppm"),
        F.lit(150_000.0).alias("bound_ppm"))

    # Datasketches HLL (the q_hll_sketch_merge family): default
    # lgConfigK=12 -> rsd ~ 1.04/sqrt(4096) ~ 1.63%; 3-sigma ~ 49k ppm
    dsk = ev.agg(
        F.countDistinct("user_id").cast("double").alias("exact_v"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).cast("double")
        .alias("approx_v"))
    dsk = dsk.select(
        F.lit("hll_datasketches").alias("family"),
        "exact_v", "approx_v",
        (F.lit(1_000_000.0) * F.abs(F.col("approx_v") - F.col("exact_v"))
         / F.col("exact_v")).alias("err_ppm"),
        F.lit(50_000.0).alias("bound_ppm"))

    # approx_percentile: deviation of the landed element's RANK from the
    # target rank, in ppm of n — the published guarantee is n/accuracy
    apx = li.agg(F.expr("approx_percentile(l_extendedprice, 0.5, 10000)")
                 .alias("ap"), F.count(F.lit(1)).alias("n"))
    pct = (li.crossJoin(F.broadcast(apx))
           .agg(F.first("ap").alias("approx_v"),
                F.first("n").alias("n"),
                F.sum(F.when(F.col("l_extendedprice") <= F.col("ap"), 1)
                      .otherwise(0)).alias("rank_le")))
    pct = pct.select(
        F.lit("approx_percentile_p50").alias("family"),
        (F.col("n") / 2.0).alias("exact_v"),
        F.col("rank_le").cast("double").alias("approx_v"),
        (F.lit(1_000_000.0)
         * F.abs(F.col("rank_le") - F.col("n") / 2.0)
         / F.col("n")).alias("err_ppm"),
        F.lit(100.0).alias("bound_ppm"))

    # CMS: max point-estimate overcount across the full event_type
    # domain, in ppm of total rows; expectation bound e/width
    sk = SK.cms_build(ev, "event_type", width=2048, depth=4)
    est = SK.cms_estimate(sk, ev.select("event_type").distinct(),
                          "event_type", width=2048, depth=4)
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("true_cnt"))
    n_ev = ev.count()
    cms = (est.join(exact, "event_type")
           .agg(F.sum("true_cnt").cast("double").alias("exact_v"),
                F.sum("est").cast("double").alias("approx_v"),
                F.max(F.col("est") - F.col("true_cnt")).cast("double")
                .alias("max_over")))
    cms = cms.select(
        F.lit("cms_point_estimate").alias("family"),
        "exact_v", "approx_v",
        (F.lit(1_000_000.0) * F.col("max_over") / F.lit(float(n_ev)))
        .alias("err_ppm"),
        F.lit(1_000_000.0 * 2.718281828 / 2048).alias("bound_ppm"))

    out = hll.unionByName(dsk).unionByName(pct).unionByName(cms)
    return out.select("family", "exact_v", "approx_v", "err_ppm",
                      "bound_ppm",
                      (F.col("err_ppm") <= F.col("bound_ppm"))
                      .alias("within_bound"))

# ---------------------------------------------------------------------------
# Composed IVF + PQ-on-residuals ANN (IVFADC), bit-exact oracle
# ---------------------------------------------------------------------------


def _ivfpq_tail(m: int = 2, pq_k: int = 4, pq_iters: int = 2,
                dims: int = 64, ivf_iters: int = 2, n_probe: int = 2,
                topk: int = 10, qid: int = 0,
                train_pred: str = "TRUE") -> str:
    """SQL tail appended to _kmeans_oracle's unrolled IVF prefix (CTEs
    q / c{t} / afin / dfin): residuals against the final centroids, PQ
    training per subspace on the residuals (the _pq_oracle structure
    re-sourced from `resall`), encode, probe, per-(list, subspace) ADC
    tables from the query's per-list residuals, and the top-k cut —
    the whole IVFADC pipeline replayed bit-for-bit. ``train_pred``
    restricts which residual rows TRAIN the PQ codebooks (the streaming
    ingest oracle trains on the seed third only, default everything);
    encode always covers every vector."""
    sublen = dims // m
    cfin = f"c{ivf_iters}"
    parts = [f"""
    , resall AS (
        SELECT q.vec_id, a.cid AS list_id, q.ord, q.qv - c.cv AS rv
        FROM q JOIN afin a ON a.vec_id = q.vec_id
               JOIN {cfin} c ON c.cid = a.cid AND c.ord = q.ord)"""]
    for s in range(m):
        parts.append(f"""
    , rs{s} AS (SELECT vec_id, ord, rv FROM resall
                WHERE CAST((ord - 1) // {sublen} AS INT) = {s}),
    rs{s}t AS (SELECT * FROM rs{s} WHERE {train_pred}),
    b{s}_0 AS (SELECT CAST(vec_id AS INT) AS cid, ord, rv AS cv
               FROM rs{s}t WHERE vec_id < {pq_k})""")
        for t in range(1, pq_iters + 1):
            parts.append(f"""
    , bd{s}_{t} AS (
        SELECT r.vec_id, b.cid,
               CAST(SUM((r.rv - b.cv) * (r.rv - b.cv)) AS BIGINT) AS dist
        FROM rs{s}t r JOIN b{s}_{t - 1} b ON b.ord = r.ord
        GROUP BY r.vec_id, b.cid),
    ba{s}_{t} AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM bd{s}_{t}) WHERE rn = 1),
    b{s}_{t} AS (
        SELECT p.cid, p.ord,
               COALESCE(CAST(FLOOR(CAST(x.sq AS DOUBLE) / x.n) AS BIGINT),
                        p.cv) AS cv
        FROM b{s}_{t - 1} p LEFT JOIN (
            SELECT a.cid, r.ord, CAST(SUM(r.rv) AS BIGINT) AS sq,
                   COUNT(*) AS n
            FROM ba{s}_{t} a JOIN rs{s}t r ON r.vec_id = a.vec_id
            GROUP BY a.cid, r.ord) x
        ON x.cid = p.cid AND x.ord = p.ord)""")
        parts.append(f"""
    , be{s} AS (
        SELECT r.vec_id, b.cid,
               CAST(SUM((r.rv - b.cv) * (r.rv - b.cv)) AS BIGINT) AS dist
        FROM rs{s} r JOIN b{s}_{pq_iters} b ON b.ord = r.ord
        GROUP BY r.vec_id, b.cid),
    en{s} AS (
        SELECT vec_id, cid AS code FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM be{s}) WHERE rn = 1)""")
    parts.append(f"""
    , probe AS (
        SELECT cid AS list_id FROM (
            SELECT cid, ROW_NUMBER() OVER (ORDER BY dist, cid) AS rn
            FROM dfin WHERE vec_id = {qid}) WHERE rn <= {n_probe}),
    qres AS (
        SELECT p.list_id, q.ord, q.qv - c.cv AS rv
        FROM q CROSS JOIN probe p
        JOIN {cfin} c ON c.cid = p.list_id AND c.ord = q.ord
        WHERE q.vec_id = {qid})""")
    for s in range(m):
        parts.append(f"""
    , dt{s} AS (
        SELECT r.list_id, b.cid AS code,
               CAST(SUM((r.rv - b.cv) * (r.rv - b.cv)) AS BIGINT) AS d
        FROM qres r JOIN b{s}_{pq_iters} b ON b.ord = r.ord
        GROUP BY r.list_id, b.cid)""")
    en_joins = " ".join(
        f"JOIN en{s} ON en{s}.vec_id = en0.vec_id" for s in range(1, m))
    dt_joins = " ".join(
        f"JOIN dt{s} ON dt{s}.list_id = a.cid AND dt{s}.code = en{s}.code"
        for s in range(m))
    adc_sum = " + ".join(f"dt{s}.d" for s in range(m))
    parts.append(f"""
    , adc AS (
        SELECT en0.vec_id, CAST({adc_sum} AS BIGINT) AS adc_units
        FROM en0 {en_joins}
        JOIN afin a ON a.vec_id = en0.vec_id
        JOIN probe p ON p.list_id = a.cid
        {dt_joins}
        WHERE en0.vec_id <> {qid})
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY adc_units, vec_id) AS INT)
               AS rank,
           vec_id, adc_units
    FROM adc
    ORDER BY adc_units, vec_id
    LIMIT {topk}""")
    return "".join(parts)


def _ivfpq_oracle() -> str:
    from .r7_queries import _kmeans_oracle
    return _kmeans_oracle(k=8, iterations=2, final_select=_ivfpq_tail(
        m=2, pq_k=4, pq_iters=2, dims=64, ivf_iters=2, n_probe=2,
        topk=10, qid=0))


@register(
    "q_sim_ann_ivfpq",
    oracle=_ivfpq_oracle(),
    doc="COMPOSED IVF + PQ-on-residuals ADC top-k — the IVFADC index of "
        "Jégou et al. (TPAMI 2011, public method), the canonical "
        "billion-vector ANN layout (coarse quantizer routes to inverted "
        "lists; PQ codebooks train on the RESIDUALS, which carry far "
        "less variance than raw vectors; a query probes its n_probe=2 "
        "nearest lists and scores by asymmetric distance against "
        "per-list driver-literal tables). The repo shipped IVF routing "
        "(q_sim_ann_ivf) and raw-vector PQ (q_pq_adc_topk) separately; "
        "this is their composition, which is what a 100 TB deployment "
        "actually runs: 8·m bytes of residency per vector, lists as the "
        "partition key (a probe scans n_probe/n_lists of the code "
        "table), training once on a sample. Every stage is fixed-point "
        "deterministic (operators/similarity.topk_ivfpq_fixed), so the "
        "FULL composition is bit-exact against an unrolled SQL oracle: "
        "q_kmeans_lloyd's IVF prefix, residual subtraction, per-subspace "
        "Lloyd on residuals, encode, probe, per-(list, subspace) ADC "
        "tables, top-k cut. Quantizer shared with q_sim_ann_ivf via the "
        "same persisted table (train-once contract).",
    tags=("llm", "similarity", "approx", "iterative"),
)
def q_sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as S
    from .llm import _ivf_quantizer_path

    e = load_par(spark, sf_dir, "embeddings")
    cdf = S.persist_ivf_quantizer_fixed(e, _ivf_quantizer_path(sf_dir),
                                        n_lists=8, iterations=2)
    return S.topk_ivfpq_fixed(e, query_vec_id=0, k_top=10, n_lists=8,
                              ivf_iterations=2, n_probe=2, m=2, pq_k=4,
                              pq_iterations=2, centroids=cdf)

# ---------------------------------------------------------------------------
# Deterministic PCA by power iteration, bit-exact oracle
# ---------------------------------------------------------------------------


def _pca_power_oracle(iterations: int = 8, coord_scale: int = 1_000,
                      vec_scale: int = 1_000_000) -> str:
    """Unrolled SQL twin of operators/spectral.pca_power_projection:
    quantize at coord_scale, FLOOR(sum/n) means, exact integer Gram via
    the centered self-join, start axis = largest diagonal (ties smaller
    dim), `iterations` exact-integer matvecs each renormalized by
    FLOOR(CAST(w AS DOUBLE) * vec_scale / CAST(max|w| AS DOUBLE)) — the
    one IEEE double op per step, identical to Python's float() path —
    then the exact integer projection per vector. HUGEINT casts keep the
    matvec exact at any fixture scale (the Spark side iterates on
    driver Python ints, which never overflow). The multi-referenced
    CTEs are MATERIALIZED and the per-step max rides a window — without
    both, DuckDB's CTE inlining re-expands the whole prefix per
    reference, which is exponential in the unrolled iteration count
    (measured: the naive form never finished 8 iterations; this form
    runs in well under a second)."""
    parts = [f"""
    q AS MATERIALIZED (
        SELECT vec_id, u.ord AS ord,
               CAST(FLOOR(CAST(u.val AS DOUBLE) * {coord_scale} + 0.5)
                    AS BIGINT) AS qv
        FROM (SELECT vec_id,
                     unnest(list_transform(embedding,
                            (x, i) -> {{'val': x, 'ord': i}})) AS u
              FROM embeddings)),
    mn AS (
        SELECT ord,
               CAST(FLOOR(CAST(SUM(qv) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS mu
        FROM q GROUP BY ord),
    c AS MATERIALIZED (
        SELECT q.vec_id, q.ord, q.qv - m.mu AS cv
        FROM q JOIN mn m ON m.ord = q.ord),
    g AS MATERIALIZED (
        SELECT a.ord AS i, b.ord AS j,
               SUM(CAST(a.cv AS HUGEINT) * b.cv) AS gv
        FROM c a JOIN c b ON a.vec_id = b.vec_id
        GROUP BY 1, 2),
    d0 AS (SELECT i FROM g WHERE i = j ORDER BY gv DESC, i LIMIT 1),
    v0 AS (
        SELECT dm.i AS ord,
               CASE WHEN dm.i = d0.i THEN CAST({vec_scale} AS HUGEINT)
                    ELSE CAST(0 AS HUGEINT) END AS v
        FROM (SELECT DISTINCT i FROM g) dm CROSS JOIN d0)"""]
    for t in range(1, iterations + 1):
        parts.append(f"""
    , w{t} AS (
        SELECT g.i AS ord, SUM(g.gv * v.v) AS wv
        FROM g JOIN v{t - 1} v ON v.ord = g.j
        GROUP BY 1),
    v{t} AS MATERIALIZED (
        SELECT ord,
               CAST(FLOOR(CAST(wv AS DOUBLE) * {float(vec_scale)}
                          / CAST(MAX(ABS(wv)) OVER () AS DOUBLE))
                    AS HUGEINT) AS v
        FROM w{t})""")
    parts.append(f"""
    SELECT c.vec_id, CAST(SUM(c.cv * v.v) AS BIGINT) AS proj_units
    FROM c JOIN v{iterations} v ON v.ord = c.ord
    GROUP BY 1""")
    return "WITH " + "".join(parts[:-1]) + parts[-1]


@register(
    "q_pca_power_projection",
    oracle=_pca_power_oracle(iterations=64),
    doc="Deterministic PCA by POWER ITERATION — each vector's exact "
        "integer projection onto the dominant principal direction of "
        "the mean-centered corpus (operators/spectral.py): the "
        "whitening/decorrelation primitive for embedding diagnostics, "
        "1-D curriculum ordering, and the rotation in front of PQ/IVF "
        "quantizers (Jégou et al. 2011 §V). 100 TB shape: the corpus is "
        "touched exactly twice (one map-side-combinable d-group Gram "
        "pass with d decimal sums per group, one narrow projection "
        "fold); the O(d²) eigen-work runs on the driver against a 64×64 "
        "integer matrix — the bounded-driver budget class of k-means "
        "centroids. Fixed-point end-to-end (1e3 coordinate units, FLOOR "
        "means, exact integer Gram and matvecs, max-norm renormalization "
        "with ONE IEEE double op per step), so the whole pipeline is "
        "bit-exact against the unrolled 64-iteration SQL oracle — the "
        "q_kmeans_lloyd discipline applied to the power method.",
    tags=("llm", "similarity", "iterative"),
)
def q_pca_power_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spectral import pca_power_projection

    e = load_par(spark, sf_dir, "embeddings")
    return pca_power_projection(e, iterations=64)

# ---------------------------------------------------------------------------
# Streaming ANN ingest: frozen IVFADC model, incremental code appends
# ---------------------------------------------------------------------------


def _seeded_kmeans_prefix(k: int = 8, iterations: int = 2,
                          scale: int = 1_000_000) -> str:
    """_kmeans_oracle's unrolled prefix with the TRAINING restricted to
    the seed third (vec_id·3 < n) while the final assignment (afin) and
    distance table (dfin) cover EVERY vector — the frozen-model contract
    of q_stream_ann_ingest: the quantizer never sees streamed arrivals,
    but every arrival is routed by it. Same init (first k ids — the
    seed IS the low-id third, so vec_id < k stays valid), same argmin
    tie-break, same FLOOR update and empty-cluster carry."""
    parts = [f"""
    q AS MATERIALIZED (
        SELECT vec_id, u.ord AS ord,
               CAST(FLOOR(CAST(u.val AS DOUBLE) * {scale} + 0.5) AS BIGINT)
                   AS qv
        FROM (SELECT vec_id,
                     unnest(list_transform(embedding,
                            (x, i) -> {{'val': x, 'ord': i}})) AS u
              FROM embeddings)
    ),
    cnt AS (SELECT COUNT(*) AS n FROM embeddings),
    qs AS MATERIALIZED (
        SELECT q.* FROM q CROSS JOIN cnt WHERE q.vec_id * 3 < cnt.n),
    c0 AS (SELECT CAST(vec_id AS INT) AS cid, ord, qv AS cv
           FROM qs WHERE vec_id < {k})"""]
    for t in range(1, iterations + 1):
        parts.append(f"""
    , d{t} AS (
        SELECT q.vec_id, c.cid,
               CAST(SUM((q.qv - c.cv) * (q.qv - c.cv)) AS BIGINT) AS dist
        FROM qs q JOIN c{t - 1} c ON q.ord = c.ord
        GROUP BY q.vec_id, c.cid
    ),
    a{t} AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d{t}) WHERE rn = 1
    ),
    c{t} AS (
        SELECT p.cid, p.ord,
               COALESCE(CAST(FLOOR(CAST(s.sq AS DOUBLE) / s.n) AS BIGINT),
                        p.cv) AS cv
        FROM c{t - 1} p LEFT JOIN (
            SELECT a.cid, q.ord, CAST(SUM(q.qv) AS BIGINT) AS sq,
                   COUNT(*) AS n
            FROM a{t} a JOIN qs q ON q.vec_id = a.vec_id
            GROUP BY a.cid, q.ord) s
        ON s.cid = p.cid AND s.ord = p.ord
    )""")
    parts.append(f"""
    , dfin AS (
        SELECT q.vec_id, c.cid,
               CAST(SUM((q.qv - c.cv) * (q.qv - c.cv)) AS BIGINT) AS dist
        FROM q JOIN c{iterations} c ON q.ord = c.ord
        GROUP BY q.vec_id, c.cid
    ),
    afin AS (
        SELECT vec_id, cid, dist FROM (
            SELECT vec_id, cid, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM dfin) WHERE rn = 1
    )""")
    return "".join(parts)


def _stream_ann_oracle() -> str:
    return ("WITH " + _seeded_kmeans_prefix(k=8, iterations=2)
            + _ivfpq_tail(m=2, pq_k=4, pq_iters=2, dims=64, ivf_iters=2,
                          n_probe=2, topk=10, qid=0,
                          train_pred="vec_id * 3 < (SELECT n FROM cnt)"))


@register(
    "q_stream_ann_ingest",
    oracle=_stream_ann_oracle(),
    doc="STREAMING vector-index ingest against a FROZEN IVFADC model — "
        "how a 100 TB similarity index stays fresh: the coarse "
        "quantizer and the residual PQ codebooks train ONCE on the seed "
        "corpus (the low-id third), then micro-batches of arriving "
        "vectors encode against the frozen literals in foreachBatch "
        "(operators/similarity.ivfpq_encode_frozen: quantize → integer "
        "argmin assign → residual → per-subspace code, ONE narrow "
        "codegen projection per batch — no shuffle, no training job, no "
        "read of the existing index) and append (vec_id, list_id, "
        "code_*) rows to the persisted code table; the query half "
        "(ivfpq_adc_over_codes) probes its n_probe nearest lists over "
        "the ACCUMULATED table. Batch boundaries cannot affect the "
        "result (encoding is row-wise against frozen literals), so the "
        "oracle replays the whole pipeline batch-free: seeded-training "
        "k-means prefix (train on the seed third, assign everything), "
        "PQ trained on seed residuals only (train_pred), encode all, "
        "probe, ADC — bit-for-bit.",
    tags=("llm", "similarity", "streaming", "approx", "iterative"),
)
def q_stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..operators import clustering as C
    from ..operators import similarity as S
    from ..streaming.jobs import drain

    e = load_par(spark, sf_dir, "embeddings")
    n = e.count()  # bounded scalar — the oracle's COUNT(*) twin
    seed = e.filter(F.col("vec_id") * 3 < n)
    drop_a = e.filter((F.col("vec_id") * 3 >= n)
                      & (F.col("vec_id") * 3 < 2 * n))
    drop_b = e.filter(F.col("vec_id") * 3 >= 2 * n)

    # frozen model: trained once on the seed, collected as literals
    cdf = S.train_ivf_quantizer_fixed(seed, n_lists=8, iterations=2)
    cents = {int(r["list_id"]): [int(v) for v in r["centroid"]]
             for r in cdf.collect()}
    rseed = S.ivf_residuals(seed, cents)
    books = S.pq_train_codebooks(rseed.select("vec_id", "qvec"),
                                 m=2, k=4, iterations=2)

    base = tempfile.mkdtemp(prefix="canary_ann_ingest_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    drops = os.path.join(base, "drops")
    codes_dir = os.path.join(base, "codes")
    ckpt = os.path.join(base, "ckpt")

    # the initial index: seed codes, written once
    (S.ivfpq_encode_frozen(seed, cents, books)
     .write.mode("overwrite").parquet(os.path.join(codes_dir, "seed")))

    def encode_batch(batch: DataFrame, batch_id: int) -> None:
        # batch_id-keyed subdir + overwrite, NOT a flat append:
        # foreachBatch is at-least-once, so a replayed batch after a
        # partial write must OVERWRITE its own output, never duplicate
        # rows — this keeps the advertised bit-exact verdict true under
        # retries, not just on the happy path
        (S.ivfpq_encode_frozen(batch, cents, books)
         .write.mode("overwrite")
         .parquet(os.path.join(codes_dir, f"batch_{int(batch_id):05d}")))

    schema = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    for b in (drop_a, drop_b):
        # 8 files per drop, not coalesce(1): a single-file drop made the
        # fixture write a 0.5 GB file in ONE task at the 1000x probe —
        # the drop layout is harness scaffolding either way
        b.repartition(8).write.mode("append").parquet(drops)
        q = (spark.readStream.schema(schema).parquet(drops)
             .writeStream.foreachBatch(encode_batch)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        # 600s: the sf fixtures drain in seconds; the headroom is for
        # the 1000x scale probes, where a 667k-vector drop per cycle
        # outgrows the 120s default (a harness bound, not the operator)
        drain(q, timeout=600)

    codes = (spark.read.option("recursiveFileLookup", "true")
             .parquet(codes_dir))
    q0 = [int(v) for v in
          C.quantize_vectors(e).filter(F.col("vec_id") == 0)
          .collect()[0]["qvec"]]
    return S.ivfpq_adc_over_codes(codes, q0, cents, books, k_top=10,
                                  n_probe=2, exclude_vec_id=0)

# ---------------------------------------------------------------------------
# Streaming PCA: additive moment state, bit-identical to the batch entry
# ---------------------------------------------------------------------------


@register(
    "q_stream_pca_update",
    oracle=_pca_power_oracle(iterations=64),  # SHARED verbatim with the
    # batch entry: the streaming path must land on the identical result
    doc="STREAMING spectral state — incremental PCA over micro-batches: "
        "the centered Gram is NOT computed from the corpus at the end; "
        "each arriving batch contributes its raw-moment state (n, "
        "s_i = Σqv_i, M_ij = Σqv_i·qv_j — one gram-style map-side pass "
        "per batch, d²+d+1 driver ints appended as ONE state row), and "
        "states from disjoint batches SUM to the union's state because "
        "centering expands exactly: Σ(qv−μ)(qv−μ)ᵀ = M − μsᵀ − sμᵀ + "
        "nμμᵀ with integer μ — an identity, not an approximation "
        "(operators/spectral.moment_state / gram_from_moments). After "
        "the last batch the driver derives μ and G from the summed "
        "state, runs the same 64 power iterations, and attaches "
        "projections in one pass over the accumulated corpus. The "
        "result is BIT-IDENTICAL to q_pca_power_projection — this entry "
        "shares its unrolled oracle verbatim (the r10 streaming-"
        "admission discipline: same oracle, streaming path), and the "
        "row-for-row equality is pytest-pinned. At 100 TB this is the "
        "monitoring shape: per-batch cost is O(batch) + a constant "
        "state row; the dominant direction (drift audits, curriculum "
        "re-ranks) re-derives in O(d²) driver work at ANY point of the "
        "stream without touching history.",
    tags=("llm", "similarity", "streaming", "iterative"),
)
def q_stream_pca_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..operators import spectral as SP
    from ..streaming.jobs import drain

    e = load_par(spark, sf_dir, "embeddings")
    # mod-3 drops: balanced at ANY id distribution (a value-range cut
    # goes degenerate on the scale amplifier's shifted sparse ids — an
    # empty middle drop at 1000x found exactly that); the split cannot
    # affect the result, which is the point the shared oracle proves
    thirds = [e.filter(F.col("vec_id") % 3 == i) for i in range(3)]

    base = tempfile.mkdtemp(prefix="canary_pca_stream_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    drops = os.path.join(base, "drops")
    state_dir = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")

    def accumulate(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):  # an empty micro-batch contributes nothing
            return
        bn, bs, bm = SP.moment_state(batch)
        flat = [v for row in bm for v in row]
        # batch_id-keyed subdir + overwrite (see encode_batch in
        # q_stream_ann_ingest): an at-least-once replay must overwrite
        # its own state row, or the summed moments double-count
        batch.sparkSession.createDataFrame(
            [(int(batch_id), bn, bs, flat)],
            "batch_id INT, n BIGINT, s ARRAY<BIGINT>, m ARRAY<BIGINT>"
        ).write.mode("overwrite").parquet(
            os.path.join(state_dir, f"batch_{int(batch_id):05d}"))

    schema = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    for b in thirds:
        b.repartition(8).write.mode("append").parquet(drops)  # see ann
        # ingest: parallel drop writes, layout is fixture scaffolding
        q = (spark.readStream.schema(schema).parquet(drops)
             .writeStream.foreachBatch(accumulate)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        drain(q, timeout=600)  # same scale-probe headroom as ann_ingest

    states = (spark.read.option("recursiveFileLookup", "true")
              .parquet(state_dir).collect())  # one row per batch
    dims = len(states[0]["s"])
    tot_n = sum(int(r["n"]) for r in states)
    tot_s = [sum(int(r["s"][i]) for r in states) for i in range(dims)]
    tot_m = [[sum(int(r["m"][i * dims + j]) for r in states)
              for j in range(dims)] for i in range(dims)]
    mu, gram = SP.gram_from_moments(tot_n, tot_s, tot_m)
    v = SP.power_iterate(gram, iterations=64)
    corpus = spark.read.parquet(drops)  # the stream's delivered corpus
    return SP.project_on_direction(corpus, mu, v)

# ---------------------------------------------------------------------------
# Corpus distribution drift: total-variation monitor, integer-exact
# ---------------------------------------------------------------------------

_DRIFT_TV_SQL = r"""
    WITH toks AS (
        SELECT doc_id % 2 AS half,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents
    ), toks2 AS (SELECT * FROM toks WHERE term <> ''),
    n AS (
        SELECT CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n0,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1
        FROM toks2
    ), cnt AS (
        SELECT term,
               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c0,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1
        FROM toks2 GROUP BY term
    ), per AS (
        SELECT term,
               1000000000 * c0 // n.n0 AS p0_units,
               1000000000 * c1 // n.n1 AS p1_units
        FROM cnt CROSS JOIN n
    ), scored AS (
        SELECT term, p0_units, p1_units,
               ABS(p0_units - p1_units) AS drift_units
        FROM per
    ), tot AS (
        SELECT CAST(SUM(drift_units) // 2 AS BIGINT) AS tv_units
        FROM scored
    )
    SELECT s.term, s.p0_units, s.p1_units, s.drift_units, t.tv_units
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY drift_units DESC, term)
                      AS rn
        FROM scored) s CROSS JOIN tot t
    WHERE s.rn <= 20
"""


@register(
    "q_corpus_drift_tv",
    oracle=_DRIFT_TV_SQL,
    doc="CORPUS DISTRIBUTION DRIFT monitor — total-variation distance "
        "between two corpus snapshots' token distributions (here the "
        "even/odd doc_id halves as the deterministic stand-in for "
        "yesterday's corpus vs today's), with the top-20 drifted terms: "
        "TV = ½·Σ|p_t − q_t| over per-snapshot term frequencies in 1e9 "
        "fixed-point units (FLOOR rational division — NO logarithm, so "
        "unlike KL there is no cross-engine libm hazard anywhere in the "
        "statistic; the repo's ln-avoidance discipline, r7 tfidf "
        "retrieval). Output: (term, p0_units, p1_units, drift_units, "
        "tv_units) for the 20 largest drifts, the corpus-level TV "
        "riding every row. 100 TB shape: two map-side-combinable term "
        "counts (the same pass ships both snapshots via a conditional "
        "aggregate), one broadcast of the two totals, one "
        "TakeOrderedAndProject — the monitor a training pipeline runs "
        "per ingest cycle to catch source composition shifts before "
        "they hit the mix weights.",
    tags=("llm", "text", "quality"),
)
def q_corpus_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_par(spark, sf_dir, "documents")
    toks = (d.select((F.col("doc_id") % 2).alias("half"),
                     F.explode(F.split(F.lower(F.trim("text")), r"\s+"))
                     .alias("term"))
            .filter(F.col("term") != ""))
    cnt = toks.groupBy("term").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"))
    n = toks.agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n1"))
    # degenerate-input totality (the repo's explicit-failure pattern): a
    # zero-token half makes Spark's integer div yield NULL rows where the
    # DuckDB oracle raises — the engines must not disagree on failure
    # mode, so fail loudly here; and past ~9.2e9 tokens per half the
    # 1e9-scaled numerator would wrap BIGINT silently (non-ANSI) while
    # DuckDB stays exact — same loud-guard discipline as
    # spectral._check_sum_exactness. One metric-sized eager row.
    nrow = n.collect()[0]
    n0, n1 = int(nrow["n0"] or 0), int(nrow["n1"] or 0)
    if n0 == 0 or n1 == 0:
        raise ValueError(
            f"corpus_drift_tv: a snapshot half has zero tokens "
            f"(n0={n0}, n1={n1}) — TV against an empty distribution "
            "is undefined")
    if max(n0, n1) > (1 << 63) // 1_000_000_000:
        raise ValueError(
            f"corpus_drift_tv: token total {max(n0, n1)} exceeds the "
            "1e9-unit BIGINT exactness bound (~9.2e9 tokens/half)")
    # `div` (integer division), NOT FLOOR(double /): the double quotient
    # rounds to nearest before the floor, which can flip the unit at
    # denominators past ~4e6 tokens — integer div is exact at any scale
    # and matches DuckDB's `//` on non-negative operands
    per = (cnt.crossJoin(F.broadcast(n))
           .select("term",
                   F.expr("1000000000L * c0 div n0").alias("p0_units"),
                   F.expr("1000000000L * c1 div n1").alias("p1_units")))
    scored = per.withColumn(
        "drift_units", F.abs(F.col("p0_units") - F.col("p1_units")))
    tot = scored.agg(F.expr("sum(drift_units) div 2").alias("tv_units"))
    top = (scored.orderBy(F.desc("drift_units"), F.asc("term")).limit(20)
           .crossJoin(F.broadcast(tot)))
    return top.select("term", "p0_units", "p1_units", "drift_units",
                      "tv_units")

# ---------------------------------------------------------------------------
# PCA top-2: deflation + second power chain, bit-exact oracle
# ---------------------------------------------------------------------------


def _power_chain_sql(gcte: str, vp: str, iterations: int,
                     vec_scale: int = 1_000_000) -> tuple[str, str]:
    """(chain_sql, final_v_cte): unrolled power-method CTE chain over an
    (i, j, gv) Gram CTE — start axis = largest diagonal (ties smaller
    dim), per-step window-folded max renormalization, MATERIALIZED v
    steps (the CTE-inlining lesson, see _pca_power_oracle)."""
    parts = [f"""
    , {vp}d0 AS (SELECT i FROM {gcte} WHERE i = j
                 ORDER BY gv DESC, i LIMIT 1),
    {vp}0 AS (
        SELECT dm.i AS ord,
               CASE WHEN dm.i = {vp}d0.i THEN CAST({vec_scale} AS HUGEINT)
                    ELSE CAST(0 AS HUGEINT) END AS v
        FROM (SELECT DISTINCT i FROM {gcte}) dm CROSS JOIN {vp}d0)"""]
    for t in range(1, iterations + 1):
        parts.append(f"""
    , {vp}w{t} AS (
        SELECT g.i AS ord, SUM(g.gv * v.v) AS wv
        FROM {gcte} g JOIN {vp}{t - 1} v ON v.ord = g.j
        GROUP BY 1),
    {vp}{t} AS MATERIALIZED (
        SELECT ord,
               CAST(FLOOR(CAST(wv AS DOUBLE) * {float(vec_scale)}
                          / CAST(MAX(ABS(wv)) OVER () AS DOUBLE))
                    AS HUGEINT) AS v
        FROM {vp}w{t})""")
    return "".join(parts), f"{vp}{iterations}"


def _pca_top2_oracle(iterations: int = 64, coord_scale: int = 1_000,
                     down: int = 1_000) -> str:
    """Top-2 twin of _pca_power_oracle: the shared quantize/means/Gram
    prefix, the first power chain, integer Hotelling deflation
    (v̂ = v1 // down — DuckDB `//` truncates toward zero, which is
    exactly operators/spectral._tdiv — then G₂ = G − (v̂ᵀGv̂)·v̂v̂ᵀ//den²),
    the second chain over G₂, and both projections in one aggregate."""
    prefix = f"""
    q AS MATERIALIZED (
        SELECT vec_id, u.ord AS ord,
               CAST(FLOOR(CAST(u.val AS DOUBLE) * {coord_scale} + 0.5)
                    AS BIGINT) AS qv
        FROM (SELECT vec_id,
                     unnest(list_transform(embedding,
                            (x, i) -> {{'val': x, 'ord': i}})) AS u
              FROM embeddings)),
    mn AS (
        SELECT ord,
               CAST(FLOOR(CAST(SUM(qv) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS mu
        FROM q GROUP BY ord),
    c AS MATERIALIZED (
        SELECT q.vec_id, q.ord, q.qv - m.mu AS cv
        FROM q JOIN mn m ON m.ord = q.ord),
    g AS MATERIALIZED (
        SELECT a.ord AS i, b.ord AS j,
               SUM(CAST(a.cv AS HUGEINT) * b.cv) AS gv
        FROM c a JOIN c b ON a.vec_id = b.vec_id
        GROUP BY 1, 2)"""
    chain1, v1 = _power_chain_sql("g", "va", iterations)
    deflate = f"""
    , vd AS (SELECT ord, v // {down} AS vd FROM {v1}),
    nm AS (
        SELECT SUM(a.vd * g.gv * b.vd) AS num
        FROM g JOIN vd a ON a.ord = g.i JOIN vd b ON b.ord = g.j),
    dn AS (SELECT SUM(vd * vd) AS den FROM vd),
    g2 AS MATERIALIZED (
        SELECT g.i, g.j,
               g.gv - (nm.num * a.vd * b.vd) // (dn.den * dn.den) AS gv
        FROM g JOIN vd a ON a.ord = g.i JOIN vd b ON b.ord = g.j
        CROSS JOIN nm CROSS JOIN dn)"""
    chain2, v2 = _power_chain_sql("g2", "vb", iterations)
    final = f"""
    SELECT c.vec_id,
           CAST(SUM(c.cv * p1.v) AS BIGINT) AS proj1_units,
           CAST(SUM(c.cv * p2.v) AS BIGINT) AS proj2_units
    FROM c JOIN {v1} p1 ON p1.ord = c.ord
           JOIN {v2} p2 ON p2.ord = c.ord
    GROUP BY 1"""
    return "WITH " + prefix + chain1 + deflate + chain2 + final


@register(
    "q_pca_top2",
    oracle=_pca_top2_oracle(iterations=64),
    doc="TOP-2 spectral scatter — each vector's exact integer "
        "projections onto the two leading principal directions "
        "(operators/spectral.pca_top2_projection): the 2-D embedding "
        "map a curation run plots to eyeball cluster structure, plus "
        "the input to quadrant-based diversity sampling. Direction 1 is "
        "q_pca_power_projection's power iteration; direction 2 comes "
        "from integer Hotelling deflation (G₂ = G − λ·v̂v̂ᵀ/(v̂ᵀv̂) folded "
        "into one truncating division per cell, v̂ downscaled 1e3 to "
        "keep the triple product inside HUGEINT at every probed "
        "decade) and a second 64-iteration chain over G₂. Deflation "
        "division TRUNCATES toward zero on both engines — DuckDB's // "
        "is not Python's floor //, a sign-dependent one-unit trap "
        "(spectral._tdiv). Corpus cost is UNCHANGED from the 1-D entry "
        "(same two passes; the extra work is O(d²) driver ints), and "
        "the numpy pytest pins both directions' quality.",
    tags=("llm", "similarity", "iterative"),
)
def q_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spectral import pca_top2_projection

    e = load_par(spark, sf_dir, "embeddings")
    return pca_top2_projection(e, iterations=64)
