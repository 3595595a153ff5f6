"""Round-12 registry queries.

Closes the r11 verdict's evidence gaps with three driver-visible
entries: the FIXED-BATCH streaming-admission twin (the O(batch) design
point of the persisted-postings screen, previously only a table in
scripts/admission_scale.py — here the batch is pinned at an
sf-INDEPENDENT 200 documents while the corpus grows with the fixture,
so the registry decade rows measure exactly the fixed-batch/
growing-corpus axis), the IVFADC PARAMETER SWEEP (recall@10 vs scan
fraction and code residency across (m, pq_k, n_probe) grid points on
the clustered recommended regime AND the unclustered worst case — the
100 TB operating point chosen from data, Jégou et al. Fig. 5 as a
registry entry), and the PER-STRATUM total-variation drift
decomposition (the r11 corpus-level TV monitor broken down per source
and per lang — the table the curation mix stage consumes to re-weight
drifting sources, same integer-exact no-libm units).

Reference provenance: the reference repo (ilias-lp/canary-weather-etl
README.md) ships none of these; they extend the engine's LLM-pipeline
family (SURVEY.md §2.11) with public methods only (Broder shingle
Jaccard, Jégou et al. IVFADC, total-variation distance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import similarity as S
from .llm import _ivf_quantizer_path, clustered_embeddings
from .r10_queries import _admission_round_sql, _grams_sql
from .registry import load, load_par, register

# ---------------------------------------------------------------------------
# Fixed-batch streaming admission: the O(batch) design point, driver-visible
# ---------------------------------------------------------------------------

_FIXED_B = 200  # sf-INDEPENDENT batch span: doc_id < 200 at every scale

_ADMISSION_FIXED_SQL = f"""
    WITH c0 AS (SELECT doc_id, text FROM documents
                WHERE doc_id >= {_FIXED_B}),
    ba AS (SELECT doc_id, text FROM documents
           WHERE doc_id < {_FIXED_B // 2}),
    bb AS (SELECT doc_id, text FROM documents
           WHERE doc_id >= {_FIXED_B // 2} AND doc_id < {_FIXED_B}),
    {_grams_sql('c0', 'g_c0')},
    {_grams_sql('ba', 'g_ba')},
    {_grams_sql('bb', 'g_bb')},
    md5_c0 AS (SELECT DISTINCT md5(text) AS h FROM c0),
    {_admission_round_sql('ba', 'g_c0', 'g_c0_sz', 'md5_c0',
                          'g_ba', 'g_ba_sz')},
    {_admission_round_sql('bb', 'g_c0', 'g_c0_sz', 'md5_c0',
                          'g_bb', 'g_bb_sz')}
    SELECT doc_id, verdict, n_near FROM verd_ba
    UNION ALL
    SELECT doc_id, verdict, n_near FROM verd_bb
"""


def _corpus_fingerprint(corpus: DataFrame, sf_dir: str) -> str:
    """Content fingerprint for the cached seed state: resolved fixture
    path + corpus row count + doc_id sum + an xxhash64 fold over
    (doc_id, text) — one metric-sized aggregate. The content fold closes
    the r12 ADVICE gap: the previous path+count+id-sum key was content-
    blind, so an in-place fixture regeneration that kept the same ids
    (text-only change) stale-hit the cached postings/md5 state. bit_xor,
    not sum, for the fold: ANSI mode + long sums of 64-bit hashes
    overflow."""
    import hashlib
    import os

    row = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("s"),
        F.bit_xor(F.xxhash64("doc_id", "text")).alias("c"),
    ).collect()[0]
    key = (f"{os.path.realpath(sf_dir)}|{row['n']}|{row['s']}|{row['c']}"
           f"|B{_FIXED_B}n2")
    return hashlib.md5(key.encode()).hexdigest()[:16]


@register(
    "q_stream_admission_fixed_batch",
    oracle=_ADMISSION_FIXED_SQL,
    doc="FIXED-BATCH streaming admission — the O(batch) DESIGN POINT of "
        "the persisted-postings screen as a driver-checkable registry "
        "entry (r11 verdict #5: the design point previously lived only "
        "in scripts/admission_scale.py's table, because the registry "
        "amplifier grows q_stream_admission_postings' %%3-split batches "
        "along with the corpus). Here the two micro-batches are pinned "
        "at an sf-INDEPENDENT span (doc_id < 200 — 200 documents at "
        "EVERY scale factor and every amplifier multiple, since "
        "amplified copies shift ids far above it) while the seed corpus "
        "(doc_id >= 200) grows with the fixture — so this entry's "
        "decade rows measure exactly the fixed-batch/growing-corpus "
        "axis: per-batch wall must stay ~flat while the corpus grows "
        "10x/100x. The screen runs admission_screen_batch's postings "
        "screen in SCREEN-ONLY mode (writeback=False): the corpus is "
        "FIXED for both batches, so the seeded state is immutable and "
        "cached across invocations under a content fingerprint "
        "(/tmp, keyed on fixture path + corpus count + id sum + an "
        "xxhash64 fold over (doc_id, text), so a text-only in-place "
        "fixture edit invalidates it) — the "
        "one-off seed cost amortizes exactly as a persistent deployment "
        "state would, and repeated runs price the pure per-batch "
        "screen. EXACT (content-md5 gate + bigram Jaccard >= 0.5), "
        "verdict-identical to a rescan of the same corpus; the oracle "
        "replays both batches against the fixed corpus in SQL.",
    tags=("llm", "dedup", "streaming"),
)
def q_stream_admission_fixed_batch(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..streaming.jobs import drain

    d = load(spark, sf_dir, "documents")
    corpus0 = (d.filter(F.col("doc_id") >= _FIXED_B)
               .select("doc_id", "text"))
    batch_a = (d.filter(F.col("doc_id") < _FIXED_B // 2)
               .select("doc_id", "text"))
    batch_b = (d.filter((F.col("doc_id") >= _FIXED_B // 2)
                        & (F.col("doc_id") < _FIXED_B))
               .select("doc_id", "text"))

    # immutable seed state, cached by content fingerprint: the corpus
    # never changes within a run (screen-only mode) and the fingerprint
    # invalidates across fixtures, so a repeat invocation pays only the
    # per-batch screen — the persistent-deployment cost shape
    fp = _corpus_fingerprint(corpus0, sf_dir)
    # uid-scoped since r13 (the canary_ivf_u{uid} convention, ADVICE r2):
    # a shared /tmp root PermissionErrors for the second user on a host
    cache = f"/tmp/canary_admission_fixed_u{os.getuid()}/{fp}"
    corpus_dir = os.path.join(cache, "corpus")
    state_dir = os.path.join(cache, "state")
    if not os.path.exists(os.path.join(cache, "_DONE")):
        shutil.rmtree(cache, ignore_errors=True)  # partial seed → rebuild
        os.makedirs(cache, exist_ok=True)
        corpus0.write.mode("overwrite").parquet(corpus_dir)
        D.admission_state_init(corpus0, state_dir, n=2)
        open(os.path.join(cache, "_DONE"), "w").close()

    base = tempfile.mkdtemp(prefix="canary_admission_fixed_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    drops = os.path.join(base, "drops")
    verdicts_dir = os.path.join(base, "verdicts")
    ckpt = os.path.join(base, "ckpt")

    def screen(batch: DataFrame, batch_id: int) -> None:
        verdicts = D.admission_screen_batch(
            batch, corpus_dir, state_dir=state_dir, threshold=0.5, n=2,
            writeback=False)
        # batch_id-keyed overwrite: idempotent under foreachBatch's
        # at-least-once replays (the r12 sink discipline)
        (verdicts.select("doc_id", "verdict", "n_near")
         .write.mode("overwrite")
         .parquet(os.path.join(verdicts_dir, f"batch_{int(batch_id):05d}")))

    schema = "doc_id BIGINT, text STRING"
    for b in (batch_a, batch_b):
        b.coalesce(1).write.mode("append").parquet(drops)
        q = (spark.readStream.schema(schema).parquet(drops)
             .writeStream.foreachBatch(screen)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        drain(q)

    return (spark.read.option("recursiveFileLookup", "true")
            .parquet(verdicts_dir))

# ---------------------------------------------------------------------------
# IVFADC parameter sweep: the operating point chosen from data
# ---------------------------------------------------------------------------

# (m, pq_k, n_probe) grid: the shipped default (2,4,2), the recommended
# budget (4,8) across the probe axis, on the clustered regime embedding
# corpora live in; the unclustered random fixture anchors the worst case
# at the recommended budget's probe extremes.
_SWEEP_CLUSTERED = [(2, 4, 2), (4, 8, 1), (4, 8, 2), (4, 8, 4), (4, 8, 8)]
_SWEEP_RAW = [(4, 8, 2), (4, 8, 8)]
_SWEEP_N_LISTS = 8


def _sweep_rows(regime: str, e: DataFrame, grid: list,
                centroids=None, codebooks_dir: str | None = None
                ) -> DataFrame:
    q = (e.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"), "embedding")).cache()
    exact = (S.topk_brute_force(e, q, k=10)
             .select("query_id", "vec_id").cache())
    n_total = exact.count()  # 50-row ground truth — metric-sized
    n_corpus = e.count()
    points = S.ivfpq_sweep(e, [0, 1, 2, 3, 4], grid, k_top=10,
                           n_lists=_SWEEP_N_LISTS, centroids=centroids,
                           codebooks_dir=codebooks_dir)
    # ONE recall job for the whole grid (r12 verdict #5): union every
    # point's top-k with a point index, one semi-join against the exact
    # ground truth, one |grid|-row count agg — instead of a join+agg job
    # per point. The collected state is metric-sized (|grid| ints).
    un = None
    for i, point in enumerate(points):
        t = point["topk"].select(F.lit(i).alias("pt"),
                                 "query_id", "vec_id")
        un = t if un is None else un.unionByName(t)
    hits = {int(r["pt"]): int(r["n"]) for r in
            un.join(exact, ["query_id", "vec_id"], "left_semi")
            .groupBy("pt").agg(F.count(F.lit(1)).alias("n")).collect()}
    rows = [
        (regime, point["m"], point["pq_k"], point["n_probe"],
         # deterministic cost axes: scan fraction (the IVFADC cost
         # model), MEASURED candidate rows, and code residency
         1_000_000 * point["n_probe"] // _SWEEP_N_LISTS,
         point["cand_rows"],
         1_000_000 * point["cand_rows"] // (5 * max(n_corpus - 1, 1)),
         point["code_bytes"],
         hits.get(i, 0) / n_total)
        for i, point in enumerate(points)
    ]
    return e.sparkSession.createDataFrame(
        rows,
        "regime STRING, m INT, pq_k INT, n_probe INT, "
        "scan_frac_ppm BIGINT, cand_rows BIGINT, cand_frac_ppm BIGINT, "
        "code_bytes INT, recall_at_10 DOUBLE")


@register(
    "q_sim_ann_ivfpq_sweep",
    oracle=None,  # quality/cost metric of engine-specific ANN paths
    doc="IVFADC PARAMETER SWEEP — the recall/cost trade as driver data "
        "(r11 verdict #6: the operating point was pinned at two spot "
        "values; this records the CURVE, so the 100 TB regime is chosen "
        "from data): recall@10 vs brute force for (m, pq_k, n_probe) "
        "grid points, each row carrying its deterministic cost axes — "
        "scan_frac_ppm = n_probe/n_lists (the published IVFADC cost "
        "model), MEASURED cand_rows / cand_frac_ppm (code rows the "
        "probes actually scan, from one bounded n_lists-row aggregate), "
        "and code_bytes = m per vector (residency). Clustered regime "
        "(the one embedding corpora live in, md5-rebuildable fixture): "
        "the shipped (2,4,2) default plus the (4,8) budget across "
        "n_probe 1/2/4/8; unclustered random fixture: the (4,8) budget "
        "at probe extremes, anchoring quantization's worst case. The "
        "whole sweep shares ONE quantizer + residual build and one code "
        "table per (m, pq_k) (operators/similarity.ivfpq_sweep). "
        "Rows-only BY DESIGN (hash-seeded model internals); the "
        "recommended-regime floor (clustered (4,8,2) recall >= 0.8) and "
        "probe-axis monotonicity are pytest-asserted "
        "(tests/test_r12_ops.py).",
    tags=("llm", "similarity", "approx", "quality"),
)
def q_sim_ann_ivfpq_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load_par(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    clustered = clustered_embeddings(raw).localCheckpoint(eager=True)
    # Content fingerprint for every sweep-owned cache key (the
    # _corpus_fingerprint discipline, embeddings-shaped): count +
    # vec_id sum + an xxhash64 fold over (vec_id, embedding-as-string).
    # The sweep is rows-only, so a stale model cache would NOT
    # self-expose through an oracle — the key must be content-correct
    # by construction, not by fixture-immutability convention.
    frow = raw.agg(
        F.count(F.lit(1)).alias("n"), F.sum("vec_id").alias("s"),
        F.bit_xor(F.xxhash64("vec_id", F.col("embedding").cast("string")))
        .alias("c")).collect()[0]
    fp = f"{frow['n']}.{frow['s']}.{frow['c']}"
    # BOTH regimes reuse persisted train-once quantizer tables (the
    # q_sim_ann_ivf catalog-table pattern): the raw fixture's table is
    # shared with the oracled entries (content-checked there by the
    # oracle itself, which replays training from the fixture); the
    # clustered corpus is a deterministic md5-rebuild of the fixture,
    # so its quantizer caches under the content key. Training is the
    # sweep's single largest fixed cost (~10 s at sf0.1), paid once per
    # corpus per host, exactly like a production index build.
    cdf_raw = S.persist_ivf_quantizer_fixed(
        raw, _ivf_quantizer_path(sf_dir), n_lists=_SWEEP_N_LISTS,
        iterations=2)
    cdf_cl = S.persist_ivf_quantizer_fixed(
        clustered, _ivf_quantizer_path(f"{sf_dir}::clustered::{fp}"),
        n_lists=_SWEEP_N_LISTS, iterations=2)
    # PQ codebooks get the same train-once treatment (deterministic
    # corpora + deterministic training → identical files on rebuild);
    # dirs keyed per corpus AND content AND quantizer so the regimes
    # never share a model, a regenerated fixture never stale-hits, and —
    # since residuals are computed AGAINST the centroids — books trained
    # under an older persisted quantizer can never pair with a newer one
    # (the raw quantizer table is path-keyed, not content-keyed, so the
    # corpus fingerprint alone would not see a refreshed table)
    import hashlib
    import os

    def _cent_fp(cdf) -> str:
        rows = sorted((int(r["list_id"]),
                       tuple(int(v) for v in r["centroid"]))
                      for r in cdf.collect())  # <= n_lists rows
        return hashlib.md5(repr(rows).encode()).hexdigest()[:12]

    books_c = _ivf_quantizer_path(
        f"{sf_dir}::pqbooks::clustered::{fp}::{_cent_fp(cdf_cl)}")
    books_r = _ivf_quantizer_path(
        f"{sf_dir}::pqbooks::raw::{fp}::{_cent_fp(cdf_raw)}")
    rows_c = _sweep_rows("clustered", clustered, _SWEEP_CLUSTERED,
                         centroids=cdf_cl,
                         codebooks_dir=os.path.dirname(books_c)
                         + "/pqb_" + os.path.basename(books_c))
    rows_r = _sweep_rows("unclustered", raw, _SWEEP_RAW,
                         centroids=cdf_raw,
                         codebooks_dir=os.path.dirname(books_r)
                         + "/pqb_" + os.path.basename(books_r))
    return (rows_c.unionByName(rows_r)
            .orderBy("regime", "m", "pq_k", "n_probe"))

# ---------------------------------------------------------------------------
# Per-stratum TV drift decomposition: the mix stage's re-weighting input
# ---------------------------------------------------------------------------

_DRIFT_TV_STRATA_SQL = r"""
    WITH toks AS (
        SELECT source, lang,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                    AS BIGINT) % 2 AS half,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents
    ), toks2 AS (SELECT * FROM toks WHERE term <> ''),
    strat AS (
        SELECT 'source' AS kind, source AS stratum, half, term FROM toks2
        UNION ALL
        SELECT 'lang' AS kind, lang AS stratum, half, term FROM toks2
    ), n AS (
        SELECT kind, stratum,
               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n0,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1
        FROM strat GROUP BY 1, 2
    ), cnt AS (
        SELECT kind, stratum, term,
               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c0,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1
        FROM strat GROUP BY 1, 2, 3
    ), scored AS (
        SELECT c.kind, c.stratum, c.term, n.n0, n.n1,
               ABS(CASE WHEN n.n0 = 0 THEN CAST(0 AS BIGINT)
                        ELSE 1000000000 * c.c0 // n.n0 END
                   - CASE WHEN n.n1 = 0 THEN CAST(0 AS BIGINT)
                          ELSE 1000000000 * c.c1 // n.n1 END)
                   AS drift_units
        FROM cnt c JOIN n ON n.kind = c.kind AND n.stratum = c.stratum
    ), agg AS (
        SELECT kind, stratum, MAX(n0) AS n0_tokens, MAX(n1) AS n1_tokens,
               CASE WHEN MAX(n0) = 0 OR MAX(n1) = 0
                    THEN CAST(1000000000 AS BIGINT)
                    ELSE CAST(SUM(drift_units) // 2 AS BIGINT)
               END AS tv_units
        FROM scored GROUP BY 1, 2
    ), top AS (
        SELECT kind, stratum, term AS top_term,
               drift_units AS top_drift_units
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY kind, stratum
                  ORDER BY drift_units DESC, term) AS rn
              FROM scored) WHERE rn = 1
    )
    SELECT a.kind, a.stratum, a.n0_tokens, a.n1_tokens, a.tv_units,
           t.top_term, t.top_drift_units
    FROM agg a JOIN top t ON t.kind = a.kind AND t.stratum = a.stratum
"""


def _strata_term_counts(d: DataFrame) -> DataFrame:
    """(kind, stratum, term, c0, c1) per-stratum snapshot-half term
    counts over a documents frame — the ADDITIVE half of the strata
    drift monitor: counts from disjoint document batches SUM to the
    union's counts (a count is a sum of per-row ones), which is what
    makes the streaming twin exact.

    md5-parity halves, NOT doc_id % 2: the fixture's source column is
    perfectly confounded with id parity (each source holds one
    parity), which would make every per-source row the degenerate
    vanished-stratum case — the portable md5 parity is independent of
    both strata by construction (the clustered_embeddings /
    bloom-gate hash discipline, replayed bit-for-bit by the oracle)."""
    half = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                               1, 7), 16, 10).cast("long") % 2)
    toks = (d.select("source", "lang", half.alias("half"),
                     F.explode(F.split(F.lower(F.trim("text")), r"\s+"))
                     .alias("term"))
            .filter(F.col("term") != ""))
    strat = (toks.select(F.lit("source").alias("kind"),
                         F.col("source").alias("stratum"), "half", "term")
             .unionByName(
                 toks.select(F.lit("lang").alias("kind"),
                             F.col("lang").alias("stratum"),
                             "half", "term")))
    return strat.groupBy("kind", "stratum", "term").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"))


def _strata_drift_from_counts(cnt: DataFrame) -> DataFrame:
    """The monitor tail from a (kind, stratum, term, c0, c1) count
    table: per-stratum token totals (derivable from the counts — every
    token contributes exactly one to exactly one term count), exact
    fixed-point drift units, per-stratum TV with the vanished-stratum
    CASE, and the deterministic top-drifted term."""
    n = cnt.groupBy("kind", "stratum").agg(
        F.sum("c0").alias("n0"), F.sum("c1").alias("n1"))
    # integer div (the q_corpus_drift_tv exactness discipline); zero
    # halves routed around the division by explicit CASE in BOTH engines
    scored = (cnt.join(n, ["kind", "stratum"])
              .select("kind", "stratum", "term", "n0", "n1",
                      F.abs(
                          F.when(F.col("n0") == 0, F.lit(0).cast("long"))
                          .otherwise(F.expr("1000000000L * c0 div n0"))
                          - F.when(F.col("n1") == 0,
                                   F.lit(0).cast("long"))
                          .otherwise(F.expr("1000000000L * c1 div n1")))
                      .alias("drift_units")))
    # 1e9-unit BIGINT exactness guard (the q_corpus_drift_tv discipline,
    # per stratum): past ~9.2e9 tokens in a half the scaled numerator
    # wraps silently on a non-ANSI deployment while the HUGEINT oracle
    # stays exact — the engines must not disagree quietly, so fail loud.
    # raise_error INSIDE the aggregate keeps this one-pass (no eager
    # pre-collect of the count table the way the corpus-level entry,
    # whose n frame is a single row, can afford).
    bound = (1 << 63) // 1_000_000_000
    agg = scored.groupBy("kind", "stratum").agg(
        F.max("n0").alias("n0_tokens"), F.max("n1").alias("n1_tokens"),
        F.when(
            F.greatest(F.max("n0"), F.max("n1")) > F.lit(bound),
            F.expr(
                "raise_error(concat('corpus_drift_tv_strata: per-stratum "
                "token total ', greatest(max(n0), max(n1)), ' exceeds the "
                "1e9-unit BIGINT exactness bound (~9.2e9 tokens/half)'))"
            ).cast("long"))
        .when((F.max("n0") == 0) | (F.max("n1") == 0),
              F.lit(1_000_000_000).cast("long"))
        .otherwise(F.expr("sum(drift_units) div 2")).alias("tv_units"))
    w = Window.partitionBy("kind", "stratum").orderBy(
        F.desc("drift_units"), F.asc("term"))
    top = (scored.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") == 1)
           .select("kind", "stratum", F.col("term").alias("top_term"),
                   F.col("drift_units").alias("top_drift_units")))
    return agg.join(top, ["kind", "stratum"]).select(
        "kind", "stratum", "n0_tokens", "n1_tokens", "tv_units",
        "top_term", "top_drift_units")



@register(
    "q_corpus_drift_tv_strata",
    oracle=_DRIFT_TV_STRATA_SQL,
    doc="PER-STRATUM total-variation drift decomposition — the r11 "
        "corpus-level TV monitor (q_corpus_drift_tv) broken down per "
        "SOURCE and per LANG stratum: for each stratum, TV between two "
        "deterministic snapshot halves' term distributions (md5-parity "
        "of doc_id — independent of both strata by construction, where "
        "the corpus-level entry's id parity is confounded with the "
        "fixture's source column) in 1e9 "
        "fixed-point units (FLOOR rational division — integer-exact, no "
        "logarithm, no libm hazard), plus both halves' token totals and "
        "the single most-drifted term (ties alphabetic). THIS is the "
        "table the curation mix stage consumes (q_domain_mix_weights / "
        "q_temperature_mix family): corpus-level TV says THAT the "
        "distribution moved; the per-source rows say WHICH source's "
        "composition moved and by how much, so mix weights can be "
        "re-derived for exactly the drifting strata. Degenerate "
        "totality: a stratum whose tokens all land in one half gets "
        "tv_units = 1e9 (a vanished/newborn source IS total drift) "
        "rather than a division error — both engines agree by explicit "
        "CASE. 100 TB shape: same two map-side-combinable conditional "
        "counts as the corpus-level monitor, now keyed by (kind, "
        "stratum[, term]); the stratum count is bounded (sources + "
        "langs), so the agg/top frames stay tiny.",
    tags=("llm", "text", "quality"),
)
def q_corpus_drift_tv_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_par(spark, sf_dir, "documents")
    return _strata_drift_from_counts(_strata_term_counts(d))

# ---------------------------------------------------------------------------
# Streaming drift monitor: additive per-batch term-count state
# ---------------------------------------------------------------------------


@register(
    "q_stream_drift_tv_strata",
    oracle=_DRIFT_TV_STRATA_SQL,  # SHARED verbatim with the batch entry:
    # the streaming path must land on the identical result
    doc="STREAMING per-stratum drift monitoring — the r12 TV "
        "decomposition as an ingest stream (the q_stream_pca_update "
        "discipline applied to token counts): each arriving document "
        "micro-batch contributes its ADDITIVE (kind, stratum, term, "
        "c0, c1) count table — one map-side-combinable conditional "
        "aggregate per batch, written to a batch_id-keyed state subdir "
        "(idempotent overwrite under at-least-once replays) — and "
        "counts from disjoint batches SUM to the union's counts (a "
        "count is a sum of per-row ones: an identity, not an "
        "approximation). After the last batch one narrow merge "
        "(groupBy(kind, stratum, term).sum) re-derives the exact count "
        "table and the shared monitor tail produces the SAME per-"
        "stratum TV rows as q_corpus_drift_tv_strata — this entry "
        "shares its oracle verbatim, and row-for-row equality with the "
        "batch entry is pytest-pinned (tests/test_r12_ops.py). At "
        "100 TB this is how the drift monitor actually runs: per-batch "
        "cost is O(batch tokens), per-batch state is batch-vocab-sized "
        "(not corpus-sized), and the mix stage can re-derive the drift "
        "table at ANY stream point from the accumulated state without "
        "re-reading history.",
    tags=("llm", "text", "quality", "streaming"),
)
def q_stream_drift_tv_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..streaming.jobs import drain

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source")
    # mod-3 drops: balanced at any id distribution (the r11 amplifier
    # lesson); the split cannot affect the result — the shared oracle
    # and the batch-equality pytest prove exactly that
    thirds = [d.filter(F.col("doc_id") % 3 == i) for i in range(3)]

    base = tempfile.mkdtemp(prefix="canary_drift_stream_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    drops = os.path.join(base, "drops")
    state_dir = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")

    def accumulate(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):  # an empty micro-batch contributes nothing
            return
        (_strata_term_counts(batch)
         .write.mode("overwrite")
         .parquet(os.path.join(state_dir, f"batch_{int(batch_id):05d}")))

    schema = ("doc_id BIGINT, text STRING, lang STRING, source STRING")
    for b in thirds:
        b.repartition(4).write.mode("append").parquet(drops)
        q = (spark.readStream.schema(schema).parquet(drops)
             .writeStream.foreachBatch(accumulate)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        drain(q, timeout=600)

    cnt = (spark.read.option("recursiveFileLookup", "true")
           .parquet(state_dir)
           .groupBy("kind", "stratum", "term")
           .agg(F.sum("c0").alias("c0"), F.sum("c1").alias("c1")))
    return _strata_drift_from_counts(cnt)
