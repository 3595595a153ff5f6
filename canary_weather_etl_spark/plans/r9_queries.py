"""Round-9 registry queries.

New surface this round (r8 verdict item #5 plus widened LLM-pipeline
coverage): the end-to-end SEMANTIC dedup operator (k-means clusters →
keep each cluster's medoid), composed from the two primitives that
already exist (operators/clustering.kmeans_fixed + the medoid pick) and
oracled by reusing q_kmeans_lloyd's unrolled-iteration SQL prefix with a
survivor-join tail. Every query is SQL-oracled unless noted.

Reference provenance: the reference repo (ilias-lp/canary-weather-etl
README.md) ships no clustering or dedup; this extends the engine's
LLM-data-pipeline family (SURVEY.md §2.11) with public methods only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import clustering as C
from ..operators import similarity as S
from ..session import materialize
from .r7_queries import _kmeans_oracle
from .registry import load, load_par, register

# ---------------------------------------------------------------------------
# Semantic dedup: k-means clusters → keep each cluster's medoid
# ---------------------------------------------------------------------------

_SEMDEDUP_FINAL = """
    , counts AS (
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_collapsed,
               CAST(SUM(dist) AS BIGINT) AS inertia_units
        FROM afin GROUP BY cid)
    SELECT m.cid AS cluster_id, d.doc_id, d.source,
           c.n_collapsed, c.inertia_units
    FROM med m
    JOIN counts c ON c.cid = m.cid
    JOIN documents d ON d.doc_id = m.medoid_vec_id
"""


@register(
    "q_semantic_dedup",
    oracle=_kmeans_oracle(k=8, iterations=2, final_select=_SEMDEDUP_FINAL),
    doc="End-to-end SEMANTIC dedup (r8 verdict #5): Lloyd k-means (k=8, "
        "2 iterations, integer fixed-point) over the embeddings table, "
        "keep each cluster's medoid as the sole survivor, and emit the "
        "surviving DOCUMENTS (cluster_id, doc_id, source) with how many "
        "members each survivor stands for — paraphrase groups collapse "
        "even when no n-gram overlap exists for MinHash/SimHash. Oracle "
        "is q_kmeans_lloyd's unrolled-iteration SQL prefix with a "
        "survivor-join tail — bit-exact, not approximate. Scale shape "
        "(operators/clustering.semantic_dedup): zero-shuffle broadcast-"
        "centroid assignment, k·dims update shuffle per round, one "
        "map-side-combined medoid aggregate, one broadcast join of k "
        "survivor ids back to documents — the corpus is never shuffled.",
    tags=("llm", "dedup", "clustering", "iterative"), bench=True,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_par(spark, sf_dir, "embeddings")
    # plain load: documents is only the PROBE side of the k-row broadcast
    # join — load_par's round-robin repartition would be a pure-overhead
    # Exchange in the plan (verified via explain)
    docs = load(spark, sf_dir, "documents")
    # one quantize projection feeds init + 2 iterations + final assignment
    # (4 consumers) — materialized, released on GC
    qdf = materialize(C.quantize_vectors(emb))
    keep = C.semantic_dedup(qdf, k=8, iterations=2)
    # k survivor rows — broadcast side of the documents join
    return (F.broadcast(keep)
            .join(docs, keep.vec_id == docs.doc_id)
            .select("cluster_id", "doc_id", "source",
                    "n_collapsed", "inertia_units"))


# ---------------------------------------------------------------------------
# Observation API: QC metrics harvested on the pipeline's OWN pass
# ---------------------------------------------------------------------------

def _observe_oracle() -> str:
    from .llm import _SQL_TOKENS, _sql_lang_id
    tok = _SQL_TOKENS.format(c="text")
    q_ok = (f"(len({tok}) >= 20 "
            f"AND CAST(length(regexp_replace(text, '\\s+', '', 'g')) "
            f"AS DOUBLE) / len({tok}) <= 12.0 "
            f"AND CAST(len(regexp_extract_all(text, '[^\\w\\s]')) "
            f"AS DOUBLE) / length(text) <= 0.3)")
    return f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS rows_in,
           CAST(COUNT(CASE WHEN NOT q_ok THEN 1 END) AS BIGINT)
               AS quality_fail,
           CAST(COUNT(CASE WHEN q_ok AND NOT l_ok THEN 1 END) AS BIGINT)
               AS lang_fail,
           CAST(COUNT(CASE WHEN q_ok AND l_ok THEN 1 END) AS BIGINT)
               AS rows_out
    FROM (SELECT {q_ok} AS q_ok,
                 {_sql_lang_id()} IN ('en', 'und') AS l_ok
          FROM documents)
    """


@register(
    "q_observe_quality_gate",
    oracle=_observe_oracle(),
    doc="df.observe() surface: the curation quality/language gate "
        "(operators/pipeline.observed_quality_gate) with its funnel "
        "bookkeeping — rows-in, quality failures, language failures, "
        "rows-out — accumulated ON the filter's own pass and returned as "
        "the result row. The action is a noop-format write: one full "
        "scan, zero result movement. At 100 TB this is the difference "
        "between free per-stage audit metrics and a count() per stage "
        "that re-executes the lineage. Oracle is the same conditional "
        "aggregate over the shared SQL twins of quality_ok/lang_id.",
    tags=("llm", "curation", "observe"),
)
def q_observe_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pipeline import observed_quality_gate
    docs = load_par(spark, sf_dir, "documents")
    gated, obs = observed_quality_gate(docs)
    gated.write.format("noop").mode("overwrite").save()
    m = obs.get  # four bounded driver scalars
    return spark.createDataFrame(
        [(int(m["rows_in"]), int(m["quality_fail"]),
          int(m["lang_fail"]), int(m["rows_out"]))],
        "rows_in BIGINT, quality_fail BIGINT, lang_fail BIGINT, "
        "rows_out BIGINT")


# ---------------------------------------------------------------------------
# Eval-set decontamination by embedding cosine (semantic contamination)
# ---------------------------------------------------------------------------

@register(
    "q_eval_decontamination",
    oracle="""
    WITH ev AS (SELECT vec_id AS qid, embedding AS qv
                FROM embeddings WHERE vec_id < 5),
    cand AS (SELECT vec_id, embedding AS v
             FROM embeddings WHERE vec_id >= 5),
    expl AS (SELECT qid, vec_id, qv, v,
                    unnest(generate_series(1, len(v))) AS i
             FROM ev, cand),
    dots AS (SELECT qid, vec_id,
                    SUM(CAST(qv[i] AS DOUBLE) * CAST(v[i] AS DOUBLE)) AS dp,
                    SUM(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)) AS qq,
                    SUM(CAST(v[i] AS DOUBLE) * CAST(v[i] AS DOUBLE)) AS vv
             FROM expl GROUP BY qid, vec_id),
    best AS (SELECT vec_id, qid, dp / (SQRT(qq) * SQRT(vv)) AS c,
                    ROW_NUMBER() OVER (
                        PARTITION BY vec_id
                        ORDER BY dp / (SQRT(qq) * SQRT(vv)) DESC, qid) AS rn
             FROM dots)
    SELECT d.doc_id, d.source, b.qid AS eval_id,
           FLOOR(b.c * 1e6 + 0.5) / 1e6 AS cos_sim
    FROM best b JOIN documents d ON d.doc_id = b.vec_id
    WHERE b.rn = 1 AND b.c >= 0.30
    """,
    doc="Semantic eval-set DECONTAMINATION: flag training documents whose "
        "embedding is too close (cosine >= 0.30) to ANY held-out eval "
        "vector (the fixture query set, vec_id < 5) — the embedding-space "
        "complement of q_contamination_ngrams, catching paraphrased "
        "leakage that n-gram matching misses. Emits one row per "
        "contaminated doc with its nearest eval id (ties to the smaller "
        "id); the clean set is the anti-join. Exact brute-force: 5 eval "
        "vectors broadcast, candidates stream through the scan once, "
        "dot/norm folds JVM-side in deterministic element order (the "
        "q_cosine_pairs_exact arithmetic, so the double threshold "
        "compare is bit-identical in both engines). At 100 TB the eval "
        "side stays driver-small and the corpus is never shuffled — the "
        "max-cos aggregate is map-side combinable on doc_id.",
    tags=("llm", "similarity", "curation"),
)
def q_eval_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import round_det
    emb = load_par(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    ev = (emb.filter(F.col("vec_id") < 5)
          .select(F.col("vec_id").alias("qid"),
                  S.as_double("embedding").alias("qv"))
          .withColumn("qn", S.l2_norm(F.col("qv"))))
    cand = (emb.filter(F.col("vec_id") >= 5)
            .select("vec_id", S.as_double("embedding").alias("v"))
            .withColumn("vn", S.l2_norm(F.col("v"))))
    scored = (cand.join(F.broadcast(ev), F.lit(True))
              .select("vec_id", "qid",
                      (S.dot(F.col("qv"), F.col("v"))
                       / (F.col("qn") * F.col("vn"))).alias("c")))
    # max cos per candidate, ties to the SMALLER eval id (max of -qid)
    best = (scored.groupBy("vec_id")
            .agg(F.max(F.struct(F.col("c").alias("c"),
                                (-F.col("qid")).alias("nq"))).alias("b"))
            .select("vec_id", F.col("b.c").alias("c"),
                    (-F.col("b.nq")).alias("eval_id")))
    return (best.filter(F.col("c") >= 0.30)
            .join(docs, best.vec_id == docs.doc_id)
            .select("doc_id", "source", "eval_id",
                    round_det("c", 6).alias("cos_sim")))


# ---------------------------------------------------------------------------
# SemDeDup-style thresholded semantic dedup (clusters bound the quadratic)
# ---------------------------------------------------------------------------

def _assert_auto_k_is_8(emb: DataFrame, qname: str) -> None:
    """The semdedup registry entry plants an UNROLLED k=8 oracle, valid
    only while the operator's k = max(K_MIN, n // TARGET_CLUSTER)
    resolves to 8 (n <= 575 — at n=576, 576 // 64 = 9). The fixture is
    500 rows at sf0.01; if the harness ever runs it at a larger SF the
    oracle would silently diverge — fail LOUDLY as a setup error
    instead."""
    n = emb.count()  # bounded driver scalar, mirrors the operator's count
    if max(C.K_MIN, n // C.TARGET_CLUSTER) != 8:
        raise RuntimeError(
            f"{qname}: fixture has n={n} embeddings, so the engine-chosen "
            "k = max(8, n // 64) > 8 and the planted k=8 oracle no longer "
            "describes the query — re-derive the oracle k from the "
            "fixture size before running at this scale factor")


_SEMDEDUP_THR_FINAL = """
    , ve AS (SELECT a.vec_id, a.cid, e.embedding AS v
             FROM afin a JOIN embeddings e ON e.vec_id = a.vec_id),
    prs AS (SELECT l.vec_id AS a, r.vec_id AS b,
                   l.v AS va, r.v AS vb
            FROM ve l JOIN ve r ON l.cid = r.cid AND l.vec_id < r.vec_id),
    ex AS (SELECT a, b, va, vb, unnest(generate_series(1, len(va))) AS i
           FROM prs),
    dots AS (SELECT a, b,
                    SUM(CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)) AS dp,
                    SUM(CAST(va[i] AS DOUBLE) * CAST(va[i] AS DOUBLE)) AS aa,
                    SUM(CAST(vb[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)) AS bb
             FROM ex GROUP BY a, b),
    drops AS (SELECT DISTINCT b FROM dots
              WHERE dp / (SQRT(aa) * SQRT(bb)) >= 0.40)
    SELECT f.cid AS cluster_id, d.doc_id, d.source
    FROM afin f
    JOIN documents d ON d.doc_id = f.vec_id
    WHERE f.vec_id NOT IN (SELECT b FROM drops)
"""


@register(
    "q_semdedup_threshold",
    oracle=_kmeans_oracle(k=8, iterations=2,
                          final_select=_SEMDEDUP_THR_FINAL),
    doc="SemDeDup-style THRESHOLDED semantic dedup (Abbas et al. 2023, "
        "public method; operators/clustering.semantic_dedup_threshold): "
        "k-means clusters bound the quadratic, then within each cluster "
        "every pair with cosine >= 0.40 drops its higher id — the same "
        "drop-b-side survivor rule as the LSH near-dup stage, so both "
        "dedup families compose consistently. Gentler than "
        "q_semantic_dedup's one-medoid-per-cluster. Oracle reuses the "
        "unrolled k-means prefix + a within-cluster pair join + NOT "
        "EXISTS tail — bit-exact (the cosine folds run in deterministic "
        "element order in both engines). Scale: the corpus-wide O(n^2) "
        "cosine join becomes ONE equi-join on cluster_id with "
        "Sigma C(|cluster|,2) candidates, and the operator chooses "
        "k = max(8, n // 64) so mean cluster size stays ~64 and the pair "
        "volume stays ~n*32 (a fixed k=8 aborted after 45 min at 100x, "
        "SCALE.md r9); above k=50 the assignment switches from "
        "literal-centroid codegen to a broadcast join. At sf0.01 "
        "(n=500) k resolves to 8, which is what the planted oracle "
        "unrolls; an in-query guard fails as a SETUP error if the "
        "fixture outgrows it (n > 575).",
    tags=("llm", "dedup", "clustering", "similarity"),
)
def q_semdedup_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_par(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    _assert_auto_k_is_8(emb, "q_semdedup_threshold")
    qdf = materialize(C.quantize_vectors(emb))
    surv = C.semantic_dedup_threshold(qdf, emb, iterations=2,
                                      threshold=0.40)
    return (surv.join(docs, surv.vec_id == docs.doc_id)
            .select("cluster_id", "doc_id", "source"))
