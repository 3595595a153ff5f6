"""Similarity search over embedding columns (SURVEY.md §2.11).

Two paths, per the PAPERS.md distributed-top-k literature:
- **brute force** (baseline, exact): broadcast the query set, score every
  candidate with built-in array ops (zip_with + aggregate — JVM-side, no
  Python), rank per query with a window. Exact, one shuffle (the window's
  partitionBy query). Right answer at any scale where k·|queries| is small
  and a full scan is affordable.
- **LSH-bucketed** (scale path, approximate): random-hyperplane signatures
  (SimHash for vectors) bucket both sides; only same-bucket pairs are
  scored. Probing multiple signature permutations recovers recall. This is
  the 100 TB shape: the candidate join replaces the full cross product.

All float math is done in double; cosine of the same input arrays is a
fixed left-to-right fold (F.aggregate), deterministic per engine.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must resolve

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.litexpr import (
    argmin_struct_sql,
    case_long_array_sql,
    double_array_sql,
    long_array_sql,
)
from ..session import materialize


def as_double(col: F.Column | str) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: F.Column, b: F.Column) -> F.Column:
    """Σ aᵢbᵢ as a strict left-to-right double fold."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: F.Column) -> F.Column:
    return F.sqrt(dot(a, a))


def cosine(a: F.Column, b: F.Column) -> F.Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def topk_brute_force(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     round_to: int | None = 6,
                     match_col: str | None = None) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    `queries` is small (it broadcasts); candidates stream through the scan
    once. Ranking uses the *rounded* score with the candidate id as
    tie-break so the cut is deterministic (duplicate embeddings would
    otherwise make rank order engine-dependent).
    Output: (query_id, rank, vec_id, cos_sim).

    ``match_col`` (r8): attribute-FILTERED search — only candidates whose
    ``match_col`` equals the query's value; the equality rides the
    broadcast hash join's condition, so non-matching vectors are
    discarded before any distance arithmetic (PRE-filter, the correct
    semantics — post-filtering a top-k under-returns when the predicate
    is selective). Both frames must carry the column.
    """
    # precompute each side's norm ONCE (n + q folds) instead of inside
    # cosine per pair (3·n·q folds) — at a billion candidates this is the
    # difference between one scan's work and three
    cand = embeddings.select(F.col(id_col).alias("vec_id"),
                             as_double(vec_col).alias("v"),
                             *([F.col(match_col).alias("__m_c")]
                               if match_col else [])) \
                     .withColumn("v_norm", l2_norm(F.col("v")))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       as_double(vec_col).alias("qv"),
                       *([F.col(match_col).alias("__m_q")]
                         if match_col else [])) \
               .withColumn("q_norm", l2_norm(F.col("qv")))
    cond = F.col("vec_id") != F.col("query_id")
    if match_col:
        cond = cond & (F.col("__m_c") == F.col("__m_q"))
    scored = (
        cand.join(F.broadcast(q), cond)
        .select("query_id", "vec_id",
                (dot(F.col("qv"), F.col("v"))
                 / (F.col("q_norm") * F.col("v_norm"))).alias("cos"))
    )
    if round_to is not None:
        from ..functions import round_det
        scored = scored.withColumn("cos", round_det("cos", round_to))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.col("cos").alias("cos_sim"))
    )


def _plane_sql(j: int, dim: int, seed: int) -> str:
    """SQL text of hyperplane r_j: ±1 per coordinate from the parity of
    xxhash64(i, j, seed)."""
    return (f"transform(sequence(0, {dim - 1}), "
            f"i -> CASE WHEN xxhash64(i, {j}, {seed}) % 2 = 0 "
            f"THEN 1.0D ELSE -1.0D END)")


def hyperplane_signature(vec: F.Column | str, dim: int, bits: int = 16,
                         seed: int = 42) -> F.Column:
    """Random-hyperplane LSH signature: bit j = sign(⟨v, r_j⟩) where r_j is a
    deterministic pseudo-random ±1 hyperplane derived from xxhash64(j, i,
    seed). Cosine-similar vectors agree on most bits. Built-in-only: the
    hyperplanes are generated *inside the expression*, no driver-side
    randomness, no UDF, fully distributed.

    ``vec`` is either the vector column's SQL TEXT (spliced verbatim —
    the fast construction path: the whole bits-term tree parses from ONE
    string, functions.litexpr discipline, r14; the per-bit Python-lambda
    build paid ~15 py4j round-trips per bit per probe) or a Column
    (ADVICE r14: external-caller convenience — same analyzed expression,
    composed per bit, so names needing backtick quoting work via
    F.col; construction cost is the old per-bit lambda price)."""
    if bits < 1:
        raise ValueError(f"bits must be >= 1, got {bits}")
    if isinstance(vec, str):
        def bit_sql(j: int) -> str:
            proj = (f"aggregate(zip_with({vec}, {_plane_sql(j, dim, seed)}, "
                    f"(x, r) -> x * r), 0.0D, (acc, v) -> acc + v)")
            return f"CASE WHEN {proj} >= 0 THEN {1 << j} ELSE 0 END"

        return F.expr(" + ".join(bit_sql(j) for j in range(bits)))

    total: F.Column | None = None
    for j in range(bits):
        proj = F.aggregate(
            F.zip_with(vec, F.expr(_plane_sql(j, dim, seed)),
                       lambda x, r: x * r),
            F.lit(0.0), lambda acc, v: acc + v)
        term = F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        total = term if total is None else total + term
    return total


def topk_lsh(embeddings: DataFrame, queries: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", dim: int = 64,
             bits: int = 4, probes: int = 8,
             round_to: int | None = 6,
             planes: list[list[list[float]]] | None = None) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing an LSH bucket with
    the query under any of `probes` independent signature functions; exact
    cosine + rank only on candidates. The join is equi (bucket = signature
    value per probe), so at scale it's a plain shuffled hash join instead of
    a cross product.

    Tuning: P(query and true neighbor share a bucket under one probe) =
    p^bits with p = 1 − θ/π; overall recall ≈ 1 − (1 − p^bits)^probes.
    More bits → smaller buckets (cheaper rescoring) but lower recall; more
    probes recover it. Defaults (4, 8) target unclustered corpora where top
    neighbors sit near cos≈0.4 (p≈0.63 → ~70% recall) — the worst case;
    real embedding corpora cluster much tighter, so production settings
    raise `bits` to shrink candidate sets.

    ``planes`` (a [probe][bit][dim] ±1 tensor from `planted_hyperplanes`)
    swaps the xxhash64-derived hyperplanes for literals — bucket
    assignment becomes engine-portable so the whole ANN query is
    SQL-oracle-able; recall behavior is identical in distribution (both
    plane families are iid random signs)."""
    cand = embeddings.select(F.col(id_col).alias("vec_id"),
                             as_double(vec_col).alias("v"))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       as_double(vec_col).alias("qv"))
    if planes is not None:
        probes = len(planes)

    def sig(vcol: str, p: int) -> F.Column:
        if planes is not None:
            return hyperplane_signature_planted(vcol, planes[p])
        return hyperplane_signature(vcol, dim, bits, seed=1000 + p)

    def with_buckets(df: DataFrame, vcol: str, out: str) -> DataFrame:
        return df.select(
            "*",
            F.posexplode(F.array(*[sig(vcol, p) for p in range(probes)]))
            .alias(f"{out}_probe", out),
        )

    cb = with_buckets(cand, "v", "bucket")
    qb = with_buckets(q, "qv", "bucket")
    scored = (
        cb.join(qb, on=["bucket_probe", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "v", "qv").distinct()
        .select("query_id", "vec_id",
                cosine(F.col("qv"), F.col("v")).alias("cos"))
    )
    if round_to is not None:
        from ..functions import round_det
        scored = scored.withColumn("cos", round_det("cos", round_to))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.col("cos").alias("cos_sim"))
    )


def planted_hyperplanes(probes: int, bits: int, dim: int,
                        tag: str = "hyperplane") -> list[list[list[float]]]:
    """Deterministic ±1 hyperplane tensor [probe][bit][dim], derived from
    sha256 parity of the coordinates — NOT Spark's xxhash64, so an oracle
    engine can replay the exact same planes as literals. Pure Python,
    computed once at plan-build time (probes·bits·dim small constants)."""
    import hashlib

    def sign(p: int, j: int, i: int) -> float:
        h = hashlib.sha256(f"{tag}:{p}:{j}:{i}".encode()).digest()
        return 1.0 if h[0] % 2 == 0 else -1.0

    return [[[sign(p, j, i) for i in range(dim)]
             for j in range(bits)] for p in range(probes)]


def hyperplane_signature_planted(vec: F.Column | str,
                                 plane_rows: list[list[float]]) -> F.Column:
    """Like `hyperplane_signature`, but the hyperplanes are explicit ±1
    literal arrays (from `planted_hyperplanes`) instead of xxhash64-derived —
    the signature becomes engine-portable: any SQL engine given the same
    literals computes the same buckets, so LSH candidate generation itself
    can be differentially tested (r9 verdict #4). ``vec`` is the vector
    column's SQL text (fast path: the whole bits·dim literal tree parses
    from ONE string — functions.litexpr, r14; the element-wise build paid
    two py4j round-trips per plane coordinate, probes·bits·dim of them
    per query construction) or a Column (ADVICE r14, same expression
    composed per plane — the literal arrays still parse from one string
    each, so the dominant construction cost stays fixed)."""
    if isinstance(vec, str):
        terms = ["0"]
        for j, row in enumerate(plane_rows):
            proj = (f"aggregate(zip_with({vec}, {double_array_sql(row)}, "
                    f"(x, r) -> x * r), 0.0D, (acc, v) -> acc + v)")
            terms.append(f"CASE WHEN {proj} >= 0 THEN {1 << j} ELSE 0 END")
        return F.expr(" + ".join(terms))

    total: F.Column = F.lit(0)
    for j, row in enumerate(plane_rows):
        proj = F.aggregate(
            F.zip_with(vec, F.expr(double_array_sql(row)),
                       lambda x, r: x * r),
            F.lit(0.0), lambda acc, v: acc + v)
        total = total + F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return total


def cosine_near_dup_pairs_planted(embeddings: DataFrame,
                                  threshold: float = 0.95,
                                  id_col: str = "vec_id",
                                  vec_col: str = "embedding",
                                  planes: list[list[list[float]]] | None = None,
                                  dim: int = 64, bits: int = 10,
                                  probes: int = 4,
                                  round_to: int = 6) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos ≥ threshold) —
    semantic dedup for an LLM corpus — via PLANTED literal hyperplanes and
    a deterministically rounded score: bucket assignment, candidate set,
    and verified cosines are all replayable in plain SQL from the same
    literals. 100 TB shape: banded equi self-join on (probe, bucket),
    exact rescoring on candidates only."""
    if planes is None:
        planes = planted_hyperplanes(probes, bits, dim)
    from ..functions import round_det

    base = embeddings.select(F.col(id_col).alias("id"),
                             as_double(vec_col).alias("v"))
    bucketed = base.select(
        "*",
        F.posexplode(F.array(*[
            hyperplane_signature_planted("v", plane_rows)
            for plane_rows in planes
        ])).alias("probe", "bucket"),
    )
    l, r = bucketed.alias("l"), bucketed.alias("r")
    return (
        l.join(r, (F.col("l.probe") == F.col("r.probe"))
               & (F.col("l.bucket") == F.col("r.bucket"))
               & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"),
                F.col("l.v").alias("va"), F.col("r.v").alias("vb"))
        .distinct()
        .select("a", "b", cosine(F.col("va"), F.col("vb")).alias("raw"))
        .filter(F.col("raw") >= threshold)
        .select("a", "b", round_det("raw", round_to).alias("cos_sim"))
    )


def topk_ivf_fixed(embeddings: DataFrame, queries: DataFrame,
                   centroids: dict[int, list[int]], k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_id_col: str = "query_id", n_probe: int = 4,
                   round_to: int = 6) -> DataFrame:
    """IVF-style approximate top-k: the corpus is partitioned into
    inverted lists by the fixed-point coarse quantizer ``centroids``
    (clustering.kmeans_fixed, or its persisted model file) and each
    query is scored only against its `n_probe` nearest lists — the
    data-adaptive complement to `topk_lsh`. Corpus assignment is
    ``assign_clusters`` (one narrow projection that also carries each
    vector for the rescoring, so the corpus is read once); the queries
    are few (they broadcast), so one bounded collect brings their
    quantized vectors to the driver for ``_probe_lists``. Both pick by
    (integer distance, list_id). Candidates are rescored by exact cosine
    with the deterministic rounding. Every stage replays in SQL: the
    oracle reuses q_kmeans_lloyd's unrolled-iteration prefix and probes
    the SAME final centroids."""
    from pyspark.sql import Window

    from .clustering import (UNIT_SCALE, assign_clusters, quantize_vectors,
                             quantized)

    qbase = queries.select(F.col(query_id_col).alias("query_id"),
                           as_double(vec_col).alias("qv"))
    corpus = embeddings.select(F.col(id_col).alias("vec_id"),
                               quantized(F.col(vec_col), UNIT_SCALE)
                               .alias("qvec"),
                               as_double(vec_col).alias("v"))
    assigned = (assign_clusters(corpus, centroids)
                .select("vec_id", "v", F.col("cluster_id").alias("list_id")))
    probes = embeddings.sparkSession.createDataFrame(
        [(int(r["vec_id"]), lid)
         for r in quantize_vectors(queries, query_id_col, vec_col).collect()
         for lid in _probe_lists(r["qvec"], centroids, n_probe)],
        "query_id bigint, list_id bigint")
    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(qbase, "query_id")
        .select("query_id", "vec_id",
                cosine(F.col("qv"), F.col("v")).alias("cos"))
    )
    if round_to is not None:
        from ..functions import round_det
        scored = scored.withColumn("cos", round_det("cos", round_to))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.col("cos").alias("cos_sim"))
    )


# ------------------------- int8 quantization --------------------------------

def quantize_scale(vec: F.Column) -> F.Column:
    """Per-vector symmetric int8 scale: 127 / max|xᵢ| (1.0 for the
    all-zero vector). Row-wise IEEE arithmetic — bitwise deterministic."""
    amax = F.array_max(F.transform(vec, F.abs))
    return F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(1.0))


def quantize_int8(vec: F.Column, scale: F.Column) -> F.Column:
    """x → round-half-up(x·scale) as int, clamped by construction to
    [-127, 127] (symmetric quantization never saturates past 127 because
    scale is derived from max|x|). The rounding is written as
    floor(x·scale + 0.5) — a fixed IEEE expression with no engine
    tie-rule — so the SQL twin is literal-for-literal identical.

    Why this matters at 100 TB: an int8 vector is 4× smaller than
    float32 (16× smaller than the double it is scored in), which is the
    difference between an ANN corpus fitting executor memory or
    spilling. Scoring error is bounded by |x − q/scale| ≤ 1/(2·scale)
    per element; q_embedding_quantize pins the realized error as query
    output."""
    return F.transform(vec, lambda x: F.floor(x * scale + F.lit(0.5))
                       .cast("int"))


def dequantize(qvec: F.Column, scale: F.Column) -> F.Column:
    return F.transform(qvec, lambda q: q.cast("double") / scale)


# --------------------- random projection (JL transform) ----------------------

def jl_matrix(in_dim: int, out_dim: int, salt: str = "jl42"):
    """Deterministic Johnson–Lindenstrauss projection matrix as a plain
    Python list-of-lists: entry (i, j) = md5(f"{i}:{j}:{salt}") mapped to
    uniform(−0.5, 0.5). md5 is engine-portable, so a SQL twin can rebuild
    the IDENTICAL matrix from generate_series — no literal matrix shipped,
    no RNG state, reproducible across runs/engines (same growth-stable
    property as the md5 train/val split). Uniform ±0.5 entries are
    sub-gaussian, which is all JL needs."""
    import hashlib

    return [[int(hashlib.md5(f"{i}:{j}:{salt}".encode()).hexdigest()[:8],
                 16) / 2 ** 32 - 0.5
             for j in range(out_dim)]
            for i in range(in_dim)]


def random_projection(df: DataFrame, vec_col: str, in_dim: int,
                      out_dim: int, salt: str = "jl42",
                      out_col: str = "proj") -> DataFrame:
    """Project `vec_col` (array<numeric>, length in_dim) to out_dim
    dimensions with the deterministic JL matrix — the dimensionality
    reduction in front of ANN / clustering when 100 TB of float32×768
    won't fit the candidate stage.

    Arrow-vectorized pandas_udf doing one numpy matmul per batch: this is
    the documented exception to 'built-ins first' — a dense mat-mat
    product is exactly where BLAS beats 64 codegen'd aggregate folds per
    row. The matrix broadcasts implicitly via the UDF closure (a few KB);
    zero shuffle, row-wise, scales with scan width."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    m = np.asarray(jl_matrix(in_dim, out_dim, salt))

    @pandas_udf(ArrayType(DoubleType()))
    def _proj(v: pd.Series) -> pd.Series:
        x = np.vstack(v.to_numpy())          # batch × in_dim
        p = x.astype(np.float64) @ m         # batch × out_dim
        return pd.Series(list(p))

    return df.withColumn(out_col, _proj(as_double(vec_col)))


def topk_projected(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                   in_dim: int = 64, out_dim: int = 16, pool: int = 30,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_id_col: str = "query_id") -> DataFrame:
    """Project-then-rerank ANN: score in JL-projected out_dim space to pick
    a `pool`-sized candidate set per query, then re-rank ONLY those
    candidates with exact full-width cosine and keep top-k.

    The point at 100 TB: the candidate pass touches out_dim/in_dim of the
    bytes (4x less here, ~50x for 768->16 production widths), and the
    exact pass costs pool·q dot products instead of n·q. Composes with the
    int8-quantized corpus (quantize_int8) for a further 4x — that
    composition is `topk_projected_int8` below, with its own measured
    recall row. Recall is pinned as data by q_sim_ann_recall's 'jl' and
    'jl_int8' rows (unclustered worst case) and by
    q_sim_ann_recall_clustered (the clustered regime the operator is
    recommended for).

    Output: (query_id, rank, vec_id, cos_sim) — same shape as the exact
    and LSH/IVF variants, exact scores on the survivors."""
    proj_c = random_projection(
        embeddings.select(id_col, vec_col), vec_col, in_dim, out_dim,
        out_col="__p")
    proj_q = random_projection(
        queries.select(query_id_col, vec_col), vec_col, in_dim, out_dim,
        out_col="__p")
    cand_ids = topk_brute_force(
        proj_c.select(id_col, F.col("__p").alias(vec_col)),
        proj_q.select(query_id_col, F.col("__p").alias(vec_col)),
        k=pool, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col).select("query_id", "vec_id")
    # exact re-rank on the pooled candidates only
    cand = (cand_ids.join(
        embeddings.select(F.col(id_col).alias("vec_id"),
                          as_double(vec_col).alias("v")), "vec_id")
        .withColumn("v_norm", l2_norm(F.col("v"))))
    q = (queries.select(F.col(query_id_col).alias("query_id"),
                        as_double(vec_col).alias("qv"))
         .withColumn("q_norm", l2_norm(F.col("qv"))))
    scored = (cand.join(F.broadcast(q), "query_id")
              .select("query_id", "vec_id",
                      (dot(F.col("qv"), F.col("v"))
                       / (F.col("q_norm") * F.col("v_norm"))).alias("cos")))
    from ..functions import round_det
    scored = scored.withColumn("cos", round_det("cos", 6))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id",
                    F.col("cos").alias("cos_sim")))


def topk_projected_int8(embeddings: DataFrame, queries: DataFrame,
                        k: int = 10, in_dim: int = 64, out_dim: int = 16,
                        pool: int = 30, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        query_id_col: str = "query_id") -> DataFrame:
    """The composed scale path the docstring above advertises, measured
    end-to-end: the CORPUS resides int8-quantized (4x smaller than
    float32, 16x than the scoring doubles — the residency win that keeps
    a 100 TB corpus on-executor), and BOTH stages of project-then-rerank
    run on the dequantized int8 vectors: JL candidate pass in out_dim
    space, exact full-width cosine re-rank on the pool survivors. Queries
    stay full-precision (there are few of them). Against the float
    brute-force ground truth this stacks both error sources —
    quantization noise and projection distortion — which is exactly why
    its recall is pinned separately (q_sim_ann_recall row 'jl_int8',
    q_sim_ann_recall_clustered row 'jl_int8').

    Output: (query_id, rank, vec_id, cos_sim) — same shape as every other
    top-k variant; cos_sim is computed on dequantized vectors."""
    v = as_double(vec_col)
    enc = (embeddings
           .withColumn("__scale", quantize_scale(v))
           .select(id_col, "__scale",
                   quantize_int8(v, F.col("__scale")).alias("__q8")))
    deq = enc.select(
        id_col,
        dequantize(F.col("__q8"), F.col("__scale")).alias(vec_col))
    return topk_projected(deq, queries, k=k, in_dim=in_dim,
                          out_dim=out_dim, pool=pool, id_col=id_col,
                          vec_col=vec_col, query_id_col=query_id_col)


def arrow_quantized_norms(df: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          scale: int = 1_000_000) -> DataFrame:
    """Per-vector integer sum-of-squares + floor(L2 norm) via
    ``mapInArrow`` — the zero-copy Arrow-native batch path (no pandas
    materialization at all, unlike mapInPandas: record batches go
    Tungsten → Arrow → numpy views and back).

    Fixed-point discipline (same contract as operators/clustering.py):
    coordinates quantize to ``scale`` units with FLOOR(x*scale + 0.5),
    the squared sum is exact int64, and norm_units = FLOOR(sqrt(ssq)) is
    one deterministic double op on an exact integer < 2^53 — so the
    output is bit-identical to a SQL oracle and invariant to batching.

    Scale shape: embarrassingly parallel, one narrow stage, no shuffle;
    vectorized numpy segment sums (reduceat-style via cumsum over the
    Arrow list offsets) — no per-row Python.
    """
    import numpy as np
    import pyarrow as pa

    id_field = df.schema[id_col].dataType.simpleString()
    assert id_field == "bigint", f"expected bigint id, got {id_field}"

    def batches(it):
        for batch in it:
            ids = batch.column(0)
            la = batch.column(1)
            if isinstance(la, pa.ChunkedArray):  # defensive; batches give Arrays
                la = la.combine_chunks()
            off = np.asarray(la.offsets)
            vals = np.asarray(la.values, dtype=np.float64)
            q = np.floor(vals * float(scale) + 0.5).astype(np.int64)
            csum = np.concatenate(([np.int64(0)], np.cumsum(q * q)))
            ssq = csum[off[1:]] - csum[off[:-1]]
            norm = np.floor(np.sqrt(ssq.astype(np.float64))).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(ssq, type=pa.int64()),
                 pa.array(norm, type=pa.int64())],
                names=["vec_id", "ssq_units", "norm_units"])

    return df.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        batches, schema="vec_id bigint, ssq_units bigint, norm_units bigint")


# --- product quantization (PQ) ANN -------------------------------------------

def pq_train_codebooks(qdf: DataFrame, m: int = 2, k: int = 4,
                       iterations: int = 2) -> dict[int, dict[int, list[int]]]:
    """PQ codebooks (Jégou et al., TPAMI 2011): ``m`` contiguous
    subspaces of each fixed-point vector (`qvec`, from
    clustering.quantize_vectors), ``k`` codes each — the m-codebook case
    of clustering.train_codebooks, one fused Lloyd loop for all m.
    Returns {subspace: {code: centroid_subvector}}, m·k·(dims/m) driver
    ints."""
    from .clustering import train_codebooks

    return train_codebooks(qdf, k, iterations, m)


def _sub_argmin(vec_sql: str, cents: dict[int, list[int]]) -> F.Column:
    """The nearest-centroid code of one subvector against literal
    centroids: integer squared L2, ties to the smaller code — one pure
    codegen fold parsed from one SQL string."""
    return F.expr(f"({argmin_struct_sql(vec_sql, cents)}).cid")


def pq_encode(qdf: DataFrame,
              books: dict[int, dict[int, list[int]]]) -> DataFrame:
    """Every input column but ``qvec``, then code_0..code_{m-1}: each
    vector compressed to m small codes — one narrow projection, no
    shuffle, 64 dims → m bytes of residency per vector (the PQ memory
    win). A (vec_id, list_id, qvec=residual) frame keeps its list_id.
    A code is the nearest centroid's position 0..k-1 in its codebook's
    id order — the index of the ADC distance tables — whatever ids the
    codebook's init points carried."""
    m = len(books)
    sublen = len(next(iter(books[0].values())))
    cols = [
        _sub_argmin(f"slice(qvec, {s * sublen + 1}, {sublen})",
                    dict(enumerate(c for _, c in sorted(books[s].items()))))
        .alias(f"code_{s}")
        for s in range(m)
    ]
    return qdf.select(*[c for c in qdf.columns if c != "qvec"], *cols)


def pq_adc_topk(codes: DataFrame, query_qvec: list[int],
                books: dict[int, dict[int, list[int]]],
                k_top: int = 10) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query stays un-quantized; its
    distance to every codebook centroid is a driver-side m×k integer
    table, and each corpus vector's approximate distance is the sum of m
    literal-array lookups indexed by its codes — O(m) integer ops per
    row, no joins, then TakeOrderedAndProject for the top-k. Returns
    (rank, vec_id, adc_units), ties broken by vec_id."""
    m = len(books)
    sublen = len(query_qvec) // m
    terms = ["0L"]
    for s in range(m):
        qs = query_qvec[s * sublen:(s + 1) * sublen]
        dt = []
        for cid, c in sorted(books[s].items()):
            dt.append(sum((a - b) * (a - b) for a, b in zip(qs, c)))
        terms.append(f"element_at({long_array_sql(dt)}, code_{s} + 1)")
    adc = F.expr(" + ".join(terms))
    from pyspark.sql import Window
    scored = codes.select("vec_id", adc.alias("adc_units"))
    # sort+limit → TakeOrderedAndProject (per-partition heaps + k-row
    # driver merge, never a global sort); the row_number window then runs
    # over k rows only — NOT the single-task full-table window
    top = scored.orderBy("adc_units", "vec_id").limit(k_top)
    # rank AFTER the cut: the window frame is k rows by construction (the
    # WindowExec single-partition warning it emits is about exactly this —
    # and exactly this is safe at any corpus size)
    w = Window.orderBy("adc_units", "vec_id")
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "vec_id", "adc_units"))


def ivf_residuals(qdf: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """(vec_id, list_id, qvec=residual) from a quantized (vec_id, qvec)
    frame: integer argmin against literal centroids, then zip_with
    subtraction against a when-chain of literal arrays — one codegen
    projection, no join, no shuffle. The residual step of the IVFADC
    family (residual PQ training, encode, frozen-model ingest)."""
    from .clustering import assign_clusters

    asg = assign_clusters(qdf, cents)
    case = case_long_array_sql("cluster_id", cents)
    return asg.select(
        "vec_id", F.col("cluster_id").alias("list_id"),
        F.expr(f"zip_with(qvec, {case}, (x, y) -> x - y)").alias("qvec"))


def _probe_lists(q0: list[int], cents: dict[int, list[int]],
                 n_probe: int) -> list[int]:
    """The query's ``n_probe`` nearest inverted lists by exact integer
    distance to the literal centroids — driver arithmetic over the
    bounded model (n_lists × dims ints), ties to the smaller list id."""
    return [cid for _, cid in sorted(
        (sum((a - b) * (a - b) for a, b in zip(q0, c)), cid)
        for cid, c in cents.items())[:n_probe]]


def _adc_expr(q0: list[int], cents: dict[int, list[int]],
              books: dict[int, dict[int, list[int]]],
              probed: list[int]) -> F.Column:
    """The asymmetric-distance column for one query over a
    (list_id, code_0..m-1) row: a when-chain on list_id selecting the
    per-(list, subspace) driver-literal distance table — the query
    residual differs per probed list, so each branch carries its own
    m × pq_k integer table. Built per query by ivfpq_adc_over_codes."""
    m = len(books)
    dims = len(next(iter(cents.values())))
    sublen = dims // m
    whens = []
    for lid in probed:
        r0 = [a - b for a, b in zip(q0, cents[lid])]
        terms = []
        for s in range(m):
            rs = r0[s * sublen:(s + 1) * sublen]
            tab = [sum((a - b) * (a - b) for a, b in zip(rs, c))
                   for _, c in sorted(books[s].items())]
            terms.append(
                f"element_at({long_array_sql(tab)}, code_{s} + 1)")
        whens.append(f"WHEN list_id = {int(lid)} "
                     f"THEN {' + '.join(terms)}")
    return F.expr("CASE " + " ".join(whens) + " END")


def _ivfadc_build(embeddings: DataFrame, query_ids: list[int], id_col: str,
                  vec_col: str, n_lists: int, ivf_iterations: int,
                  centroids: dict[int, list[int]] | None
                  ) -> tuple[dict[int, list[int]], DataFrame,
                             dict[int, list[int]]]:
    """The shared IVFADC build: the coarse quantizer (``centroids``, or
    trained by clustering.kmeans_fixed on the quantized corpus), the
    checkpointed residual table and each query's quantized vector.
    Returns (cents, residuals, {query_id: qvec})."""
    from .clustering import kmeans_fixed, quantize_vectors

    if not query_ids:
        raise ValueError("query_ids must be non-empty")
    # one materialization feeds the training, the residuals and the
    # query rows (GC-released blocks)
    qdf = (quantize_vectors(embeddings, id_col, vec_col)
           .transform(materialize))
    cents = (centroids if centroids is not None
             else kmeans_fixed(qdf, n_lists, ivf_iterations)[1])
    rdf = materialize(ivf_residuals(qdf, cents))
    qrows = {int(r["vec_id"]): [int(v) for v in r["qvec"]]
             for r in qdf.filter(
                 F.col("vec_id").isin(*[int(q) for q in query_ids]))
             .collect()}
    missing = [int(q) for q in query_ids if int(q) not in qrows]
    if missing:
        raise ValueError(f"query vec_id(s) {missing} not found")
    return cents, rdf, qrows


def ivfpq_adc_over_codes(codes: DataFrame, queries: dict[int, list[int]],
                         cents: dict[int, list[int]],
                         books: dict[int, dict[int, list[int]]],
                         k_top: int = 10, n_probe: int = 2) -> DataFrame:
    """ADC top-k over a (vec_id, list_id, code_*) table — the one search
    of the IVFADC family. ``queries`` maps each query id to its quantized
    vector; its probed lists and per-(list, subspace) distance tables are
    driver ints derived from the literal model, and its scan is pruned to
    the probed lists. The per-query scored branches union into one frame
    cut by ``row_number() over (partition by query_id) <= k_top``, which
    plans as a Partial WindowGroupLimit below the exchange: each partition
    ships at most k rows per query. Returns (query_id, rank, vec_id,
    adc_units), ties broken by vec_id; each query's own vec_id is
    excluded."""
    from pyspark.sql import Window

    scored = None
    for qid, q0 in queries.items():
        probed = _probe_lists(q0, cents, n_probe)
        branch = (codes
                  .filter(F.col("list_id").isin(*[int(x) for x in probed])
                          & (F.col("vec_id") != int(qid)))
                  .select(F.lit(int(qid)).alias("query_id"), "vec_id",
                          _adc_expr(q0, cents, books, probed)
                          .cast("long").alias("adc_units")))
        scored = branch if scored is None else scored.unionByName(branch)
    w = Window.partitionBy("query_id").orderBy("adc_units", "vec_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k_top)
            .select("query_id", "rank", "vec_id", "adc_units"))


def topk_ivfpq_multi(embeddings: DataFrame, query_ids: list[int],
                     k_top: int = 10, id_col: str = "vec_id",
                     vec_col: str = "embedding", n_lists: int = 8,
                     ivf_iterations: int = 2, n_probe: int = 2,
                     m: int = 2, pq_k: int = 4, pq_iterations: int = 2,
                     centroids: dict[int, list[int]] | None = None
                     ) -> DataFrame:
    """Composed IVF + PQ-on-residuals ADC top-k for a query set — the
    IVFADC index of Jégou et al., 'Product Quantization for Nearest
    Neighbor Search' (TPAMI 2011, public method), which is THE canonical
    billion-vector layout (FAISS's IndexIVFPQ): the coarse quantizer
    routes each vector to one of ``n_lists`` inverted lists, PQ codebooks
    are trained on the RESIDUALS (vector minus its list centroid —
    residuals have far less variance than raw vectors, so the same code
    budget quantizes them much more tightly), and a query probes only its
    ``n_probe`` nearest lists, scoring candidates by asymmetric distance
    against a PER-LIST driver-literal table (the query residual differs
    per list).

    Every stage is the repo's deterministic fixed-point discipline, so
    the WHOLE composition is SQL-oracle-able end to end:

    - coarse quantizer: ``centroids`` (clustering.kmeans_fixed — integer
      Lloyd, init = first ``n_lists`` ids, ties to the smaller list,
      FLOOR centroid update — trained once and persisted by
      clustering.persisted_codebooks), else trained here;
    - assignment + residuals: ``ivf_residuals``;
    - PQ codebooks: ``pq_train_codebooks`` over the residual frame (the
      same Lloyd loop, one pass per round for all m), codes by
      ``pq_encode``;
    - query: ``ivfpq_adc_over_codes`` (probe lists, query residuals and
      the n_probe × m × pq_k ADC tables are all driver-side integer
      literals: n_lists·dims + |query_ids|·m·pq_k·n_probe ints).

    The quantizer, codebooks and code table are built ONCE for the query
    set. At 100 TB: the code table is (8·m) bytes/vector, lists are the
    partition key (a probe scans n_probe/n_lists of the codes), and
    training runs once on a sample. Returns (query_id, rank, vec_id,
    adc_units), ties broken by vec_id; each query vector itself is
    excluded."""
    cents, rdf, qrows = _ivfadc_build(embeddings, query_ids, id_col,
                                      vec_col, n_lists, ivf_iterations,
                                      centroids)
    books = pq_train_codebooks(rdf, m=m, k=pq_k, iterations=pq_iterations)
    return ivfpq_adc_over_codes(pq_encode(rdf, books), qrows, cents, books,
                                k_top=k_top, n_probe=n_probe)


def ivfpq_encode_frozen(vectors: DataFrame,
                        cents: dict[int, list[int]],
                        books: dict[int, dict[int, list[int]]],
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """(vec_id, list_id, code_0..m-1) for NEW vectors against a FROZEN
    IVFADC model (centroid dict + PQ codebooks as driver literals) — the
    incremental-index primitive: a micro-batch of arrivals encodes with
    literal arithmetic only (quantize → ``ivf_residuals`` →
    ``pq_encode``), ONE narrow codegen projection per batch — no shuffle,
    no training job, no reference to the existing index. This is how a
    100 TB vector index stays fresh: the model trains once on a seed
    sample, every later ingest appends codes."""
    from .clustering import quantize_vectors

    qdf = quantize_vectors(vectors, id_col, vec_col)
    # spread a narrow-split batch before the CPU-bound argmin/code folds
    # (a big drop file arrives as a handful of splits; the folds are
    # n_lists·dims + m·pq_k·sublen integer ops per row)
    par = qdf.rdd.getNumPartitions()
    want = qdf.sparkSession.sparkContext.defaultParallelism
    if par < want:
        qdf = qdf.repartition(want)
    return pq_encode(ivf_residuals(qdf, cents), books)


def ivfpq_sweep(embeddings: DataFrame, query_ids: list[int],
                grid: list[tuple[int, int, int]], k_top: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                n_lists: int = 8, ivf_iterations: int = 2,
                pq_iterations: int = 2,
                centroids: dict[int, list[int]] | None = None,
                codebooks_dir: str | None = None) -> list[dict]:
    """IVFADC PARAMETER SWEEP — the recall/cost trade measured from one
    shared build: ``grid`` is a list of (m, pq_k, n_probe) points; the
    coarse quantizer, the quantized corpus and the residual table are
    built ONCE for the whole sweep, one PQ codebook + code table per
    distinct (m, pq_k), and each grid point reuses them for its probes.
    Returns one dict per point: {"m", "pq_k", "n_probe", "topk" (a
    (query_id, rank, vec_id, adc_units) DataFrame), "cand_rows" (the
    number of code rows the point's probes scan across the query set,
    self-rows excluded — list sizes come from ONE bounded n_lists-row
    aggregate, so the cost axis costs no extra corpus pass),
    "code_bytes" (m bytes/vector at pq_k <= 256 — the residency axis)}.
    This is how the 100 TB operating point gets CHOSEN FROM DATA rather
    than asserted: recall@k against the exact baseline (computed by the
    caller) vs scan fraction and code residency, Jégou et al. Fig. 5
    as a registry entry."""
    for _, _, n_probe in grid:
        if not 1 <= n_probe <= n_lists:
            raise ValueError(f"n_probe={n_probe} outside 1..{n_lists}")
    cents, rdf, qrows = _ivfadc_build(embeddings, query_ids, id_col,
                                      vec_col, n_lists, ivf_iterations,
                                      centroids)
    # bounded: <= n_lists rows — the deterministic cost axis
    sizes = {int(r["list_id"]): int(r["n"]) for r in
             rdf.groupBy("list_id").agg(F.count(F.lit(1)).alias("n"))
             .collect()}

    out: list[dict] = []
    codes_by_mk: dict[tuple[int, int], tuple] = {}
    # materialize a code table eagerly only when >1 grid point reuses
    # it. NOTE the real trade for a single-use (m, pq_k): the point's
    # one window-rank job unions |query_ids| filtered branches over the
    # lazy codes frame, so the encode projection runs once PER BRANCH —
    # |query_ids| narrow codegen argmin passes vs one eager
    # checkpoint write + |query_ids| cheap scans. For this entry's
    # shape (5 queries, k <= 8 literals per subspace) the lazy side
    # measured faster; a caller sweeping many queries over a single-use
    # budget should checkpoint upstream instead.
    uses: dict[tuple[int, int], int] = {}
    for m, pq_k, _ in grid:
        uses[(m, pq_k)] = uses.get((m, pq_k), 0) + 1
    for m, pq_k, n_probe in grid:
        if (m, pq_k) not in codes_by_mk:
            if codebooks_dir is not None:
                # caller vouches the corpus behind this dir is immutable
                # (deterministic fixture rebuilds) — train-once cache
                import os

                from .clustering import persisted_codebooks

                books = persisted_codebooks(
                    os.path.join(codebooks_dir,
                                 f"books_m{m}_k{pq_k}"
                                 f"_i{pq_iterations}.json"),
                    rdf, k=pq_k, iterations=pq_iterations, m=m,
                    sublen=len(next(iter(cents.values()))) // m)
            else:
                books = pq_train_codebooks(rdf, m=m, k=pq_k,
                                           iterations=pq_iterations)
            codes = pq_encode(rdf, books)
            if uses[(m, pq_k)] > 1:
                codes = materialize(codes)
            codes_by_mk[(m, pq_k)] = (books, codes)
        books, codes = codes_by_mk[(m, pq_k)]
        # a query's own list is its nearest, so it is always probed:
        # each query scans its probed lists minus its own row
        cand_rows = sum(sum(sizes.get(lid, 0)
                            for lid in _probe_lists(q0, cents, n_probe)) - 1
                        for q0 in qrows.values())
        out.append({
            "m": m, "pq_k": pq_k, "n_probe": n_probe,
            "topk": ivfpq_adc_over_codes(codes, qrows, cents, books,
                                         k_top=k_top, n_probe=n_probe),
            "cand_rows": cand_rows, "code_bytes": m,
        })
    return out
