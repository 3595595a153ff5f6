"""Distributed k-means (Lloyd's algorithm) in integer fixed-point — the
semantic-clustering primitive behind embedding-space corpus curation
(semantic dedup "keep one per cluster", domain discovery, diversity
sampling).

Reference parity: the reference (ilias-lp/canary-weather-etl README.md)
ships no clustering; this extends the engine's LLM-data-pipeline family
(SURVEY.md §2.11) with the standard Lloyd iteration, expressed the way a
Spark engine should run it at 100 TB:

- **Centroids live on the driver, points never do.** k·dims integers are
  collected per iteration (k=4, 64 dims → 256 longs — a bounded driver
  scalar, same budget class as one BPE merge pair per round); the corpus
  itself is touched only by narrow per-row expressions.
- **Assignment is zero-shuffle.** Distances to all k centroids are
  computed in one whole-stage-codegen expression tree
  (``zip_with`` + ``aggregate`` integer folds over literal centroid
  arrays) and the argmin is an ``array_min`` over (dist, cid) structs —
  no join, no UDF, no Python in the hot path.
- **The update is one map-side-combinable aggregate.** ``posexplode`` to
  (cluster, dim) and ``groupBy(cluster, dim).sum`` — partial aggregation
  reduces the shuffle to k·dims rows per input partition regardless of
  corpus size. This is exactly MLlib's broadcast-centroid /
  tree-aggregate shape, re-expressed declaratively.
- **Integer fixed-point end-to-end** (1e6 units per 1.0): quantized
  coordinates, integer squared distances, integer sums — all order-free,
  so the result is bit-identical across partitionings and retries, and
  hash-comparable against an unrolled SQL oracle (the same discipline as
  operators/graph.py:pagerank_fixed). The centroid-mean division is the
  single non-integer op: ``FLOOR(CAST(sum AS DOUBLE) / n)`` — one exact
  integer in a double (< 2^53), one deterministic divide, one floor —
  identical in every IEEE-754 engine.

Determinism contract: init takes the first ``k`` points in vec_id
order (on the dense ids of every oracle fixture: vec_id < k), ties in
the argmin break toward the smaller centroid id, and empty clusters keep
their previous centroid — each rule mirrored in the oracle.

k-scaling: the literal-centroid argmin inlines k·dims integers into one
expression tree — plan size and codegen grow linearly in k·dims — so
``kmeans_fixed`` uses it up to ``LITERAL_K_MAX`` and switches above that
to a broadcast join against a centroid DataFrame + min-struct
aggregation (``assign_clusters_join``): one extra shuffle of assignment
rows per iteration, but constant-size plans. Same integer arithmetic,
same oracle semantics.

One centroid model: k-means, the IVF coarse quantizer and the PQ
codebooks are all ``train_codebooks`` (one codebook, or one per
subspace) and persist through ``persisted_codebooks``, one JSON model
file checked against the requested shape on every load.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.litexpr import argmin_struct_sql

UNIT_SCALE = 1_000_000
# largest k assigned by the literal-centroid argmin (module docstring)
LITERAL_K_MAX = 50
# SemDeDup's engine-chosen k = max(K_MIN, n // TARGET_CLUSTER)
K_MIN = 8
TARGET_CLUSTER = 64


def quantize_vectors(df: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     scale: int = UNIT_SCALE) -> DataFrame:
    """(id, qvec: array<long>) — fixed-point embedding coordinates.

    float32 → double is value-preserving; ``x*scale + 0.5`` then FLOOR is
    a fixed 3-op double sequence, deterministic across engines. All
    downstream distance math is integer.
    """
    return df.select(F.col(id_col).alias("vec_id"),
                     quantized(F.col(vec_col), scale).alias("qvec"))


def quantized(vec: F.Column, scale: int) -> F.Column:
    """The fixed-point coordinates of one vector column, as
    `quantize_vectors` computes them."""
    return F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * F.lit(float(scale))
                          + F.lit(0.5)).cast("long"))


def assign_clusters(qdf: DataFrame, centroids: dict[int, list[int]]) -> DataFrame:
    """(vec_id, qvec, cluster_id, dist_units): nearest centroid per point,
    ties to the smaller cluster id. One narrow projection — no shuffle.
    The whole k-way argmin tree parses from one SQL string (identical
    analyzed expression to the old per-element build — pinned by
    tests/test_litexpr.py). cluster_id is BIGINT, like
    ``assign_clusters_join``'s: the ids are the init points' vec_ids."""
    best = F.expr(argmin_struct_sql("qvec", centroids))
    return (qdf.withColumn("_best", best)
            .withColumn("cluster_id", F.col("_best.cid").cast("bigint"))
            .withColumn("dist_units", F.col("_best.d"))
            .drop("_best"))


def assign_clusters_join(qdf: DataFrame,
                         centroids: dict[int, list[int]]) -> DataFrame:
    """Large-k assignment: the centroid table rides a BROADCAST join and
    the argmin is a min-struct aggregate — constant-size plans where
    ``assign_clusters``'s literal-inlined argmin would blow codegen past
    LITERAL_K_MAX (module docstring). Costs one shuffle of (vec_id)
    groups per round — the documented large-k trade. Bit-identical
    semantics: integer squared L2, ties to the smaller cluster id (min
    struct (dist, cid) is lexicographic), any_value(qvec) is
    deterministic because qvec is functionally dependent on vec_id."""
    spark = qdf.sparkSession
    # cid is BIGINT: with sparse production ids the init points' ids can
    # exceed int32 (the literal path's int cid only ever sees small-k
    # dense fixtures)
    cent = spark.createDataFrame(
        [(int(cid), [int(v) for v in vec])
         for cid, vec in sorted(centroids.items())],
        "cid BIGINT, cvec ARRAY<BIGINT>")
    d = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("cvec"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return (qdf.join(F.broadcast(cent), F.lit(True))
            .select("vec_id", "qvec",
                    F.struct(d.alias("d"), F.col("cid")).alias("s"))
            .groupBy("vec_id")
            .agg(F.min("s").alias("b"), F.any_value("qvec").alias("qvec"))
            .select("vec_id", "qvec", F.col("b.cid").alias("cluster_id"),
                    F.col("b.d").alias("dist_units")))


def _assigner(k: int):
    """``assign_clusters`` for k <= LITERAL_K_MAX, ``assign_clusters_join``
    above it (module docstring)."""
    return assign_clusters if k <= LITERAL_K_MAX else assign_clusters_join


def _argmin_switched(vec_sql: str, key_sql: str,
                     books: dict[int, dict[int, list[int]]]) -> F.Column:
    """Nearest-centroid code with the codebook selected by the subspace
    column: a when-chain over literal per-subspace argmin folds — pure
    codegen, each row evaluates only its branch, the whole chain parsed
    from ONE SQL string (functions.litexpr)."""
    whens = " ".join(
        f"WHEN {key_sql} = {int(s)} "
        f"THEN ({argmin_struct_sql(vec_sql, books[s])}).cid"
        for s in sorted(books))
    return F.expr(f"CASE {whens} END")


def train_codebooks(qdf: DataFrame, k: int, iterations: int, m: int = 1
                    ) -> dict[int, dict[int, list[int]]]:
    """The one Lloyd loop: ``m`` codebooks of ``k`` centroids each, one
    per contiguous subspace of ``qvec`` — m=1 is k-means over whole
    vectors, m>1 the product quantizer of Jégou et al., 'Product
    Quantization for Nearest Neighbor Search' (TPAMI 2011). Returns
    {subspace: {cluster_id: centroid}} in fixed-point units.

    Init: the first ``k`` points in vec_id order — one TakeOrdered job,
    k bounded rows sliced per subspace on the driver (on the dense ids
    of every oracle fixture these are vec_id < k; unlike that filter it
    also holds on sparse ids). Each round is one corpus pass and one
    bounded collect for all m codebooks: assign, ``posexplode`` to
    (subspace, cluster, dim), one map-side-combinable ``groupBy`` sum /
    count, FLOOR centroid update; empty clusters keep their centroid.
    m=1 assigns with ``assign_clusters`` (or the join above
    LITERAL_K_MAX); m>1 explodes each vector into its m subvectors and
    switches the literal centroids on the subspace column.
    """
    init_rows = (qdf.select("vec_id", "qvec")
                 .orderBy("vec_id").limit(k).collect())
    ids = {int(r["vec_id"]) for r in init_rows}
    if len(ids) != k:
        raise ValueError(f"init needs k={k} distinct vec_ids, corpus "
                         f"has only {len(ids)}")
    dims = len(init_rows[0]["qvec"])
    if dims % m:
        raise ValueError(f"dims {dims} not divisible by m={m}")
    sublen = dims // m
    books = {s: {int(r["vec_id"]):
                 [int(v) for v in r["qvec"][s * sublen:(s + 1) * sublen]]
                 for r in init_rows}
             for s in range(m)}

    if m == 1:
        key, vec = [], "qvec"

        def assign(books):
            return _assigner(k)(qdf, books[0])
    else:
        key, vec = ["subspace"], "sub"
        sub = qdf.select(F.explode(F.array(*[
            F.struct(F.lit(s).alias("subspace"),
                     F.slice("qvec", s * sublen + 1, sublen).alias("sub"))
            for s in range(m)])).alias("e")).select("e.subspace", "e.sub")

        def assign(books):
            # the argmin lives in its OWN Project: co-located with the
            # posexplode generator, Catalyst's generator rewrite strips
            # the fold's struct field names (FIELD_NOT_FOUND col1/col2)
            return sub.select(
                "subspace",
                _argmin_switched("sub", "subspace", books).alias("cluster_id"),
                "sub")

    for _ in range(iterations):
        # one shuffle of m*k*sublen keys, partial-aggregated map-side
        sums = (assign(books).select(*key, "cluster_id",
                                     F.posexplode(vec).alias("ord", "qv"))
                .groupBy(*key, "cluster_id", "ord")
                .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
                # FLOOR(double-div of exact ints): sums < 2^53, exact in
                # double; single deterministic divide — NOT `div`, whose
                # truncation disagrees with FLOOR on negatives
                .withColumn("cv", F.floor(F.col("s").cast("double")
                                          / F.col("n")).cast("long"))
                .select(*key, "cluster_id", "ord", "cv")
                .collect())  # bounded: m*k*sublen longs
        got: dict[tuple[int, int], dict[int, int]] = {}
        for r in sums:
            s = int(r["subspace"]) if key else 0
            got.setdefault((s, int(r["cluster_id"])), {})[
                int(r["ord"])] = int(r["cv"])
        books = {s: {c: ([got[(s, c)][i] for i in range(sublen)]
                         if (s, c) in got else v)
                     for c, v in cents.items()}
                 for s, cents in books.items()}
    return books


def kmeans_fixed(qdf: DataFrame, k: int = 4,
                 iterations: int = 3) -> tuple[DataFrame, dict[int, list[int]]]:
    """Lloyd's k-means over a quantized (vec_id, qvec) frame: the
    single-codebook ``train_codebooks``. Returns (final assignment frame,
    final centroids) — the assignment against the last centroids is the
    frame the caller aggregates."""
    centroids = train_codebooks(qdf, k, iterations)[0]
    return _assigner(k)(qdf, centroids), centroids


def persisted_codebooks(path: str, qdf: DataFrame, k: int, iterations: int,
                        m: int = 1, sublen: int | None = None
                        ) -> dict[int, dict[int, list[int]]]:
    """The centroid model file: the codebooks at ``path``, trained on
    ``qdf`` by ``train_codebooks`` and published there first when the
    file is missing. Publication is tmp-then-``os.replace``, so a crashed
    writer never leaves a half file; training is deterministic, so
    concurrent writers over one corpus publish the same file. Every load
    checks the file against the request — ``m`` codebooks of ``k``
    centroids, each ``sublen`` long when given (else all one length) —
    and raises on a stale file rather than serve a mismatched model."""
    import json
    import os

    if not os.path.isfile(path):
        books = train_codebooks(qdf, k, iterations, m)
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(books, f)
        os.replace(tmp, path)
    with open(path) as f:
        books = {int(s): {int(c): [int(x) for x in v] for c, v in d.items()}
                 for s, d in json.load(f).items()}
    ks = sorted({len(d) for d in books.values()})
    lens = sorted({len(v) for d in books.values() for v in d.values()})
    if (sorted(books) != list(range(m)) or ks != [k] or len(lens) != 1
            or sublen not in (None, lens[0])):
        raise ValueError(
            f"cached centroid model at {path} has shape (m={len(books)}, "
            f"k={ks}, sublen={lens}) but (m={m}, k={k}, sublen={sublen}) "
            f"was requested — delete the stale file or use a "
            f"parameter-keyed path")
    return books


def kmeans_cluster_profile(asg: DataFrame) -> DataFrame:
    """Per-cluster summary of a final assignment: size, integer inertia,
    and the medoid (closest member, ties to the smaller vec_id) — the
    representative a semantic-dedup pass keeps."""
    return (asg.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.sum("dist_units").alias("inertia_units"),
                 F.min(F.struct("dist_units", "vec_id"))
                 .getField("vec_id").alias("medoid_vec_id")))


def semantic_dedup(qdf: DataFrame, k: int = 8,
                   iterations: int = 2) -> DataFrame:
    """Embedding-space SEMANTIC dedup: Lloyd k-means over the quantized
    vectors, then keep each cluster's medoid (closest member, ties to the
    smaller vec_id) as the cluster's sole survivor — near-duplicate and
    paraphrase groups collapse to one representative even when no n-gram
    overlap exists for MinHash/SimHash to catch.

    Returns one row per SURVIVOR: (cluster_id, vec_id, n_collapsed,
    inertia_units) — n_collapsed is how many members the survivor stands
    for, inertia_units the cluster's integer within-cluster scatter
    (a quality signal: tight cluster → safe collapse; loose → review k).

    Scale shape: reuses kmeans_fixed's zero-shuffle assignment and k·dims
    update shuffle; the medoid pick is ONE more map-side-combined
    aggregate over the final assignment (min struct (dist, vec_id) per
    cluster) — no new corpus-sized state, no join. At 100 TB, k grows
    with corpus diversity; above LITERAL_K_MAX the assignment becomes a
    broadcast join (module docstring). Deterministic end-to-end: integer
    distances, total tie-breaks, so the survivor set is bit-stable
    across partitionings and retries — a dedup pass you can re-run
    idempotently.
    """
    asg, _cent = kmeans_fixed(qdf, k=k, iterations=iterations)
    return (asg.groupBy("cluster_id")
            .agg(F.min(F.struct("dist_units", "vec_id"))
                 .getField("vec_id").alias("vec_id"),
                 F.count(F.lit(1)).cast("bigint").alias("n_collapsed"),
                 F.sum("dist_units").cast("bigint")
                 .alias("inertia_units")))


def _within_cluster_drop_survivors(asg, emb, threshold: float,
                                   id_col: str, vec_col: str):
    """Shared tail of the thresholded semantic-dedup family: within each
    cluster, every pair with cosine >= threshold drops its higher id
    (the LSH near-dup stage's survivor rule); returns survivors
    (cluster_id, vec_id). ONE equi-join on cluster_id — the quadratic is
    cluster-local by construction."""
    from .similarity import as_double, dot, l2_norm

    ve = (asg.select("vec_id", "cluster_id")
          .join(emb.select(F.col(id_col).alias("vec_id"),
                           as_double(vec_col).alias("v")), "vec_id")
          .withColumn("n", l2_norm(F.col("v"))))
    l = ve.select(F.col("vec_id").alias("a"), F.col("cluster_id"),
                  F.col("v").alias("va"), F.col("n").alias("na"))
    r = ve.select(F.col("vec_id").alias("b"),
                  F.col("cluster_id").alias("cid_b"),
                  F.col("v").alias("vb"), F.col("n").alias("nb"))
    drops = (l.join(r, (F.col("cluster_id") == F.col("cid_b"))
                    & (F.col("a") < F.col("b")))
             .where((dot(F.col("va"), F.col("vb"))
                     / (F.col("na") * F.col("nb"))) >= threshold)
             .select("b").distinct())
    return (asg.join(drops, asg.vec_id == drops.b, "left_anti")
            .select("cluster_id", "vec_id"))


def semantic_dedup_threshold(qdf: DataFrame, emb: DataFrame,
                             iterations: int = 2,
                             threshold: float = 0.40,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style thresholded semantic dedup (Abbas et al. 2023,
    public method): k-means clusters bound the quadratic, then WITHIN
    each cluster every pair with cosine >= ``threshold`` drops its
    higher id — the same drop-b-side policy as the LSH near-dup stage
    (operators/pipeline.curate_corpus), so the two dedup families share
    one survivor rule. Gentler than ``semantic_dedup`` (which keeps ONE
    medoid per cluster): only genuinely-close neighbors collapse.

    Returns survivors: (cluster_id, vec_id).

    k is ENGINE-CHOSEN from one bounded count(): k = max(K_MIN,
    n // TARGET_CLUSTER) keeps mean cluster size ~constant, so the
    within-cluster pair volume Σ C(|cluster|,2) ≈ n·TARGET_CLUSTER/2 is
    linear in corpus size. A fixed small k degenerates quadratically on
    the pair join (measured: fixed k=8 at 100x sf0.1 was aborted after
    45 min on ~156M within-cluster pairs, SCALE.md r9). The equi-join on
    cluster_id shuffles (id, cluster, vector) rows once.

    HONEST SCALE LIMIT (measured, SCALE.md r9): with k ∝ n the
    brute-force assignment does n·k distance folds per round — itself
    O(n²/TARGET_CLUSTER) — so EXACT threshold dedup cannot be linear
    end-to-end this way. The linear 100 TB paths in this repo are
    hyperplane-LSH candidates + exact verify
    (similarity.cosine_near_dup_pairs_planted) and the PQ coarse-bucket
    pass (q_pq_semantic_buckets); run those first and reserve
    cluster-bounded exact dedup for the survivor set.
    """
    n = qdf.count()  # bounded driver scalar — picks k
    k = max(K_MIN, int(n) // TARGET_CLUSTER)
    asg, _cent = kmeans_fixed(qdf, k=k, iterations=iterations)
    return _within_cluster_drop_survivors(asg, emb, threshold,
                                          id_col, vec_col)
