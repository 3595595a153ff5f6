"""Spectral projection over embedding columns: deterministic PCA by
power iteration — the whitening/decorrelation primitive a training-data
pipeline uses for embedding diagnostics (dominant-direction audits,
1-D curriculum ordering, cheap visual projections) and as the rotation
step in front of quantizers (PQ/IVF behave better on decorrelated
residuals; Jégou et al. 2011 §V, public method).

Reference parity: the reference (ilias-lp/canary-weather-etl README.md)
ships no linear algebra; this extends the engine's LLM-data-pipeline
family (SURVEY.md §2.11) with the standard power method, expressed the
way a Spark engine should run it at 100 TB:

- **The corpus is touched exactly twice** (once for the d×d Gram
  aggregate, once to attach projections); the O(d²) eigen-work runs on
  the driver against a 64×64 integer matrix — the same bounded-driver
  budget class as k-means centroids (k·dims) or one BPE merge pair.
- **The Gram aggregate is one map-side-combinable pass**: posexplode to
  (dim i, centered value) rows that carry the full centered vector,
  then ``groupBy(i)`` with d per-column sums — partial aggregation
  reduces the shuffle to d groups × d sums per input partition
  regardless of corpus size. Sums are LONG: at 1e3 coordinate units a
  per-row product is ≤ ~(2e3·max|x|)², so the sum overflows int64 only
  past n ≈ 2e12 vectors at |x| ≤ 1 (≈ 2e10 at |x| ≤ 10) — far beyond
  any corpus this runs on, and the A/B showed decimal(38,0) sums cost
  17x on the CPU-bound pass (205 s vs 12 s at 200k vectors,
  single-task); the SQL oracle keeps HUGEINT, values are identical.
- **Integer fixed-point end-to-end**: coordinates quantize at 1e3
  units, means are FLOOR(sum/n), centered values and Gram entries are
  exact integers, and each power-iteration step renormalizes by the
  max-|component| with the repo's one deterministic double op
  (FLOOR(CAST(w AS DOUBLE) * 1e6 / mx) — both operands exact ints, one
  IEEE multiply/divide/floor, identical in every IEEE-754 engine). The
  result is bit-identical across partitionings and retries and
  hash-comparable against an unrolled SQL oracle (the q_kmeans_lloyd
  discipline applied to the power method).

Determinism contract: the start vector is the coordinate axis of the
largest Gram diagonal (ties to the smaller dimension), ``iterations``
fixed matrix-vector steps, max-norm renormalization (no square roots —
the eigenvector is defined up to scale anyway, and max-norm keeps every
step in exact integers except the one floored divide).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.litexpr import long_array
from ..session import materialize

# 1e3 coordinate units (not clustering.UNIT_SCALE's 1e6): Gram entries
# are sums of coordinate PRODUCTS, so unit scale enters squared —
# 1e3 keeps per-row products ≤ ~1e7 and the d-term fold of
# G·v (≤ n·1e7 · 1e6 · d) inside driver ints / SQL HUGEINT headroom
# documented per stage below.
COORD_SCALE = 1_000
VEC_SCALE = 1_000_000

_I64_MAX = (1 << 63) - 1


def _check_sum_exactness(n: int, mx: int, where: str) -> None:
    """Loud guard for the documented long-sum exactness bound: the Spark
    side accumulates Σ c_i·c_j in BIGINT (17x cheaper than decimal on
    this CPU-bound pass) while the SQL oracle uses HUGEINT, so past the
    bound a non-ANSI deployment WRAPS SILENTLY where DuckDB stays exact
    (a silent cross-engine verdict divergence), and the repo's ANSI
    sessions die mid-pass with an opaque ArithmeticException — either
    way this guard makes the failure explicit and actionable. The
    guard is conservative (it bounds the worst-case sum, not the
    realized one): n·mx² ≤ i64 max is
    sufficient for every per-entry sum (|Σ c_i·c_j| ≤ n·mx²); the n and
    mx scalars ride the same aggregate that computes the sums, so the
    guard costs no extra pass. (The wrap would already have happened in
    that pass, but the condition is detected from overflow-free scalars
    — a count and a max — so the failure is explicit, not a wrong
    answer.)"""
    if n and mx and n * mx * mx > _I64_MAX:
        raise ValueError(
            f"{where}: long-sum exactness bound exceeded "
            f"(n={n}, max|coord|={mx}, n*mx^2 > 2^63-1); the BIGINT "
            "Gram sums may have wrapped while the SQL oracle's HUGEINT "
            "stays exact — re-shard the corpus or lower COORD_SCALE")


def _quantize(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, qvec array<long>) at COORD_SCALE units — the same fixed
    3-op double sequence as clustering.quantize_vectors."""
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(float(COORD_SCALE))
                              + F.lit(0.5)).cast("long"),
        ).alias("qvec"),
    )


def gram_matrix(centered: DataFrame, dims: int) -> list[list[int]]:
    """Exact integer Gram matrix G[i][j] = Σ_vec c_i·c_j of a centered
    (vec_id, cvec) frame — ONE corpus pass: posexplode supplies the row
    index i, the carried array supplies all j columns, and d per-column
    long sums partial-aggregate map-side to d groups × d sums per
    partition. Driver receives d² ints (64×64 → 4096 — bounded)."""
    e = centered.select(
        F.posexplode("cvec").alias("i", "ci"), "cvec")
    # long sums: exact to n ~ 2e12 vectors at these unit scales (module
    # docstring) and 17x cheaper than decimal(38,0) on this CPU-bound
    # pass; the SQL oracle's HUGEINT totals are value-identical
    g = e.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.abs(F.col("ci"))).alias("mx"),
        *[F.sum(F.col("ci") * F.element_at("cvec", j + 1)).alias(f"g{j}")
          for j in range(dims)])
    collected = g.collect()
    if not collected:
        raise ValueError(
            "gram_matrix: centered frame is empty — a Gram matrix of "
            "zero vectors is undefined (check the upstream filter)")
    rows = {int(r["i"]): [int(r[f"g{j}"]) for j in range(dims)]
            for r in collected}
    n = max(int(r["n"]) for r in collected)
    mx = max(int(r["mx"]) for r in collected)
    _check_sum_exactness(n, mx, "gram_matrix")
    return [rows[i] for i in range(dims)]


def power_iterate(gram: list[list[int]], iterations: int = 8,
                  scale: int = VEC_SCALE) -> list[int]:
    """Dominant eigenvector of an integer Gram matrix by the power
    method, in the engine-portable arithmetic the SQL oracle replays:
    exact integer matvec, then renormalize each component by the
    max-|component| via FLOOR(double(w) * scale / double(mx)) — float()
    of a Python int and CAST(x AS DOUBLE) round identically (IEEE
    round-to-nearest-even), so both engines walk the same orbit."""
    d = len(gram)
    # start: axis of the largest diagonal, ties to the smaller dim
    d0 = max(range(d), key=lambda i: (gram[i][i], -i))
    v = [scale if i == d0 else 0 for i in range(d)]
    for _ in range(iterations):
        w = [sum(gram[i][j] * v[j] for j in range(d)) for i in range(d)]
        mx = max(abs(x) for x in w)
        if mx == 0:  # zero matrix — degenerate input, keep the axis
            break
        v = [math.floor(float(x) * float(scale) / float(mx)) for x in w]
    return v


def pca_power_projection(embeddings: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         iterations: int = 8) -> DataFrame:
    """(vec_id, proj_units): each vector's exact integer projection onto
    the dominant principal direction of the mean-centered corpus.

    Stage budget (d = dims, n = corpus size):
    - means: one d-group aggregate, FLOOR(sum/n) per dim (exact: sums
      < 2^53 up to n ≈ 1e12 at 1e3 units);
    - Gram: one corpus pass (see gram_matrix), d² driver ints;
    - power iteration: driver-only, O(iterations·d²) Python-int ops;
    - projection: one narrow codegen fold per row against the d-literal
      eigenvector (|c| ≤ ~2e3 units · 1e6 vec units · d = ~1.3e11 —
      long headroom at any n, the fold is per-row).
    """
    qdf = _quantize(embeddings, id_col, vec_col)
    head = qdf.select("qvec").head()
    if head is None:
        raise ValueError("pca_power_projection: empty input")
    dims = len(head["qvec"])

    # per-dim integer means: FLOOR(sum/n), the kmeans centroid-update rule
    mrows = (qdf.select(F.posexplode("qvec").alias("ord", "qv"))
             .groupBy("ord")
             .agg(F.floor(F.sum("qv").cast("double") / F.count(F.lit(1)))
                  .cast("long").alias("mu"))
             .collect())  # d bounded rows
    mu = {int(r["ord"]): int(r["mu"]) for r in mrows}
    mu_arr = long_array(mu[i] for i in range(dims))

    centered = qdf.select(
        "vec_id",
        F.zip_with("qvec", mu_arr, lambda x, y: x - y).alias("cvec"))
    # the Gram pass is CPU-bound (d products per exploded row): a small
    # parquet scan often arrives as 1-2 partitions (n·d·4 bytes fits one
    # maxPartitionBytes split), which would serialize the whole pass on
    # one core — spread it before checkpointing. No-op when the input
    # already has enough splits (the 100 TB case).
    par = centered.rdd.getNumPartitions()
    want = centered.sparkSession.sparkContext.defaultParallelism
    if par < want:
        centered = centered.repartition(want)
    centered = materialize(centered)  # feeds Gram + attach

    gram = gram_matrix(centered, dims)
    v = power_iterate(gram, iterations=iterations)

    v_arr = long_array(v)
    return centered.select(
        "vec_id",
        F.aggregate(F.zip_with("cvec", v_arr, lambda c, w: c * w),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("proj_units"))


def moment_state(vectors: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding"
                 ) -> tuple[int, list[int], list[list[int]]]:
    """(n, s, M) raw-moment state of a vector batch — the additive half
    of PCA: n = row count, s_i = Σ qv_i, M_ij = Σ qv_i·qv_j (all exact
    integers at COORD_SCALE units, one gram-style map-side-combinable
    pass, d² + d + 1 driver ints). States from disjoint batches SUM to
    the state of their union, which is what makes the streaming twin of
    pca_power_projection exact: centering does NOT break additivity
    because Σ(qv_i−μ_i)(qv_j−μ_j) expands to
    M_ij − μ_i·s_j − μ_j·s_i + n·μ_i·μ_j with integer μ — an identity,
    not an approximation."""
    qdf = _quantize(vectors, id_col, vec_col)
    # same CPU-bound-pass spread as pca_power_projection: a micro-batch
    # delivered as one or two file splits would serialize the d-product
    # fold on as many cores (measured: the 1000x streaming decade ran
    # 12x slower than the batch twin before this guard)
    par = qdf.rdd.getNumPartitions()
    want = qdf.sparkSession.sparkContext.defaultParallelism
    if par < want:
        qdf = qdf.repartition(want)
    e = qdf.select(F.posexplode("qvec").alias("i", "ci"), "qvec")
    dims_row = qdf.select("qvec").head()
    if dims_row is None:
        raise ValueError("moment_state: empty batch")
    dims = len(dims_row["qvec"])
    g = e.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.abs(F.col("ci"))).alias("mx"),
        F.sum("ci").alias("s"),
        *[F.sum(F.col("ci") * F.element_at("qvec", j + 1)).alias(f"m{j}")
          for j in range(dims)])
    rows = {int(r["i"]): r for r in g.collect()}
    n = int(rows[0]["n"])
    _check_sum_exactness(n, max(int(r["mx"]) for r in rows.values()),
                         "moment_state")
    s = [int(rows[i]["s"]) for i in range(dims)]
    m = [[int(rows[i][f"m{j}"]) for j in range(dims)] for i in range(dims)]
    return n, s, m


def gram_from_moments(n: int, s: list[int],
                      m: list[list[int]]) -> tuple[list[int],
                                                   list[list[int]]]:
    """(mu, G) from accumulated raw moments: integer means by the same
    FLOOR(double-div) rule as pca_power_projection's aggregate (sums are
    exact in a double below 2^53 — n·COORD_SCALE ≈ 1e12 vectors at unit
    coordinates), then the exact centered Gram via the expansion
    identity. All Python-int arithmetic — bit-identical to the batch
    operator's centered self-product."""
    d = len(s)
    mu = [math.floor(float(si) / float(n)) for si in s]
    gram = [[m[i][j] - mu[i] * s[j] - mu[j] * s[i] + n * mu[i] * mu[j]
             for j in range(d)] for i in range(d)]
    return mu, gram


def project_on_direction(vectors: DataFrame, mu: list[int], v: list[int],
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """(vec_id, proj_units): the attach half of pca_power_projection —
    center against literal means, fold against the literal direction.
    One narrow codegen pass."""
    qdf = _quantize(vectors, id_col, vec_col)
    mu_arr = long_array(mu)
    v_arr = long_array(v)
    cvec = F.zip_with("qvec", mu_arr, lambda x, y: x - y)
    return qdf.select(
        "vec_id",
        F.aggregate(F.zip_with(cvec, v_arr, lambda c, w: c * w),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("proj_units"))


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — DuckDB's `//` semantics
    (NOT Python's floor `//`, which differs on negative operands:
    -7 // 2 is -4 in Python but -3 in DuckDB). Deflation arithmetic
    uses this on both sides so the oracle replays bit-for-bit."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def deflate_gram(gram: list[list[int]], v1: list[int],
                 down: int = 1_000) -> list[list[int]]:
    """Integer Hotelling deflation: G₂ = G − λ·v v̂ᵀ/(v̂ᵀv̂) with
    λ = v̂ᵀGv̂/(v̂ᵀv̂) folded in as G₂_ij = G_ij − trunc(num·v̂_i·v̂_j, den²)
    where v̂ = trunc(v1/down) — the downscale keeps num·v̂_i·v̂_j inside
    HUGEINT at every probed decade (at v1's native 1e6 units the triple
    product clears 1e38 past the second decade). The rounding makes G₂
    only approximately orthogonal to v1, which is fine: the oracle
    replays the identical arithmetic, and the numpy pytest pins the
    second direction's quality rather than exact orthogonality."""
    d = len(gram)
    vd = [_tdiv(x, down) for x in v1]
    num = sum(vd[i] * gram[i][j] * vd[j]
              for i in range(d) for j in range(d))
    den = sum(x * x for x in vd)
    dd = den * den
    return [[gram[i][j] - _tdiv(num * vd[i] * vd[j], dd)
             for j in range(d)] for i in range(d)]


def pca_top2_projection(embeddings: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        iterations: int = 64) -> DataFrame:
    """(vec_id, proj1_units, proj2_units): the top-2 spectral scatter —
    dominant direction by power iteration, second direction by power
    iteration on the deflated Gram. Same stage budget as
    pca_power_projection plus O(d²) more driver ints; the corpus is
    still touched exactly twice."""
    qdf = _quantize(embeddings, id_col, vec_col)
    head = qdf.select("qvec").head()
    if head is None:
        raise ValueError("pca_top2_projection: empty input")
    dims = len(head["qvec"])

    mrows = (qdf.select(F.posexplode("qvec").alias("ord", "qv"))
             .groupBy("ord")
             .agg(F.floor(F.sum("qv").cast("double") / F.count(F.lit(1)))
                  .cast("long").alias("mu"))
             .collect())
    mu = {int(r["ord"]): int(r["mu"]) for r in mrows}
    mu_arr = long_array(mu[i] for i in range(dims))
    centered = qdf.select(
        "vec_id",
        F.zip_with("qvec", mu_arr, lambda x, y: x - y).alias("cvec"))
    par = centered.rdd.getNumPartitions()
    want = centered.sparkSession.sparkContext.defaultParallelism
    if par < want:
        centered = centered.repartition(want)
    centered = materialize(centered)

    gram = gram_matrix(centered, dims)
    v1 = power_iterate(gram, iterations=iterations)
    v2 = power_iterate(deflate_gram(gram, v1), iterations=iterations)

    v1_arr = long_array(v1)
    v2_arr = long_array(v2)

    def fold(arr) -> F.Column:
        return F.aggregate(F.zip_with("cvec", arr, lambda c, w: c * w),
                           F.lit(0).cast("long"), lambda acc, x: acc + x)

    return centered.select("vec_id",
                           fold(v1_arr).alias("proj1_units"),
                           fold(v2_arr).alias("proj2_units"))
