"""Round-6 query surface: manifest-sink read-back, Pareto skyline,
MAD-based robust anomaly detection, PMI collocations, shingle
containment, k-core peeling, nearest-in-time join, content-defined
chunking, conjunctive boolean retrieval, temperature-scaled domain
mixing, grid-blocked spatial KNN, per-partition table fingerprints,
sessionized funnels, watermark late-data audits, and
fingerprint-driven incremental recompute selection.

Reference parity: the reference (ilias-lp/canary-weather-etl README.md)
establishes the ingest → clean → aggregate analytics pipeline; these
queries extend the engine's analytics and training-data-curation
families with the robust-statistics, collocation-mining, asymmetric
near-dup, and graph-core primitives a corpus pipeline runs at 100 TB —
each expressed as declarative DataFrame plans with exact (or
deterministically-rounded) DuckDB oracle twins.

Float discipline (registry module docstring): medians/MAD and
lift/containment ratios carry interpolation or division noise →
round_det(6) on SURFACED values; comparisons and joins use the raw
doubles with identical IEEE evaluation order on both sides.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import round_det
from ..session import materialize
from .advanced_sql import coactivity_edges
from .registry import load, load_par, register


# --- manifest sink read-back -------------------------------------------------

@register(
    "q_manifest_sink_read",
    oracle="""
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    GROUP BY source, lang
    """,
    doc="Manifest-committed sink round trip (sources/manifest_sink.py): "
        "documents written through the Python DataSource WRITER "
        "(format 'manifest_jsonl' — executors write unique part files, "
        "the driver publishes _MANIFEST.json atomically), then read back "
        "via read_manifest_jsonl, which trusts ONLY manifest-listed "
        "files. The oracle aggregates the ORIGINAL parquet, so any row "
        "lost, duplicated, or mangled by the write/commit/read path "
        "breaks the hash — this gives the r5 writer surface a hard "
        "driver-hash row on top of its pytest coverage (orphan isolation "
        "is pytest-only: it needs a crashed job to stage).",
    tags=("source", "sink"),
)
def q_manifest_sink_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.manifest_sink import ManifestJsonlSink, read_manifest_jsonl

    spark.dataSource.register(ManifestJsonlSink)
    base = tempfile.mkdtemp(prefix="canary_manifest_read_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    path = os.path.join(base, "documents_manifest")
    (load(spark, sf_dir, "documents")
     .select("doc_id", "lang", "source", "n_chars")
     .write.format("manifest_jsonl").mode("overwrite").save(path))
    back = read_manifest_jsonl(
        spark, path,
        schema="doc_id bigint, lang string, source string, n_chars bigint")
    return (
        back.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("total_chars"),
             F.sum("doc_id").alias("id_sum"))
    )


# --- Pareto skyline ----------------------------------------------------------

@register(
    "q_skyline_pareto",
    oracle="""
    WITH pts AS (
        SELECT p_brand, p_size, p_retailprice, COUNT(*) AS n_parts
        FROM part GROUP BY 1, 2, 3
    )
    SELECT p_brand, p_size, p_retailprice AS price,
           CAST(n_parts AS BIGINT) AS n_parts
    FROM pts a
    WHERE NOT EXISTS (
        SELECT 1 FROM pts b
        WHERE b.p_brand = a.p_brand
          AND b.p_size >= a.p_size
          AND b.p_retailprice <= a.p_retailprice
          AND (b.p_size > a.p_size OR b.p_retailprice < a.p_retailprice))
    """,
    doc="Per-brand Pareto frontier (skyline): parts maximizing size while "
        "minimizing price; a point survives iff no same-brand point "
        "weakly dominates it with one strict improvement. The oracle is "
        "the textbook quadratic NOT EXISTS; the Spark plan is the "
        "SORT-BASED skyline — per-size min price, then a running min over "
        "sizes descending (window, 1-row lookback exclusive): a point is "
        "on the frontier iff it is its size's cheapest AND strictly "
        "cheaper than everything larger. Two shuffles on (brand) keys, "
        "zero self-joins — the 2-D skyline stays O(n log n) at 100 TB "
        "where the NOT EXISTS twin is O(n²) per brand.",
    tags=("analytics",),
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    # distinct-point aggregate materialized once: pts feeds the frontier
    # join AND the per-size rollup below — output-sized (distinct
    # (brand,size,price) triples), so the checkpoint is tiny and saves a
    # second scan-and-aggregate of part
    pts = (p.groupBy("p_brand", "p_size", "p_retailprice")
           .agg(F.count(F.lit(1)).alias("n_parts"))
           .transform(materialize))
    # cheapest point per (brand, size): within a size, any pricier point
    # is dominated by this one (same size, lower price). Derived from the
    # ALREADY-AGGREGATED pts, not a second scan of part — the aggregate-
    # of-aggregate is tiny and the shuffle on (brand,size,price) is
    # reused for the (brand,size) rollup
    szmin = (pts.groupBy("p_brand", "p_size")
             .agg(F.min("p_retailprice").alias("size_min")))
    # running min of size-minima over STRICTLY larger sizes (rows ...,-1
    # over the per-size rows sorted size-desc = all larger sizes)
    w = (Window.partitionBy("p_brand").orderBy(F.desc("p_size"))
         .rowsBetween(Window.unboundedPreceding, -1))
    frontier_sizes = (
        szmin.withColumn("larger_min", F.min("size_min").over(w))
        .filter(F.col("larger_min").isNull()
                | (F.col("size_min") < F.col("larger_min")))
        .select("p_brand", "p_size", "size_min")
    )
    return (
        pts.join(frontier_sizes, ["p_brand", "p_size"])
        .filter(F.col("p_retailprice") == F.col("size_min"))
        .select("p_brand", "p_size", F.col("p_retailprice").alias("price"),
                "n_parts")
    )


# --- MAD anomaly detection ---------------------------------------------------

@register(
    "q_anomaly_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, median(value) AS med FROM events
        WHERE value IS NOT NULL GROUP BY 1
    ), dev AS (
        SELECT e.event_type, ABS(e.value - m.med) AS adev, m.med
        FROM events e JOIN med m USING (event_type)
        WHERE e.value IS NOT NULL
    ), mad AS (
        SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           FLOOR(MAX(d.med) * 1e6 + 0.5) / 1e6 AS med,
           FLOOR(MAX(m.mad) * 1e6 + 0.5) / 1e6 AS mad,
           CAST(COUNT(CASE WHEN d.adev > 3 * m.mad THEN 1 END) AS BIGINT)
               AS n_anomalies
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
    doc="Robust anomaly detection per event type: median + MAD (median "
        "absolute deviation), flagging |value - median| > 3·MAD — the "
        "outlier rule that, unlike mean/stddev z-scores "
        "(q_zscore_grouped_pandas), is not itself dragged by the "
        "outliers it hunts. Two aggregate passes with broadcast joins of "
        "the tiny per-type stats between them; surfaced medians are "
        "round_det(6) but the THRESHOLD compare uses raw doubles with "
        "identical IEEE order on both sides. Exact percentile = full "
        "sort per group: correctness-scale; at 100 TB swap "
        "percentile_approx into the same shape (the sketch family "
        "q_approx_* pins that path).",
    tags=("analytics", "stats"),
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("event_type", "value"))
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"))
    # materialize the deviation projection: dev feeds the MAD aggregate
    # AND the final rollup — uncached that is a third full scan of the
    # fact. Robust stats need two passes minimum (median, then
    # deviations); materializing the 3-narrow-column dev table trades the
    # third scan for a compact spill, the standard choice at fact scale
    dev = (ev.join(F.broadcast(med), "event_type")
           .withColumn("adev", F.abs(F.col("value") - F.col("med")))
           .transform(materialize))
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             round_det(F.max("med"), 6).alias("med"),
             round_det(F.max("mad"), 6).alias("mad"),
             F.count(F.when(F.col("adev") > 3 * F.col("mad"), 1))
             .alias("n_anomalies"))
    )


# --- PMI collocations --------------------------------------------------------

@register(
    "q_pmi_bigrams",
    oracle=r"""
    WITH docs_t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           x -> x <> '') AS l
        FROM documents
    ), toks AS (
        SELECT doc_id, unnest(l) AS term,
               unnest(range(1, len(l) + 1)) AS ord
        FROM docs_t
    ), uni AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
    n_uni AS (SELECT COUNT(*) AS n FROM toks),
    bi AS (
        SELECT a.term AS w1, b.term AS w2, COUNT(*) AS c_ab
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
        GROUP BY 1, 2
    ), n_bi AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n FROM bi),
    scored AS (
        SELECT w1, w2, c_ab,
               FLOOR(((CAST(c_ab AS DOUBLE) * CAST(n_uni.n AS DOUBLE))
                       * CAST(n_uni.n AS DOUBLE))
                     / ((CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))
                        * CAST(n_bi.n AS DOUBLE))
                     * 1e6 + 0.5) / 1e6 AS lift
        FROM bi
        JOIN uni ua ON bi.w1 = ua.term
        JOIN uni ub ON bi.w2 = ub.term
        CROSS JOIN n_uni CROSS JOIN n_bi
        WHERE c_ab >= 10
    )
    SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab, lift, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY lift DESC, w1, w2)
                       AS INT) AS rank
        FROM scored
    ) WHERE rank <= 40
    """,
    doc="Collocation mining: top-40 word bigrams by PMI lift "
        "P(w1,w2)/(P(w1)P(w2)) with a min-count support floor — the "
        "phrase-detection primitive for tokenizer vocab induction and "
        "corpus analysis. Lift is surfaced instead of log-PMI: log is "
        "monotone, so the RANKING is identical while the score stays in "
        "ordered IEEE multiply/divide (no cross-engine libm ulp risk; "
        "identical parenthesization both sides, then round_det). Bigrams "
        "built JVM-side by zipping the word array against its own tail — "
        "no self-join; unigram/total counts ride along as broadcast "
        "one-row aggregates. Scale: vocab-sized aggregates, corpus "
        "touched once.",
    tags=("llm", "text"),
)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_par(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != "")
    docs_t = d.select("doc_id", words.alias("l"))
    toks = docs_t.select("doc_id", F.explode("l").alias("term"))
    bigrams = docs_t.select(
        F.explode(
            F.zip_with(
                F.slice("l", 1, F.greatest(F.size("l") - 1, F.lit(0))),
                F.slice("l", 2, F.greatest(F.size("l") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))
        .alias("p"))
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    # totals DERIVED from the vocab-sized aggregates, not second passes
    # over the exploded corpus: n_uni = Σ uni counts, n_bi = Σ bigram
    # counts pre-support-floor — each an agg over a tiny table, so the
    # corpus explode pipelines execute once per shape instead of twice
    n_uni = uni.agg(F.sum("c").cast("double").alias("__nu"))
    big = (bigrams.groupBy("p.w1", "p.w2")
           .agg(F.count(F.lit(1)).alias("c_ab"))
           .transform(materialize))  # feeds bi AND n_bi
    bi = big.filter(F.col("c_ab") >= 10)
    n_bi = big.agg(F.sum("c_ab").cast("double").alias("__nb"))
    ua = uni.select(F.col("term").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("term").alias("w2"), F.col("c").alias("c_b"))
    scored = (
        bi.join(F.broadcast(ua), "w1").join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(n_uni)).crossJoin(F.broadcast(n_bi))
        .withColumn(
            "lift",
            round_det(
                ((F.col("c_ab").cast("double") * F.col("__nu"))
                 * F.col("__nu"))
                / ((F.col("c_a").cast("double") * F.col("c_b").cast("double"))
                   * F.col("__nb")), 6))
    )
    # top-40 via sort+limit FIRST (TakeOrderedAndProject — per-partition
    # heaps, no global sort), then number the 40 survivors; a bare global
    # row_number window would drag every scored bigram into one partition
    top = scored.orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2")).limit(40)
    w = Window.orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("w1", "w2", "c_ab", "lift", "rank")
    )


# --- shingle containment -----------------------------------------------------

@register(
    "q_shingle_containment",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
                                   '\s+'), x -> x <> '') AS t
        FROM documents
    ), grams AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, t[i] || ' ' || t[i+1] AS shingle
            FROM (SELECT doc_id, t,
                         unnest(generate_series(1, len(t)-1)) AS i
                  FROM toks)
        )
    ), keep AS (
        SELECT shingle FROM grams GROUP BY shingle HAVING COUNT(*) <= 100
    ), g AS (
        SELECT grams.doc_id, grams.shingle FROM grams JOIN keep USING (shingle)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY 1
    ), common AS (
        SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS shared
        FROM g l JOIN g r ON l.shingle = r.shingle AND l.doc_id <> r.doc_id
        GROUP BY 1, 2
    )
    SELECT a, b, CAST(shared AS BIGINT) AS shared,
           FLOOR(CAST(shared AS DOUBLE) / sa.sz * 1e6 + 0.5) / 1e6
               AS containment
    FROM common JOIN sizes sa ON sa.doc_id = a
    WHERE CAST(shared AS DOUBLE) / sa.sz >= 0.6
    """,
    doc="ASYMMETRIC near-dup: shingle containment |S(a)∩S(b)| / |S(a)| "
        "≥ 0.6 over word-bigram shingles — catches a document CONTAINED "
        "in a longer one, which symmetric Jaccard "
        "(q_setjoin_auto_regime) misses when sizes differ widely; pairs "
        "are ORDERED (a-in-b and b-in-a are different facts). "
        "Document-frequency cap (shingles in > 100 docs dropped, "
        "mirrored exactly in the oracle) is the blocking lever: it "
        "removes the stopword-shingle hot keys that make the "
        "shared-shingle self-join quadratic — the same max-df move "
        "every inverted-index joiner uses. Exact integer counts → "
        "deterministic ratio.",
    tags=("llm", "dedup"),
)
def q_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_par(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams = (
        d.select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
                    F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
                    lambda a, b: F.concat_ws(" ", a, b))).alias("shingle"))
        .distinct()
    )
    keep = (grams.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= 100)
            .select("shingle"))
    # materialize the capped shingle table ONCE: g feeds sizes AND both
    # sides of the shared-shingle self-join — uncached, the whole
    # shingle+distinct+max-df pipeline would execute four times (the
    # recompute-before-self-join anti-pattern q_triangle_count hit in r5)
    g = materialize(grams.join(keep, "shingle"))
    sizes = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    l = g.select(F.col("doc_id").alias("a"), "shingle")
    r = g.select(F.col("doc_id").alias("b"), "shingle")
    common = (
        l.join(r, "shingle")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        common.join(sizes.select(F.col("doc_id").alias("a"),
                                 F.col("sz").alias("sz_a")), "a")
        .filter(F.col("shared").cast("double") / F.col("sz_a") >= 0.6)
        .select("a", "b", "shared",
                round_det(F.col("shared").cast("double") / F.col("sz_a"), 6)
                .alias("containment"))
    )


# --- k-core peeling ----------------------------------------------------------

_KCORE_K = 15
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Unrolled peel rounds over the co-activity graph — same
    fixed-iteration-twin pattern as the PageRank oracle."""
    prev = "a1"
    rounds = ["""
    a1 AS (SELECT a AS node FROM ed GROUP BY a HAVING COUNT(*) >= {k})
    """.format(k=_KCORE_K)]
    for i in range(2, _KCORE_ROUNDS + 1):
        rounds.append(f"""
    a{i} AS (
        SELECT e.a AS node FROM ed e
        JOIN {prev} x ON e.a = x.node
        JOIN {prev} y ON e.b = y.node
        GROUP BY e.a HAVING COUNT(*) >= {_KCORE_K})
    """)
        prev = f"a{i}"
    selects = " UNION ALL ".join(
        f"SELECT {i} AS round, CAST(COUNT(*) AS BIGINT) AS n_alive FROM a{i}"
        for i in range(1, _KCORE_ROUNDS + 1))
    return f"""
    WITH act AS (
        SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hb
        FROM events
    ), cells AS (
        SELECT event_type, hb FROM act GROUP BY 1, 2 HAVING COUNT(*) <= 40
    ), actf AS (
        SELECT a.user_id, a.event_type, a.hb
        FROM act a JOIN cells c USING (event_type, hb)
    ), e0 AS (
        SELECT x.user_id AS u1, y.user_id AS u2
        FROM actf x JOIN actf y
          ON x.event_type = y.event_type AND x.hb = y.hb
         AND x.user_id < y.user_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ), ed AS (
        SELECT u1 AS a, u2 AS b FROM e0 UNION ALL SELECT u2, u1 FROM e0
    ), {",".join(rounds)}
    {selects}
    """


@register(
    "q_kcore_peel",
    oracle=_kcore_oracle(),
    doc=f"k-core peeling (k={_KCORE_K}, {_KCORE_ROUNDS} fixed rounds) over "
        "the co-activity graph (coactivity_edges — the q_triangle_count "
        "graph): each round recomputes degrees over edges whose BOTH "
        "endpoints survived and drops nodes below k; the surviving-count "
        "sequence is the round-by-round cascade (108 → 75 → 43 → 4 at "
        "sf0.01 — a real avalanche, chosen near the graph's degeneracy). "
        "The dense-cohort extractor for curation and abuse graphs. "
        "Spark: per-round one semi-join-filtered degree aggregate, alive "
        "sets materialized (they feed BOTH the next round and their "
        "count row — the recompute-vs-materialize lesson from "
        "q_triangle_count r5); fixed rounds → unrolled SQL twin, exact "
        "integer counts. At 100 TB: rounds are Θ(diameter)-bounded "
        "passes of 2 shuffles each on stable keys, same shape as "
        "pagerank_fixed.",
    tags=("graph", "iterative"), bench=True,
)
def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialize the blocking pipeline ONCE — e0 feeds BOTH union
    # branches, so without this the whole edge build runs twice before
    # the ed checkpoint (the q_triangle_count r5 lesson)
    e0 = materialize(coactivity_edges(spark, sf_dir))
    ed = (e0.select(F.col("u1").alias("a"), F.col("u2").alias("b"))
          .unionAll(e0.select(F.col("u2").alias("a"), F.col("u1").alias("b")))
          .transform(materialize))
    counts = []
    alive = None
    for rnd in range(1, _KCORE_ROUNDS + 1):
        if alive is None:
            deg = ed.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        else:
            ax = alive.select(F.col("node").alias("a"))
            bx = alive.select(F.col("node").alias("b"))
            deg = (ed.join(ax, "a").join(bx, "b")
                   .groupBy("a").agg(F.count(F.lit(1)).alias("d")))
        alive = (deg.filter(F.col("d") >= _KCORE_K)
                 .select(F.col("a").alias("node"))
                 .transform(materialize))
        counts.append(alive.agg(
            F.lit(rnd).alias("round"),
            F.count(F.lit(1)).alias("n_alive")))
    out = counts[0]
    for c in counts[1:]:
        out = out.unionAll(c)
    return out


# --- nearest-in-time join ----------------------------------------------------

@register(
    "q_nearest_view",
    oracle="""
    WITH w AS (
        SELECT event_id, user_id, ts, event_type,
               last_value(CASE WHEN event_type = 'view' THEN ts END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_view,
               first_value(CASE WHEN event_type = 'view' THEN ts END
                           IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_view
        FROM events
    )
    SELECT event_id, user_id, ts,
           CASE WHEN next_view IS NULL THEN prev_view
                WHEN prev_view IS NULL THEN next_view
                WHEN epoch_us(ts) - epoch_us(prev_view)
                     <= epoch_us(next_view) - epoch_us(ts)
                     THEN prev_view ELSE next_view END AS nearest_view,
           CASE WHEN prev_view IS NULL AND next_view IS NULL THEN NULL
                WHEN next_view IS NULL
                     THEN epoch_us(ts) - epoch_us(prev_view)
                WHEN prev_view IS NULL
                     THEN epoch_us(next_view) - epoch_us(ts)
                ELSE LEAST(epoch_us(ts) - epoch_us(prev_view),
                           epoch_us(next_view) - epoch_us(ts)) END AS gap_us
    FROM w WHERE event_type = 'purchase'
    """,
    doc="Nearest-in-time join, BOTH directions: for every purchase, the "
        "closest 'view' event of the same user by |Δt| (ties → earlier). "
        "The as-of join (operators/temporal.py) answers 'latest at or "
        "before'; attribution wants NEAREST — and the join-free plan is "
        "one window pass: running last-view behind + first-view ahead "
        "(IGNORE NULLS frames), pick the smaller µs gap. One shuffle on "
        "user_id, state = two timestamps/row; no range join, no "
        "union-of-two-asof. Integer µs arithmetic → exact oracle.",
    tags=("temporal", "window"), bench=True,
)
def q_nearest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    order = [F.col("ts"), F.col("event_id")]
    wp = (Window.partitionBy("user_id").orderBy(*order)
          .rowsBetween(Window.unboundedPreceding, -1))
    wn = (Window.partitionBy("user_id").orderBy(*order)
          .rowsBetween(1, Window.unboundedFollowing))
    prev_us = F.unix_micros(F.col("prev_view"))
    next_us = F.unix_micros(F.col("next_view"))
    cur_us = F.unix_micros(F.col("ts"))
    w = (ev.select("event_id", "user_id", "ts", "event_type")
         .withColumn("prev_view", F.last(view_ts, ignorenulls=True).over(wp))
         .withColumn("next_view", F.first(view_ts, ignorenulls=True).over(wn)))
    return (
        w.filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id", "ts",
            F.when(F.col("next_view").isNull(), F.col("prev_view"))
             .when(F.col("prev_view").isNull(), F.col("next_view"))
             .when(cur_us - prev_us <= next_us - cur_us, F.col("prev_view"))
             .otherwise(F.col("next_view")).alias("nearest_view"),
            F.when(F.col("prev_view").isNull() & F.col("next_view").isNull(),
                   F.lit(None).cast("bigint"))
             .when(F.col("next_view").isNull(), cur_us - prev_us)
             .when(F.col("prev_view").isNull(), next_us - cur_us)
             .otherwise(F.least(cur_us - prev_us, next_us - cur_us))
             .alias("gap_us"))
    )


# --- content-defined chunking ------------------------------------------------

@register(
    "q_cdc_chunking",
    oracle=r"""
    WITH d AS (
        SELECT doc_id, lower(text) AS t, length(text) AS n FROM documents
    ), pos AS (
        SELECT doc_id, n,
               unnest(range(1, CASE WHEN n >= 16 THEN n - 16 + 2
                                    ELSE 1 END)) AS i,
               t
        FROM d
    ), b AS (
        SELECT doc_id, n, i FROM pos
        WHERE CAST(('0x' || substr(md5(substr(t, i, 16)), 1, 8)) AS BIGINT)
              % 64 = 0
    ), agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bounds,
               CAST(SUM(i) AS BIGINT) AS bound_checksum,
               CAST(MIN(i) AS BIGINT) AS first_bound
        FROM b GROUP BY doc_id
    )
    SELECT d.doc_id, d.n AS n_chars,
           COALESCE(agg.n_bounds, 0) + 1 AS n_chunks,
           COALESCE(agg.bound_checksum, 0) AS bound_checksum,
           agg.first_bound
    FROM d LEFT JOIN agg USING (doc_id)
    """,
    doc="Content-defined chunking (CDC): a chunk boundary wherever the "
        "hash of the 16-char window starting at i satisfies h % 64 == 0 "
        "— the Rabin-style content-addressed split storage dedup systems "
        "use, so an insertion early in a document shifts ONE chunk "
        "instead of re-chunking everything after it (contrast "
        "q_text_chunking's fixed token windows). Window hash = first 8 "
        "hex digits of md5, integer-compared — md5 and hex→int agree "
        "across engines (conv(...,16,10) vs '0x'||...::BIGINT), making "
        "an expected-64-char content-defined chunker exactly oracle-"
        "checkable. Spark side: per-doc boundary positions via "
        "F.filter over F.sequence — array expressions in the JVM, no "
        "explode, no shuffle until the final per-doc aggregate is "
        "already computed row-wise. Scale: embarrassingly row-parallel; "
        "at 100 TB the md5-per-window cost is the knob (swap for "
        "xxhash64 of the window when the oracle isn't in the loop).",
    tags=("llm", "text"),
)
def q_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_par(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))
    n = F.length("text")
    win_hash = (
        "cast(conv(substr(md5(substr(lower(text), i, 16)), 1, 8), 16, 10) "
        "as bigint) % 64 = 0")
    bounds = F.when(
        n >= 16,
        F.expr(f"filter(sequence(1, length(text) - 16 + 1), i -> {win_hash})")
    ).otherwise(F.array().cast("array<int>"))
    return d.select(
        "doc_id",
        n.alias("n_chars"),
        (F.size(bounds) + 1).cast("bigint").alias("n_chunks"),
        F.coalesce(
            F.aggregate(bounds, F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x.cast("bigint")),
            F.lit(0).cast("bigint")).alias("bound_checksum"),
        # try_element_at, not element_at: boundary-free docs have an empty
        # array and ANSI mode makes element_at ERROR on it — NULL is the
        # semantic here (no boundary), matching the oracle's MIN over an
        # empty group
        F.try_element_at(bounds, F.lit(1)).cast("bigint")
        .alias("first_bound"),
    )


# --- boolean retrieval -------------------------------------------------------

@register(
    "q_boolean_retrieval",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
        WHERE term IN ('merge', 'sort', 'filter')
        GROUP BY 1, 2
    ), hits AS (
        SELECT doc_id FROM tf WHERE tf >= 3
        GROUP BY doc_id HAVING COUNT(*) = 3
    )
    SELECT t.doc_id,
           MAX(CASE WHEN term = 'merge' THEN tf END) AS tf_merge,
           MAX(CASE WHEN term = 'sort' THEN tf END) AS tf_sort,
           MAX(CASE WHEN term = 'filter' THEN tf END) AS tf_filter,
           CAST(SUM(tf) AS BIGINT) AS total_tf
    FROM tf t JOIN hits USING (doc_id)
    GROUP BY t.doc_id
    """,
    doc="Conjunctive boolean retrieval with term-frequency thresholds: "
        "documents where EVERY query term {merge, sort, filter} occurs "
        ">= 3 times, with per-term tf pivoted wide — the inverted-index "
        "AND-query primitive (postings intersection) expressed "
        "relationally: explode only the query terms (the WHERE term IN "
        "pushes the vocabulary filter into the scan side of the "
        "aggregate), intersect via GROUP BY doc HAVING count = |query|. "
        "At 100 TB the posting lists are the only shuffled rows — "
        "corpus tokens that miss the query vocabulary never leave the "
        "map side.",
    tags=("llm", "text"),
)
def q_boolean_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    TERMS = ["merge", "sort", "filter"]
    d = load_par(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .alias("term"))
    # single pass: pivot the per-term tf wide in ONE aggregate, then the
    # AND-intersection is a conjunctive filter on the wide row — no
    # tf-vs-hits self-join, one scan, one shuffle (the tf>=3-per-term +
    # count=|query| HAVING the oracle spells out is equivalent to
    # "every per-term count >= 3")
    wide = (toks.filter(F.col("term").isin(TERMS))
            .groupBy("doc_id")
            .agg(*[F.count(F.when(F.col("term") == t, 1))
                   .alias(f"tf_{t}") for t in TERMS]))
    cond = (F.col("tf_merge") >= 3) & (F.col("tf_sort") >= 3) \
        & (F.col("tf_filter") >= 3)
    return wide.filter(cond).select(
        "doc_id", "tf_merge", "tf_sort", "tf_filter",
        (F.col("tf_merge") + F.col("tf_sort") + F.col("tf_filter"))
        .alias("total_tf"))


# --- temperature-scaled domain mixing ----------------------------------------

@register(
    "q_temperature_mix",
    oracle=r"""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
        GROUP BY source
    ), den AS (
        SELECT list_reduce(list_sort(list(sqrt(CAST(n_docs AS DOUBLE)))),
                           (a, x) -> a + x) AS den,
               CAST(SUM(n_docs) AS BIGINT) AS total
        FROM counts
    )
    SELECT c.source, c.n_docs,
           FLOOR(CAST(c.n_docs AS DOUBLE) / d.total * 1e6 + 0.5) / 1e6
               AS share,
           FLOOR(sqrt(CAST(c.n_docs AS DOUBLE)) / d.den * 1e6 + 0.5) / 1e6
               AS temp_weight
    FROM counts c CROSS JOIN den d
    """,
    doc="Temperature-scaled domain mixing (T = 2): sampling weight per "
        "source ∝ share^(1/T) = sqrt(n) — the standard flattening that "
        "up-weights small domains when mixing corpora for training "
        "(multilingual/source balance). sqrt is IEEE correctly-rounded "
        "(unlike pow/exp — no cross-engine libm risk), and the "
        "normalizing denominator is an ORDERED float fold: "
        "array_sort(collect_list(sqrt n)) reduced left-to-right, so both "
        "engines sum the same values in the same order — the same "
        "determinism move as the EWMA fold, here applied to make a "
        "global float reduction hash-stable. One aggregate + a "
        "broadcast one-row join; domain count is tiny at any corpus "
        "scale.",
    tags=("llm", "curation"),
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    den = counts.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.sqrt(F.col("n_docs")
                                               .cast("double")))),
            F.lit(0.0),
            lambda a, x: a + x).alias("den"),
        F.sum("n_docs").alias("total"))
    return (
        counts.crossJoin(F.broadcast(den))
        .select(
            "source", "n_docs",
            round_det(F.col("n_docs").cast("double") / F.col("total"), 6)
            .alias("share"),
            round_det(F.sqrt(F.col("n_docs").cast("double")) / F.col("den"),
                      6).alias("temp_weight"))
    )


# --- grid-blocked nearest neighbor -------------------------------------------

@register(
    "q_grid_knn",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS pkey,
               CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':x'),
                                    1, 8)) AS BIGINT) % 1000 AS x,
               CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':y'),
                                    1, 8)) AS BIGINT) % 1000 AS y
        FROM customer
    ), q AS (SELECT * FROM pts WHERE pkey % 97 = 0),
    qcells AS (
        SELECT pkey, x, y, (x // 50) + dx AS cx, (y // 50) + dy AS cy
        FROM q, unnest([-1, 0, 1]) t1(dx), unnest([-1, 0, 1]) t2(dy)
    ), cand AS (
        SELECT pkey AS nkey, x AS nx, y AS ny,
               x // 50 AS cx, y // 50 AS cy
        FROM pts
    ), pairs AS (
        SELECT qc.pkey, qc.x, qc.y, c.nkey,
               (qc.x - c.nx) * (qc.x - c.nx)
             + (qc.y - c.ny) * (qc.y - c.ny) AS dist2
        FROM qcells qc JOIN cand c USING (cx, cy)
        WHERE c.nkey <> qc.pkey
    ), ranked AS (
        SELECT pkey, nkey, dist2,
               ROW_NUMBER() OVER (PARTITION BY pkey ORDER BY dist2, nkey)
                   AS rn
        FROM pairs
    )
    SELECT q.pkey, q.x, q.y, r.nkey AS nearest_key, r.dist2
    FROM q LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r USING (pkey)
    """,
    doc="Grid-blocked nearest neighbor (spatial KNN, k=1): points on an "
        "integer 1000x1000 plane (md5-derived coordinates from customer "
        "keys — exact integer arithmetic, zero float risk), bucketed "
        "into 50-unit grid cells; each query point probes only its 3x3 "
        "neighborhood via an equi-join on cell id and takes the min "
        "(dist2, key). The geometric sibling of entity blocking: the "
        "cell equi-join replaces the all-pairs cross product, candidate "
        "volume = density x 9 cells per query regardless of corpus "
        "size. LEFT join totality: a query with an empty neighborhood "
        "surfaces as NULL nearest, never silently dropped. Semantics "
        "are NEAREST-WITHIN-NEIGHBORHOOD by construction (bounded "
        "search radius = cell size) — the standard grid-index contract; "
        "at 100 TB the cell id becomes the partition/sort key so the "
        "probe is co-located (same move as sources/bucketing.py).",
    tags=("analytics", "similarity"),
)
def q_grid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")

    def _coord(salt: str):
        return F.expr(
            "cast(conv(substr(md5(concat(cast(c_custkey as string), "
            f"'{salt}')), 1, 8), 16, 10) as bigint) % 1000")

    pts = c.select(F.col("c_custkey").alias("pkey"),
                   _coord(":x").alias("x"), _coord(":y").alias("y"))
    q = pts.filter(F.col("pkey") % 97 == 0)
    offs = F.array(F.lit(-1), F.lit(0), F.lit(1))
    qcells = (q.select("pkey", "x", "y",
                       F.explode(offs).alias("dx"))
              .select("pkey", "x", "y", "dx", F.explode(offs).alias("dy"))
              .select("pkey", "x", "y",
                      (F.expr("x div 50") + F.col("dx")).alias("cx"),
                      (F.expr("y div 50") + F.col("dy")).alias("cy")))
    cand = pts.select(F.col("pkey").alias("nkey"),
                      F.col("x").alias("nx"), F.col("y").alias("ny"),
                      F.expr("x div 50").alias("cx"),
                      F.expr("y div 50").alias("cy"))
    pairs = (
        qcells.join(cand, ["cx", "cy"])
        .filter(F.col("nkey") != F.col("pkey"))
        .select("pkey", "nkey",
                ((F.col("x") - F.col("nx")) * (F.col("x") - F.col("nx"))
                 + (F.col("y") - F.col("ny")) * (F.col("y") - F.col("ny")))
                .alias("dist2"))
    )
    w = Window.partitionBy("pkey").orderBy("dist2", "nkey")
    best = (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("pkey", F.col("nkey").alias("nearest_key"), "dist2"))
    return q.join(best, "pkey", "left").select(
        "pkey", "x", "y", "nearest_key", "dist2")


# --- per-partition table fingerprint -----------------------------------------

@register(
    "q_partition_fingerprint",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(CAST(('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' ||
               o_orderstatus || '|' ||
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR) || '|' ||
               o_orderpriority), 1, 15)) AS BIGINT)) AS fp
    FROM orders
    GROUP BY 1
    """,
    doc="Per-partition table fingerprint: month-grain row counts + an "
        "ORDER-INSENSITIVE content checksum (bit_xor of a 60-bit "
        "md5-derived integer per row) — the anti-entropy primitive for "
        "reconciling table copies across regions/engines at 100 TB: "
        "compare the tiny fingerprint table first, re-scan only months "
        "whose fp differs. XOR is commutative/associative, so the "
        "aggregate is partitioning- and retry-invariant (same "
        "reproducibility argument as the integer PageRank); the row "
        "digest uses only integer/string/date columns cast identically "
        "in both engines (doubles excluded by design — their text forms "
        "are not portable, the SURVEY §7.2 discipline). Partial "
        "aggregation XORs map-side, so the exchange moves one row per "
        "(partition, month).",
    tags=("analytics", "quality"),
)
def q_partition_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    digest = F.expr(
        "cast(conv(substr(md5(concat("
        "cast(o_orderkey as string), '|', "
        "cast(o_custkey as string), '|', "
        "o_orderstatus, '|', "
        "cast(cast(o_orderdate as date) as string), '|', "
        "o_orderpriority)), 1, 15), 16, 10) as bigint)")
    return (
        o.groupBy(F.date_trunc("month", "o_orderdate").cast("date")
                  .alias("month"))
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.expr("bit_xor("
                    "cast(conv(substr(md5(concat("
                    "cast(o_orderkey as string), '|', "
                    "cast(o_custkey as string), '|', "
                    "o_orderstatus, '|', "
                    "cast(cast(o_orderdate as date) as string), '|', "
                    "o_orderpriority)), 1, 15), 16, 10) as bigint))")
             .alias("fp"))
    )


# --- sessionized funnel ------------------------------------------------------

@register(
    "q_session_funnel",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_type, event_id,
               CASE WHEN ts - lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                        > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ), sess AS (
        SELECT user_id, ts, event_type,
               SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sess_id
        FROM ordered
    ), per_sess AS (
        SELECT user_id, sess_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
        FROM sess GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(t_view) AS BIGINT) AS n_view,
           CAST(COUNT(CASE WHEN t_click > t_view THEN 1 END) AS BIGINT)
               AS n_view_then_click,
           CAST(COUNT(CASE WHEN t_buy > t_click AND t_click > t_view
                           THEN 1 END) AS BIGINT) AS n_full_funnel
    FROM per_sess
    """,
    doc="SESSIONIZED funnel: view → click → purchase ordered within one "
        "30-minute-gap session — the attribution-correct variant of "
        "q_events_funnel, whose per-user lifetime first-times credit a "
        "conversion to a view from weeks earlier. Composition of two "
        "existing shapes: gaps-and-islands sessionization (lag + "
        "cumulative sum of session starts) feeding the conditional-MIN "
        "funnel aggregate; one shuffle on user_id serves both windows "
        "AND the session aggregate (same partitioning reused across "
        "stages — the Exchange-reuse pattern pinned in "
        "tests/test_r5_ops.py). BOTH windows order by (ts, event_id): a "
        "session boundary can land on the first of several equal-ts "
        "rows, so the running session counter is ambiguous under "
        "ts-only ordering — the tie-break makes session assignment "
        "deterministic and engine-portable.",
    tags=("analytics", "events"),
)
def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = (Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0))
    prev_ts = F.lag("ts").over(wo)
    new_sess = F.when(
        prev_ts.isNull()
        | (F.col("ts").cast("long") - prev_ts.cast("long") > 1800),
        1).otherwise(0)
    sess = (ev.select("user_id", "ts", "event_type", "event_id")
            .withColumn("new_sess", new_sess)
            .withColumn("sess_id", F.sum("new_sess").over(wrun)))
    per_sess = (
        sess.groupBy("user_id", "sess_id")
        .agg(F.min(F.when(F.col("event_type") == "view", F.col("ts")))
             .alias("t_view"),
             F.min(F.when(F.col("event_type") == "click", F.col("ts")))
             .alias("t_click"),
             F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
             .alias("t_buy"))
    )
    return per_sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count("t_view").alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1))
        .alias("n_view_then_click"),
        F.count(F.when((F.col("t_buy") > F.col("t_click"))
                       & (F.col("t_click") > F.col("t_view")), 1))
        .alias("n_full_funnel"),
    )


# --- late-data accounting ----------------------------------------------------

@register(
    "q_watermark_late_audit",
    oracle="""
    WITH arr AS (
        SELECT event_type, ts,
               MAX(ts) OVER (PARTITION BY event_type ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS high_water
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(CASE WHEN epoch_us(ts)
                         < epoch_us(high_water) - 7200000000 THEN 1 END)
                AS BIGINT) AS n_late,
           CAST(MAX(epoch_us(high_water) - epoch_us(ts)) AS BIGINT)
               AS max_lag_us
    FROM arr
    GROUP BY event_type
    """,
    doc="Watermark late-data audit (the batch twin of the streaming "
        "watermark policy in streaming/jobs.py): replay each shard's "
        "ARRIVAL order (event_id) tracking the running event-time "
        "high-water mark; an event is late iff its event time trails the "
        "mark by more than the 2 h watermark — exactly the rows "
        "`withWatermark('ts', '2 hours')` would drop. Run BEFORE "
        "choosing a production watermark: n_late/max_lag tell you the "
        "horizon that bounds state without silently shedding data. "
        "Shard = event_type here (the fixture's partition key); in "
        "production the shard key is the source partition, so the "
        "running-max window parallelizes per shard — arrival replay is "
        "inherently sequential WITHIN a shard, never across shards. "
        "Integer µs arithmetic → exact oracle.",
    tags=("streaming", "quality"),
)
def q_watermark_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (Window.partitionBy("event_type").orderBy("event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    arr = ev.select(
        "event_type", "ts",
        F.max("ts").over(w).alias("high_water"))
    lag_us = F.unix_micros(F.col("high_water")) - F.unix_micros(F.col("ts"))
    return (
        arr.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.count(F.when(lag_us > 7_200_000_000, 1)).alias("n_late"),
             F.max(lag_us).alias("max_lag_us"))
    )


# --- fingerprint-driven incremental recompute --------------------------------

@register(
    "q_incremental_recompute",
    oracle="""
    WITH digest AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               CAST(('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|' || o_orderpriority),
                   1, 15)) AS BIGINT) AS d_old,
               CAST(('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|' ||
                   CASE WHEN o_orderkey % 1000 = 7 THEN 'REPRIORITIZED'
                        ELSE o_orderpriority END), 1, 15)) AS BIGINT) AS d_new
        FROM orders
    ), fp AS (
        SELECT month, bit_xor(d_old) AS fp_old, bit_xor(d_new) AS fp_new,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM digest GROUP BY month
    )
    SELECT CAST(month AS DATE) AS month, n_rows,
           CAST(fp_old <> fp_new AS BOOLEAN) AS needs_recompute
    FROM fp
    """,
    doc="Fingerprint-driven incremental recompute selection — the "
        "workflow q_partition_fingerprint's checksums exist FOR: given "
        "the table before and after an upstream change (simulated "
        "in-plan: orders with key % 1000 = 7 get a new priority), XOR "
        "row digests per month and flag exactly the months whose "
        "fingerprint moved. Downstream pipelines rebuild ONLY flagged "
        "months — at 100 TB this turns a full-table recompute into "
        "touched-partition work, with the untouched months' equality "
        "PROVEN by the checksum rather than assumed from upstream "
        "bookkeeping. Both digests ride one scan (two md5 columns, one "
        "aggregate); the diff never materializes row-level data.",
    tags=("analytics", "quality"),
)
def q_incremental_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    new_prio = F.when(F.col("o_orderkey") % 1000 == 7,
                      F.lit("REPRIORITIZED")).otherwise(F.col("o_orderpriority"))

    def _digest(prio_col: F.Column) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(F.concat(F.col("o_orderkey").cast("string"),
                               F.lit("|"), prio_col)), 1, 15),
            16, 10).cast("bigint")

    d = o.select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        _digest(F.col("o_orderpriority")).alias("d_old"),
        _digest(new_prio).alias("d_new"))
    return (
        d.groupBy("month")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             (F.expr("bit_xor(d_old)") != F.expr("bit_xor(d_new)"))
             .alias("needs_recompute"))
        .select("month", "n_rows", "needs_recompute")
    )


# --- chunk-level dedup over CDC chunks ---------------------------------------

@register(
    "q_cdc_chunk_dedup",
    oracle=r"""
    WITH d AS (
        SELECT doc_id, lower(text) AS t, length(text) AS n FROM documents
    ), pos AS (
        SELECT doc_id, n, t,
               unnest(range(1, CASE WHEN n >= 16 THEN n - 16 + 2
                                    ELSE 1 END)) AS i
        FROM d
    ), b AS (
        SELECT doc_id, i FROM pos
        WHERE CAST(('0x' || substr(md5(substr(t, i, 16)), 1, 8)) AS BIGINT)
              % 64 = 0
    ), bounds AS (
        SELECT d.doc_id, d.t, d.n, COALESCE(bl.bs, []) AS bs
        FROM d LEFT JOIN (SELECT doc_id, list_sort(list(i)) AS bs
                          FROM b GROUP BY doc_id) bl USING (doc_id)
    ), ck AS (
        SELECT doc_id, unnest(list_prepend(1, bs)) AS s,
               unnest(list_append(bs, n + 1)) AS e, t
        FROM bounds
    ), chunks AS (
        SELECT doc_id, substr(t, s, e - s) AS chunk FROM ck
        WHERE e - s >= 16
    )
    SELECT substr(md5(chunk), 1, 16) AS chunk_key,
           CAST(COUNT(*) AS BIGINT) AS n_occ,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(length(any_value(chunk)) AS BIGINT) AS chunk_len
    FROM chunks
    GROUP BY chunk_key HAVING COUNT(*) > 1
    ORDER BY n_occ DESC, chunk_key LIMIT 20
    """,
    doc="Chunk-level dedup over content-defined chunks — the reason CDC "
        "exists: split every document at the q_cdc_chunking boundary "
        "rule, hash each chunk, and surface the chunks shared across "
        "documents (top-20 by occurrence). Sub-document granularity "
        "catches the boilerplate/quote/near-dup overlap that whole-doc "
        "hashing misses and that content-defined boundaries keep STABLE "
        "under insertions (a fixed-width splitter would misalign every "
        "chunk after an edit). Sub-window fragments (< 16 chars, "
        "boundary-adjacent tails) are excluded — they are split "
        "artifacts, not content. Spark side: boundary positions + chunk "
        "slicing are pure array expressions per row (filter/sequence → "
        "zip_with substrings, no explode until chunks exist); the only "
        "shuffle is the 16-byte chunk-key aggregate — documents "
        "themselves never shuffle. The storage-dedup / "
        "training-corpus-decontamination primitive at sub-doc grain.",
    tags=("llm", "dedup"),
)
def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_par(spark, sf_dir, "documents")
    win_hash = (
        "cast(conv(substr(md5(substr(t, i, 16)), 1, 8), 16, 10) "
        "as bigint) % 64 = 0")
    chunks_expr = f"""
        filter(
            zip_with(
                array_prepend(__bounds, 1),
                array_append(__bounds, length(t) + 1),
                (s, e) -> substr(t, s, e - s)),
            c -> length(c) >= 16)
    """
    bounds = F.when(
        F.length("t") >= 16,
        F.expr(f"filter(sequence(1, length(t) - 16 + 1), i -> {win_hash})")
    ).otherwise(F.array().cast("array<int>"))
    chunks = (
        d.select("doc_id", F.lower(F.col("text")).alias("t"))
        .withColumn("__bounds", bounds)
        .select("doc_id", F.explode(F.expr(chunks_expr)).alias("chunk"))
    )
    return (
        chunks.groupBy(F.substring(F.md5("chunk"), 1, 16).alias("chunk_key"))
        .agg(F.count(F.lit(1)).alias("n_occ"),
             F.countDistinct("doc_id").alias("n_docs"),
             F.length(F.any_value("chunk")).cast("bigint").alias("chunk_len"))
        .filter(F.col("n_occ") > 1)
        .orderBy(F.desc("n_occ"), "chunk_key")
        .limit(20)
    )


# --- per-dimension embedding statistics --------------------------------------

@register(
    "q_embedding_dim_stats",
    oracle="""
    WITH comp AS (
        SELECT unnest(embedding) AS x,
               unnest(range(1, len(embedding) + 1)) AS dim
        FROM embeddings
    )
    SELECT CAST(dim AS INT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(AVG(CAST(x AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS mean,
           CAST(MIN(x) AS DOUBLE) AS min_v,
           CAST(MAX(x) AS DOUBLE) AS max_v
    FROM comp GROUP BY dim
    """,
    doc="Per-dimension embedding corpus statistics: posexplode each "
        "vector into (dim, component) and aggregate n/mean/min/max per "
        "dimension — the drift/collapse diagnostic run before trusting a "
        "similarity index (a dimension whose variance collapses or whose "
        "range explodes flags a broken encoder or a normalization "
        "regression; at 100 TB you run THIS before rebuilding an IVF/LSH "
        "index on a refreshed corpus). One explode + one 64-key "
        "aggregate — partial aggregation reduces each partition to "
        "dim-count rows, so the exchange is KBs regardless of corpus "
        "size. Mean carries float-reduction noise at the 1e-13 level on "
        "~1-magnitude components → round_det(6) is seven orders of "
        "margin; min/max are exact (float32 values widen exactly).",
    tags=("llm", "similarity", "quality"),
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_par(spark, sf_dir, "embeddings")
    comp = e.select(
        F.posexplode("embedding").alias("pos", "x"))
    return (
        comp.select((F.col("pos") + 1).cast("int").alias("dim"),
                    F.col("x").cast("double").alias("x"))
        .groupBy("dim")
        .agg(F.count(F.lit(1)).alias("n"),
             round_det(F.avg("x"), 6).alias("mean"),
             F.min("x").alias("min_v"),
             F.max("x").alias("max_v"))
    )


# --- MAD anomaly detection, sketch path --------------------------------------

@register(
    "q_anomaly_mad_approx",
    oracle=None,  # approx_percentile is a deterministic GK sketch, but
                  # engine-specific — no cross-engine SQL twin exists;
                  # agreement with the exact path is pinned in pytest
    doc="The 100 TB path q_anomaly_mad's docstring names: same robust "
        "median+MAD outlier rule with approx_percentile (Greenwald-"
        "Khanna sketch, accuracy 10000 ≈ 0.01% rank error) replacing the "
        "exact full-sort percentile. The sketch is mergeable, so each "
        "pass stays one partial-aggregate shuffle with bounded memory "
        "per group — no per-group sort at any scale. Deterministic for "
        "fixed data/partitioning but engine-specific → rows-only; "
        "tests/test_r6_ops.py pins that its anomaly counts agree with "
        "the exact path on the fixture (rank error far below the 3-MAD "
        "decision boundary for non-degenerate distributions).",
    tags=("analytics", "stats", "sketch"),
)
def q_anomaly_mad_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("event_type", "value"))
    med = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("med"))
    dev = (ev.join(F.broadcast(med), "event_type")
           .withColumn("adev", F.abs(F.col("value") - F.col("med")))
           .transform(materialize))
    mad = dev.groupBy("event_type").agg(
        F.expr("approx_percentile(adev, 0.5, 10000)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             round_det(F.max("med"), 6).alias("med"),
             round_det(F.max("mad"), 6).alias("mad"),
             F.count(F.when(F.col("adev") > 3 * F.col("mad"), 1))
             .alias("n_anomalies"))
    )
