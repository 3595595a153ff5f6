"""Round-7 query surface: fixed-point k-means clustering (semantic
dedup's clustering primitive), single-source BFS hop levels, EXACT
prefix-filtered set-similarity join (PPJoin), winsorized robust
statistics, Spark 4 SQL UDFs (scalar + table), an Arrow-native
``mapInArrow`` fixed-point norm pipeline, zone-map data-skipping
statistics, and language-balanced corpus sampling.

Reference parity: the reference (ilias-lp/canary-weather-etl README.md)
establishes the ingest → clean → aggregate pipeline; these queries
extend the engine's training-data-curation and analytics families with
the clustering / reachability / exact-similarity-at-scale / robust-stats
primitives a 100 TB corpus pipeline needs, each as a declarative
DataFrame plan with a DuckDB oracle twin.

Determinism discipline (registry module docstring): everything additive
here is integer fixed-point (order-free sums → bit-exact vs the oracle);
the two genuinely-float surfaces (winsorized means, Jaccard ratios) are
single-op row-wise doubles or round_det(6)-rounded aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from ..operators import clustering as C
from ..operators import dedup as D
from ..operators import graph as G
from ..operators import similarity as S
from .llm import _JACCARD_SQL
from .registry import load, load_par, register


# --- fixed-point k-means (Lloyd) ---------------------------------------------

def _kmeans_oracle(k: int = 4, iterations: int = 3,
                   scale: int = 1_000_000,
                   final_select: str | None = None) -> str:
    """Unrolled-iteration SQL twin of operators.clustering.kmeans_fixed:
    same quantization, same init (vec_id < k), same argmin tie-break
    (dist, cid), same FLOOR(sum/n) centroid update, same empty-cluster
    carry (LEFT JOIN + COALESCE). ``final_select`` swaps the tail query
    over the exposed CTEs (afin = final assignment with dist, med =
    per-cluster medoid) — q_semantic_dedup reuses the whole prefix."""
    parts = [f"""
    q AS (
        SELECT vec_id, u.ord AS ord,
               CAST(FLOOR(CAST(u.val AS DOUBLE) * {scale} + 0.5) AS BIGINT)
                   AS qv
        FROM (SELECT vec_id,
                     unnest(list_transform(embedding,
                            (x, i) -> {{'val': x, 'ord': i}})) AS u
              FROM embeddings)
    ),
    c0 AS (SELECT CAST(vec_id AS INT) AS cid, ord, qv AS cv
           FROM q WHERE vec_id < {k})"""]
    for t in range(1, iterations + 1):
        parts.append(f"""
    d{t} AS (
        SELECT q.vec_id, c.cid,
               CAST(SUM((q.qv - c.cv) * (q.qv - c.cv)) AS BIGINT) AS dist
        FROM q JOIN c{t - 1} c ON q.ord = c.ord
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
            FROM a{t} a JOIN q ON q.vec_id = a.vec_id
            GROUP BY a.cid, q.ord) s
        ON s.cid = p.cid AND s.ord = p.ord
    )""")
    parts.append(f"""
    dfin AS (
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
    ),
    med AS (
        SELECT cid, vec_id AS medoid_vec_id FROM (
            SELECT cid, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY cid
                                      ORDER BY dist, vec_id) AS rn
            FROM afin) WHERE rn = 1
    )""")
    if final_select is None:
        final_select = """
    SELECT a.cid AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(a.dist) AS BIGINT) AS inertia_units,
           MIN(m.medoid_vec_id) AS medoid_vec_id
    FROM afin a JOIN med m ON m.cid = a.cid
    GROUP BY a.cid
    """
    return f"""
    WITH {','.join(parts)}
    {final_select}
    """


@register(
    "q_kmeans_lloyd",
    oracle=_kmeans_oracle(k=4, iterations=3),
    doc="Three-iteration Lloyd k-means (k=4) over the embeddings table in "
        "integer fixed-point (1e6 units per 1.0) — the semantic-clustering "
        "primitive behind embedding-space corpus curation (semantic dedup "
        "keeps each cluster's medoid). An ITERATIVE ML algorithm bit-exact "
        "against an unrolled SQL oracle, same discipline as "
        "q_pagerank_purchases. Scale shape (operators/clustering.py): "
        "centroids are k·dims driver-side integers re-broadcast as literal "
        "arrays each round; assignment is a zero-shuffle codegen fold "
        "(zip_with + aggregate + array_min over (dist,cid) structs); the "
        "update is one posexplode + groupBy(cluster,dim) aggregate whose "
        "map-side combine reduces the shuffle to k·dims rows per input "
        "partition — MLlib's broadcast-centroid shape, declaratively.",
    tags=("llm", "clustering", "iterative"), bench=True,
)
def q_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_par(spark, sf_dir, "embeddings")
    qdf = C.quantize_vectors(emb)
    # one quantize projection feeds init + 3 iterations + final assignment
    # (5 consumers): localCheckpoint at test scale (blocks release on GC —
    # a long driver session running all registry queries must not
    # accumulate pinned cache); at 100 TB you'd pre-materialize the
    # quantized table once
    qdf = qdf.localCheckpoint(eager=True)
    asg, _cent = C.kmeans_fixed(qdf, k=4, iterations=3)
    return C.kmeans_cluster_profile(asg)


# --- single-source BFS hop levels ---------------------------------------------

_BFS_ORACLE = """
    WITH RECURSIVE act0 AS (
        SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hb
        FROM events
    ),
    cellsz AS (
        SELECT event_type, hb FROM act0
        GROUP BY 1, 2 HAVING COUNT(*) <= 40
    ),
    act AS (
        SELECT a.user_id, a.event_type, a.hb
        FROM act0 a JOIN cellsz c
          ON a.event_type = c.event_type AND a.hb = c.hb
    ),
    e AS (
        SELECT a.user_id AS u1, b.user_id AS u2
        FROM act a JOIN act b
          ON a.hb = b.hb AND a.event_type = b.event_type
         AND a.user_id < b.user_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= 3
    ),
    edges AS (
        SELECT u1 AS src, u2 AS dst FROM e
        UNION ALL
        SELECT u2 AS src, u1 AS dst FROM e
    ),
    s AS (SELECT MIN(src) AS node FROM edges),
    walk(node, hop) AS (
        SELECT node, 0 FROM s
        UNION
        SELECT ed.dst, w.hop + 1
        FROM walk w JOIN edges ed ON ed.src = w.node
        WHERE w.hop < 4
    ),
    lev AS (SELECT node, MIN(hop) AS hop FROM walk GROUP BY node)
    SELECT hop,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(node) AS BIGINT) AS id_sum
    FROM lev GROUP BY hop
"""


@register(
    "q_bfs_reach",
    oracle=_BFS_ORACLE,
    doc="Single-source BFS hop levels (≤4 hops) over the co-activity user "
        "graph (same edge derivation as q_triangle_count / q_kcore_peel: "
        "users adjacent iff ≥3 shared (hour,event_type) cells), from the "
        "smallest node id — multi-hop reachability, the primitive behind "
        "contamination-spread and 'within k hops' audits. Spark side "
        "(operators/graph.py:bfs_hop_levels): frontier expansion, per hop "
        "one equi-join + distinct + left_anti vs the checkpointed visited "
        "set; min-hop semantics are partitioning-invariant. Oracle: "
        "recursive CTE with UNION dedup (bounded by nodes × hops).",
    tags=("graph", "iterative"),
)
def q_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .advanced_sql import coactivity_edges
    e = coactivity_edges(spark, sf_dir)
    both = e.select(F.col("u1").alias("src"), F.col("u2").alias("dst")).union(
        e.select(F.col("u2").alias("src"), F.col("u1").alias("dst")))
    lev = G.bfs_hop_levels(both, max_hops=4)
    return (lev.groupBy("hop")
            .agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.sum("node").alias("id_sum")))


# --- EXACT prefix-filtered set-similarity join (PPJoin) -----------------------

@register(
    "q_setjoin_prefix_filter",
    oracle=_JACCARD_SQL,
    doc="EXACT word-bigram Jaccard pairs (≥0.5) via PPJoin prefix+"
        "positional filtering (operators/dedup.py:prefix_filter_candidates):"
        " shingles globally ordered rarest-first, each document joins only "
        "on its prefix of length |s|−⌈τ·|s|⌉+1, the positional filter "
        "drops pairs whose shared-token ranks cap the achievable overlap "
        "below ⌈τ/(1+τ)·(|a|+|b|)⌉, survivors verify with array-intersect "
        "Jaccard. Runs dedup.near_dup_pairs_exact with a negative "
        "all-pairs budget, which forces the prefix path; "
        "q_setjoin_auto_regime runs the same chooser with its default "
        "budget, which takes the all-pairs join at this scale, so the "
        "two entries check both physical paths against one oracle. "
        "Regime (measured, scripts/setjoin_scale.py + SCALE.md): on "
        "SKEWED token frequencies — real corpora, where boilerplate "
        "shingles shared by every document make the count-based all-pairs "
        "join quadratic — hot shingles never enter any prefix and this is "
        "the exact-join scale path; on the near-uniform synthetic fixture "
        "(no rare tokens → dense candidates) the count-based join wins "
        "instead. Candidate-reduction and equality-vs-exact pinned in "
        "pytest.",
    tags=("llm", "dedup"),
)
def q_setjoin_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_par(spark, sf_dir, "documents")
    return D.near_dup_pairs_exact(d, "doc_id", "text", n=2, threshold=0.5,
                                  allpairs_candidate_budget=-1)


# --- winsorized robust statistics ---------------------------------------------

_WINSOR_ORACLE = """
    WITH p AS (
        SELECT event_type,
               percentile_disc(0.05) WITHIN GROUP (ORDER BY value) AS p05,
               percentile_disc(0.95) WITHIN GROUP (ORDER BY value) AS p95
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN e.value < p.p05 OR e.value > p.p95
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           MIN(p.p05) AS p05,
           MIN(p.p95) AS p95,
           CAST(SUM(CAST(ROUND(LEAST(GREATEST(e.value, p.p05), p.p95)
                               * 100) AS BIGINT)) AS DOUBLE)
               / 100 / COUNT(*) AS winsor_mean
    FROM events e JOIN p ON e.event_type = p.event_type
    GROUP BY e.event_type
"""


@register(
    "q_winsorize_robust",
    oracle=_WINSOR_ORACLE,
    doc="Winsorized (5%/95%-clipped) per-group statistics — the robust "
        "mean a quality pipeline uses when MAD (q_anomaly_mad) flags heavy "
        "tails. percentile_disc returns actual data values (exact "
        "cross-engine); the clip is row-wise LEAST/GREATEST; the clipped "
        "mean uses the repo's exact-cents pattern (integer sum, "
        "order-free — the clip of a 2-decimal value is a 2-decimal "
        "value, so functions.exact_sum discipline applies verbatim). "
        "Plan: one exact-percentile aggregate (tiny: |groups| rows) "
        "broadcast back onto the fact scan — two shuffles total, the "
        "second with map-side partial aggregation.",
    tags=("agg", "analytics"),
)
def q_winsorize_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events_w7")
    return spark.sql("""
        WITH p AS (
            SELECT event_type,
                   percentile_disc(0.05) WITHIN GROUP (ORDER BY value)
                       AS p05,
                   percentile_disc(0.95) WITHIN GROUP (ORDER BY value)
                       AS p95
            FROM events_w7 GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN e.value < p.p05 OR e.value > p.p95
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
               MIN(p.p05) AS p05,
               MIN(p.p95) AS p95,
               CAST(SUM(CAST(ROUND(LEAST(GREATEST(e.value, p.p05), p.p95)
                                   * 100) AS BIGINT)) AS DOUBLE)
                   / 100 / COUNT(*) AS winsor_mean
        FROM events_w7 e JOIN p ON e.event_type = p.event_type
        GROUP BY e.event_type
    """)


# --- Spark 4 SQL UDFs (scalar + table) ----------------------------------------

@register(
    "q_sql_udf",
    oracle="""
    SELECT l_returnflag,
           CASE WHEN l_quantity >= 40 THEN 'bulk'
                WHEN l_quantity >= 10 THEN 'mid'
                ELSE 'small' END AS tier,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    GROUP BY l_returnflag, tier
    """,
    doc="Spark 4 SQL user-defined functions (CREATE TEMPORARY FUNCTION "
        "... RETURNS ... RETURN expr): a scalar discount-price UDF and a "
        "scalar CASE tier UDF applied over lineitem. SQL UDFs are inlined "
        "by the analyzer into the calling plan — unlike Python UDFs they "
        "cost nothing at 100 TB (full codegen, pushdown through them "
        "works). Revenue is summed in integer cents (row-wise "
        "FLOOR(x*100+0.5) is deterministic; integer sums are order-free) "
        "so the hash is exact without round_det.",
    tags=("sql", "scalar"),
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_u7")
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION disc_price_cents(
            p DOUBLE, d DOUBLE) RETURNS BIGINT
        RETURN CAST(FLOOR(p * (1.0 - d) * 100 + 0.5) AS BIGINT)
    """)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION qty_tier(q DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN q >= 40 THEN 'bulk'
                    WHEN q >= 10 THEN 'mid'
                    ELSE 'small' END
    """)
    return spark.sql("""
        SELECT l_returnflag,
               qty_tier(l_quantity) AS tier,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               SUM(disc_price_cents(l_extendedprice, l_discount))
                   AS revenue_cents
        FROM lineitem_u7
        GROUP BY l_returnflag, tier
    """)


# --- Arrow-native fixed-point norms (mapInArrow) -------------------------------

@register(
    "q_arrow_normalize",
    oracle="""
    WITH q AS (
        SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS ssq_units
        FROM (SELECT vec_id,
                     CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000
                                + 0.5) AS BIGINT) AS qv
              FROM embeddings)
        GROUP BY vec_id
    )
    SELECT vec_id, ssq_units,
           CAST(FLOOR(SQRT(CAST(ssq_units AS DOUBLE))) AS BIGINT)
               AS norm_units
    FROM q
    ORDER BY ssq_units DESC, vec_id
    LIMIT 20
    """,
    doc="Top-20 embedding L2 norms via mapInArrow "
        "(operators/similarity.py:arrow_quantized_norms) — the Arrow-NATIVE "
        "batch path: record batches flow Tungsten→Arrow→numpy views with "
        "no pandas materialization, segment sums vectorize over the Arrow "
        "list offsets (cumsum-diff), zero per-row Python. Fixed-point "
        "int64 sums make the result invariant to batch boundaries and "
        "bit-exact vs the oracle — which is what makes an Arrow UDF "
        "hash-checkable at all. One narrow stage + TakeOrdered.",
    tags=("llm", "similarity", "arrow"),
)
def q_arrow_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_par(spark, sf_dir, "embeddings")
    return (S.arrow_quantized_norms(emb)
            .orderBy(F.col("ssq_units").desc(), "vec_id")
            .limit(20))


# --- zone-map data-skipping statistics ------------------------------------------

_ZONEMAP_ORACLE = """
    WITH ranked AS (
        SELECT o_orderdate,
               (ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) - 1)
                   // 750 AS zone_date,
               (ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1)
                   // 750 AS zone_key
        FROM orders
    ),
    layouts AS (
        SELECT 'date_sorted' AS layout, zone_date AS zone, o_orderdate
        FROM ranked
        UNION ALL
        SELECT 'key_sorted' AS layout, zone_key AS zone, o_orderdate
        FROM ranked
    ),
    zones AS (
        SELECT layout, zone,
               MIN(o_orderdate) AS zmin, MAX(o_orderdate) AS zmax,
               COUNT(*) AS n_rows
        FROM layouts GROUP BY layout, zone
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_zones,
           CAST(SUM(CASE WHEN zmax >= TIMESTAMP '1996-01-01'
                          AND zmin < TIMESTAMP '1997-01-01'
                         THEN 1 ELSE 0 END) AS BIGINT) AS zones_scanned,
           CAST(SUM(CASE WHEN zmax >= TIMESTAMP '1996-01-01'
                          AND zmin < TIMESTAMP '1997-01-01'
                         THEN n_rows ELSE 0 END) AS BIGINT)
               AS rows_scanned
    FROM zones GROUP BY layout
"""


@register(
    "q_zonemap_skipping",
    oracle=_ZONEMAP_ORACLE,
    doc="Zone-map (min/max data-skipping) effectiveness audit: orders rows "
        "are zoned 750-per-zone under two physical layouts — sorted by "
        "(o_orderdate, o_orderkey) vs sorted by o_orderkey — and each "
        "zone's min/max orderdate decides whether a 1996 range predicate "
        "could skip it. This is exactly the math behind parquet row-group "
        "pruning and clustering keys: the date-sorted layout scans ~1/6 "
        "of zones, the key-sorted layout scans all of them — the audit a "
        "pipeline runs BEFORE choosing a sort key for a 100 TB table "
        "(companion to q_zorder_key, which builds the multi-column "
        "variant's key). Window + two aggregates; deterministic "
        "tie-broken row_number.",
    tags=("analytics", "layout"),
)
def q_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_rank

    o = load(spark, sf_dir, "orders").select("o_orderdate", "o_orderkey")
    # global row numbers via the DISTRIBUTED rank operator (range
    # partition + per-partition offsets), NOT Window.orderBy() without
    # partitionBy — the single-task global sort is exactly the
    # anti-pattern this repo's global_rank exists to avoid (its 10x
    # decade point regressed 3.3x before this change; the zone
    # assignment itself is embarrassingly parallel)
    rd = global_rank(o, [F.col("o_orderdate"), F.col("o_orderkey")],
                     out_col="r")
    rk = global_rank(o, [F.col("o_orderkey")], out_col="r")
    layouts = rd.select(
        F.lit("date_sorted").alias("layout"),
        F.expr("r div 750").alias("zone"), "o_orderdate",
    ).unionByName(rk.select(
        F.lit("key_sorted").alias("layout"),
        F.expr("r div 750").alias("zone"), "o_orderdate",
    ))
    zones = (layouts.groupBy("layout", "zone")
             .agg(F.min("o_orderdate").alias("zmin"),
                  F.max("o_orderdate").alias("zmax"),
                  F.count(F.lit(1)).alias("n_rows")))
    hit = ((F.col("zmax") >= F.lit("1996-01-01").cast("timestamp"))
           & (F.col("zmin") < F.lit("1997-01-01").cast("timestamp")))
    return (zones.groupBy("layout")
            .agg(F.count(F.lit(1)).alias("n_zones"),
                 F.sum(F.when(hit, 1).otherwise(0)).alias("zones_scanned"),
                 F.sum(F.when(hit, F.col("n_rows")).otherwise(0))
                 .alias("rows_scanned")))


# --- language-balanced corpus sampling ------------------------------------------

_LANG_BALANCE_ORACLE = """
    WITH ranked AS (
        SELECT lang, doc_id, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    ),
    quota AS (
        SELECT MIN(c) AS m FROM (
            SELECT COUNT(*) AS c FROM documents GROUP BY lang)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept
    FROM ranked, quota
    WHERE rn <= quota.m
    GROUP BY lang
"""


@register(
    "q_lang_balanced_sample",
    oracle=_LANG_BALANCE_ORACLE,
    doc="Language-balanced downsampling: every language keeps exactly "
        "min-language-count documents, chosen by md5(doc_id) hash order "
        "(growth-stable — adding documents never evicts previously-kept "
        "ones ranked ahead of them, the same salt-free discipline as "
        "q_split_train_val). The quota is a one-row aggregate broadcast "
        "via cross join; selection is one window rank per language "
        "partition. The curation step between q_domain_mix_weights "
        "(choosing target proportions) and q_temperature_mix (soft "
        "reweighting) when the policy is hard equalization.",
    tags=("llm", "curation"),
)
def q_lang_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    quota = counts.agg(F.min("c").alias("m"))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    ranked = d.select("lang", "doc_id", "n_chars",
                      F.row_number().over(w).alias("rn"))
    return (ranked.crossJoin(F.broadcast(quota))
            .filter(F.col("rn") <= F.col("m"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("doc_id").alias("id_sum"),
                 F.sum("n_chars").alias("chars_kept")))


# --- positional-index phrase search ---------------------------------------------

_PHRASES = ("value table part", "table window table", "a a the")

_PHRASE_ORACLE = f"""
    WITH phrases(phrase) AS (
        VALUES {', '.join(f"('{p}')" for p in _PHRASES)}
    )
    SELECT p.phrase,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.doc_id) AS BIGINT) AS id_sum
    FROM phrases p
    JOIN documents d
      ON ' ' || lower(trim(d.text)) || ' ' LIKE '% ' || p.phrase || ' %'
    GROUP BY p.phrase
"""


@register(
    "q_phrase_search",
    oracle=_PHRASE_ORACLE,
    doc="Exact phrase search via a POSITIONAL inverted index — the "
        "retrieval-side twin of q_boolean_retrieval (which is "
        "position-free conjunctive). Build (doc, pos, token) postings "
        "once, join phrase terms against them, normalize every hit to its "
        "would-be phrase start (pos − term_idx), and a phrase occurs "
        "where one (doc, start) collects ALL its term indexes — one "
        "equi-join + one aggregate, no per-document scan, repeated terms "
        "inside a phrase handled by distinct-index counting. This is how "
        "phrase queries run against a 100 TB corpus (posting-list "
        "intersection); the oracle is the semantically-equal LIKE scan "
        "('% phrase %' over space-joined lowercase text, exactly the "
        "single-space tokenization the fixtures have).",
    tags=("llm", "retrieval"),
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_par(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), r"\s+"))
        .alias("pos", "token"))
    terms = spark.createDataFrame(
        [(p, i, t) for p in _PHRASES
         for i, t in enumerate(p.split(" "))],
        "phrase string, term_idx int, token string")
    n_terms = (terms.groupBy("phrase")
               .agg(F.count(F.lit(1)).alias("n_t")))
    hits = (toks.join(F.broadcast(terms), "token")
            .select("phrase", "doc_id",
                    (F.col("pos") - F.col("term_idx")).alias("start"),
                    "term_idx"))
    occ = (hits.groupBy("phrase", "doc_id", "start")
           .agg(F.count_distinct("term_idx").alias("k"))
           .join(F.broadcast(n_terms), "phrase")
           .filter(F.col("k") == F.col("n_t")))
    return (occ.select("phrase", "doc_id").distinct()
            .groupBy("phrase")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("id_sum")))


# --- fixed-point TF-IDF document retrieval ---------------------------------------

_TFIDF_RETRIEVAL_ORACLE = """
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+'))
                   AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    idf AS (
        SELECT term,
               CAST(FLOOR(1000000000000 /
                          (COUNT(DISTINCT doc_id) * COUNT(DISTINCT doc_id)))
                    AS BIGINT) AS w_units
        FROM tf GROUP BY term
    ),
    qv AS (SELECT term, tf AS tf_q FROM tf WHERE doc_id = 0)
    SELECT d.doc_id,
           CAST(SUM(q.tf_q * d.tf * i.w_units) AS BIGINT) AS score_units
    FROM tf d
    JOIN qv q ON d.term = q.term
    JOIN idf i ON d.term = i.term
    WHERE d.doc_id <> 0
    GROUP BY d.doc_id
    ORDER BY score_units DESC, d.doc_id
    LIMIT 10
"""


@register(
    "q_tfidf_retrieval",
    oracle=_TFIDF_RETRIEVAL_ORACLE,
    doc="Query-by-document sparse retrieval: rank the corpus against "
        "doc 0 by an inverse-df² weighted term-overlap score, entirely in "
        "integer fixed point (w(t) = ⌊1e12/df²⌋ — the rational stand-in "
        "for idf² that avoids cross-engine ln() libm drift; tf·tf·w sums "
        "are order-free int64). The sparse-retrieval complement to the "
        "dense paths (q_sim_topk_bruteforce / ANN): one broadcast of the "
        "query vector, one equi-join on term against the tf table, one "
        "aggregate — at 100 TB the tf/idf tables are the persisted "
        "inverted index and the query side stays a broadcast.",
    tags=("llm", "retrieval"),
)
def q_tfidf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_par(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # tf feeds idf, the query vector, and the corpus side — and is
    # deliberately NOT materialized (r8, reversing the r7 choice): the
    # qv/corpus legs filter on doc_id, a GROUPING key, so Catalyst pushes
    # those predicates BELOW the re-derived aggregate onto the scan — the
    # query-vector leg aggregates ~one document, not the corpus. A
    # checkpoint blocks that pushdown and materializes corpus-sized
    # (doc, term) rows: measured 228 s vs 165 s at the 1000x decade,
    # tie at 100x and sf0.1 (SCALE.md)
    idf = (tf.groupBy("term")
           .agg(F.count_distinct("doc_id").alias("df"))
           .select("term", (F.lit(1_000_000_000_000).cast("long")
                            / (F.col("df") * F.col("df")))
                   .cast("long").alias("w_units")))
    qv = (tf.filter(F.col("doc_id") == 0)
          .select("term", F.col("tf").alias("tf_q")))
    return (tf.filter(F.col("doc_id") != 0)
            .join(F.broadcast(qv), "term")
            .join(idf, "term")
            .groupBy("doc_id")
            .agg(F.sum(F.col("tf_q") * F.col("tf")
                       * F.col("w_units")).alias("score_units"))
            .orderBy(F.col("score_units").desc(), "doc_id")
            .limit(10))


# --- last-touch attribution --------------------------------------------------------

_ATTRIBUTION_ORACLE = """
    WITH ev AS (
        SELECT user_id, event_id, event_type, ts, value
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    tagged AS (
        SELECT *,
               MAX(CASE WHEN event_type = 'click'
                        THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_click_us
        FROM ev
    ),
    purchases AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               value,
               epoch_us(ts) - last_click_us AS lag_us,
               CASE WHEN last_click_us IS NOT NULL
                     AND epoch_us(ts) - last_click_us
                         <= 7 * 86400 * 1000000::BIGINT
                    THEN 1 ELSE 0 END AS attributed
        FROM tagged WHERE event_type = 'purchase'
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(attributed) AS BIGINT) AS n_attributed,
           CAST(SUM(CASE WHEN attributed = 1 THEN lag_us END) AS BIGINT)
               AS lag_us_sum,
           CAST(SUM(CASE WHEN attributed = 1
                         THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                         END) AS BIGINT) AS attributed_cents
    FROM purchases
    GROUP BY day
"""


@register(
    "q_attribution_last_touch",
    oracle=_ATTRIBUTION_ORACLE,
    doc="Last-touch attribution: each purchase attributes to the user's "
        "most recent STRICTLY-PRIOR click within a 7-day window — the "
        "standard marketing-analytics join, expressed as one window "
        "aggregate (MAX of click-timestamps over ROWS UNBOUNDED PRECEDING "
        "TO 1 PRECEDING, deterministic (ts, event_id) order) instead of "
        "an as-of self-join: one shuffle on user_id, no join at all. "
        "Lags are exact epoch-microsecond integers; attributed revenue "
        "sums in integer cents.",
    tags=("analytics", "window"),
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("click", "purchase"))
          .select("user_id", "event_id", "event_type", "ts", "value"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    tagged = ev.withColumn(
        "last_click_us",
        F.max(F.when(F.col("event_type") == "click",
                     F.unix_micros("ts"))).over(w))
    lag_us = F.unix_micros("ts") - F.col("last_click_us")
    attributed = (F.col("last_click_us").isNotNull()
                  & (lag_us <= F.lit(7 * 86400 * 1_000_000).cast("long")))
    purchases = (tagged.filter(F.col("event_type") == "purchase")
                 .select(F.to_date("ts").alias("day"),
                         "value", lag_us.alias("lag_us"),
                         attributed.cast("int").alias("attributed")))
    return (purchases.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 F.sum("attributed").alias("n_attributed"),
                 F.sum(F.when(F.col("attributed") == 1,
                              F.col("lag_us"))).alias("lag_us_sum"),
                 F.sum(F.when(F.col("attributed") == 1,
                              F.floor(F.col("value") * 100 + F.lit(0.5))
                              .cast("long"))).alias("attributed_cents")))


# --- incremental k-means assignment (persisted centroids) -----------------------

def _kmeans_assign_oracle(k: int = 4, iterations: int = 3,
                          batch_mod: int = 10, batch_rem: int = 7) -> str:
    """Same unrolled training CTEs as _kmeans_oracle, but the final select
    aggregates the assignment of the NEW-BATCH subset only."""
    body = _kmeans_oracle(k=k, iterations=iterations)
    head, _, _ = body.rpartition("SELECT a.cid AS cluster_id")
    return head + f"""SELECT cid AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(SUM(dist) AS BIGINT) AS dist_units_sum,
           MIN(vec_id) AS first_vec_id
    FROM afin
    WHERE vec_id % {batch_mod} = {batch_rem}
    GROUP BY cid
    """


@register(
    "q_kmeans_assign_incremental",
    oracle=_kmeans_assign_oracle(k=4, iterations=3),
    doc="Incremental corpus admission for semantic clustering: centroids "
        "train ONCE (same 3-iteration fixed-point Lloyd as "
        "q_kmeans_lloyd), persist to a parquet quantizer table — the same "
        "persisted-model pattern as the IVF quantizer "
        "(operators/similarity.py) and incremental MinHash admission "
        "(q_dedup_incremental) — then each NEW batch (here vec_id%10==7) "
        "assigns with ZERO shuffles: read k rows, inline as literals, one "
        "narrow projection over the batch. At 100 TB this is the "
        "every-day path (train weekly, assign per-arrival, O(batch) not "
        "O(corpus)); the training cost amortizes away. The oracle "
        "re-derives the same centroids and filters its final assignment "
        "to the batch.",
    tags=("llm", "clustering", "incremental"),
)
def q_kmeans_assign_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    emb = load_par(spark, sf_dir, "embeddings")
    qdf = C.quantize_vectors(emb)
    qdf = qdf.localCheckpoint(eager=True)
    _, cent = C.kmeans_fixed(qdf, k=4, iterations=3)
    # persist the model as a table (the "quantizer"), then load it back —
    # the round trip is the point: assignment must not depend on the
    # training lineage being alive
    base = tempfile.mkdtemp(prefix="canary_kmeans_model_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    model_path = os.path.join(base, "centroids.parquet")
    spark.createDataFrame(
        [(cid, vec) for cid, vec in sorted(cent.items())],
        "cluster_id int, centroid array<long>",
    ).write.mode("overwrite").parquet(model_path)
    loaded = {int(r["cluster_id"]): [int(v) for v in r["centroid"]]
              for r in spark.read.parquet(model_path).collect()}
    batch = qdf.filter(F.col("vec_id") % 10 == 7)
    asg = C.assign_clusters(batch, loaded)
    return (asg.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n_batch"),
                 F.sum("dist_units").alias("dist_units_sum"),
                 F.min("vec_id").alias("first_vec_id")))


# --- grouping_id over GROUPING SETS ----------------------------------------------

@register(
    "q_grouping_id",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING_ID(o_orderpriority, o_orderstatus) AS BIGINT)
               AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus), ())
    """,
    doc="grouping()/grouping_id() metadata over GROUPING SETS — the "
        "marker columns that let a consumer tell a real NULL group from a "
        "rolled-up one (q_grouping_sets covers the sets themselves; this "
        "covers the disambiguation functions, same bit convention in "
        "Spark and DuckDB: one bit per column, 1 = aggregated-away). "
        "Revenue in integer cents, order-free.",
    tags=("agg", "sql"),
)
def q_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_g7")
    return spark.sql("""
        SELECT o_orderpriority, o_orderstatus,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING_ID(o_orderpriority, o_orderstatus) AS BIGINT)
                   AS gid,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS total_cents
        FROM orders_g7
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), (o_orderstatus), ())
    """)


# --- MapType operator family -------------------------------------------------------

@register(
    "q_map_functions",
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY user_id, event_type
    )
    SELECT user_id, event_type, CAST(n AS BIGINT) AS n, cents
    FROM counts
    WHERE n >= 12
    """,
    doc="MapType operator family: per-user maps event_type→struct(n, "
        "cents) built with map_from_entries(collect_list(struct(...))), "
        "thinned with map_filter (n ≥ 12), values projected with "
        "transform_values, then exploded back to rows. The map stays "
        "inside one aggregate-project stage — maps are a LAYOUT choice "
        "(one row per user with typed kv-state, e.g. for feature stores "
        "or applyInPandasWithState payloads), not a semantics change, "
        "which is exactly why the oracle can be plain relational: "
        "build→filter→explode must round-trip losslessly.",
    tags=("scalar", "map"),
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    per = (ev.groupBy("user_id", "event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))
                      .cast("long")).alias("cents")))
    maps = (per.groupBy("user_id")
            .agg(F.map_from_entries(
                F.collect_list(F.struct("event_type",
                                        F.struct("n", "cents"))))
                 .alias("m")))
    thinned = maps.select(
        "user_id",
        F.transform_values(
            F.map_filter("m", lambda _, v: v["n"] >= 12),
            lambda _, v: v).alias("m"))
    return (thinned.select("user_id",
                           F.explode("m").alias("event_type", "v"))
            .select("user_id", "event_type",
                    F.col("v.n").alias("n"), F.col("v.cents").alias("cents")))


# --- linear regression via normal equations ---------------------------------------

def _linreg_sql(table: str) -> str:
    """Shared SQL text for Spark and DuckDB — the Cramer expressions must
    be TEXTUALLY identical so both engines evaluate the same IEEE-754
    operation tree (double arithmetic is deterministic per-op; only the
    tree shape could differ, so it is pinned by sharing the string)."""
    return f"""
    WITH q AS (
        SELECT CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS x1,
               CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT) AS x2,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
        FROM {table}
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x1) AS DOUBLE) AS s1,
               CAST(SUM(x2) AS DOUBLE) AS s2,
               CAST(SUM(x1 * x1) AS DOUBLE) AS s11,
               CAST(SUM(x2 * x2) AS DOUBLE) AS s22,
               CAST(SUM(x1 * x2) AS DOUBLE) AS s12,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x1 * y) AS DOUBLE) AS s1y,
               CAST(SUM(x2 * y) AS DOUBLE) AS s2y
        FROM q
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           FLOOR((sy * (s11 * s22 - s12 * s12)
                  - s1 * (s1y * s22 - s12 * s2y)
                  + s2 * (s1y * s12 - s11 * s2y))
                 / (n * (s11 * s22 - s12 * s12)
                    - s1 * (s1 * s22 - s12 * s2)
                    + s2 * (s1 * s12 - s11 * s2)) * 1e6 + 0.5) / 1e6
               AS beta0,
           FLOOR((n * (s1y * s22 - s12 * s2y)
                  - sy * (s1 * s22 - s12 * s2)
                  + s2 * (s1 * s2y - s1y * s2))
                 / (n * (s11 * s22 - s12 * s12)
                    - s1 * (s1 * s22 - s12 * s2)
                    + s2 * (s1 * s12 - s11 * s2)) * 1e6 + 0.5) / 1e6
               AS beta1,
           FLOOR((n * (s11 * s2y - s1y * s12)
                  - s1 * (s1 * s2y - s1y * s2)
                  + sy * (s1 * s12 - s11 * s2))
                 / (n * (s11 * s22 - s12 * s12)
                    - s1 * (s1 * s22 - s12 * s2)
                    + s2 * (s1 * s12 - s11 * s2)) * 1e6 + 0.5) / 1e6
               AS beta2
    FROM s
    """


@register(
    "q_linreg_normal_eq",
    oracle=_linreg_sql("lineitem"),
    doc="Multi-feature linear regression trained distributively via the "
        "normal equations: price_cents ~ quantity + discount over "
        "lineitem. ONE map-side-combinable aggregate computes the nine "
        "Gram/moment sums (XᵀX, Xᵀy) over fixed-point features — integer "
        "products bounded (< 2^63 to ~200x sf0.1; the quantization scales "
        "are chosen for that headroom) and order-free — then a 3x3 Cramer "
        "solve runs on the one-row aggregate in doubles (sums < 2^53 are "
        "exact in double; the Cramer expression TEXT is shared with the "
        "oracle so both engines evaluate the identical IEEE tree). This "
        "is how closed-form model fitting runs at 100 TB: the corpus pass "
        "is a partial-aggregated scan, the solve is O(p³) on the driver "
        "side of the plan — the third trained-model operator after BPE "
        "and k-means. Betas are in quantized units (x1: 1e-2 qty, x2: "
        "1e-4 discount, y: cents), rounded 6dp.",
    tags=("agg", "ml"),
)
def q_linreg_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_lr7")
    return spark.sql(_linreg_sql("lineitem_lr7"))


# --- binaryFile source scan ----------------------------------------------------------

@register(
    "q_binaryfile_scan",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    WHERE doc_id < 40
    """,
    doc="Raw-bytes ingestion through Spark's `binaryFile` source — the "
        "entry point for multimodal corpora (images/audio arrive as "
        "opaque files; operators/multimodal.py takes over from the binary "
        "column this source produces). The first 40 documents' text is "
        "materialized as individual .bin files, read back as "
        "(path, modificationTime, length, content), id recovered from "
        "the path (the lineage-from-path discipline of the weather "
        "ingest), and byte fidelity proven by md5: the oracle hashes the "
        "ORIGINAL table text, so any byte lost or reordered by the "
        "write→scan round trip breaks the hash. Fixture text is pure "
        "ASCII, making DuckDB's VARCHAR md5 byte-equivalent.",
    tags=("source", "multimodal"),
)
def q_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    docs = (load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 40)
            .select("doc_id", "text").collect())  # bounded: 40 small rows
    base = tempfile.mkdtemp(prefix="canary_binaryfile_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    for r in docs:
        with open(os.path.join(base, f"doc_{int(r['doc_id']):06d}.bin"),
                  "wb") as f:
            f.write(r["text"].encode("utf-8"))
    binf = spark.read.format("binaryFile").load(f"{base}/*.bin")
    return binf.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("bigint").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"))


# --- Bellman-Ford weighted shortest paths --------------------------------------------

def _bellman_ford_oracle(rounds: int = 4) -> str:
    """Unrolled relaxation rounds over the weighted co-activity graph
    (weight = 1000 // shared-cell-count: stronger ties are shorter).
    Same iterative-oracle pattern as PageRank/k-core/k-means."""
    iters = []
    prev = "d0"
    for t in range(1, rounds + 1):
        iters.append(f"""
    d{t} AS (
        SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT e.dst AS node, p.dist + e.w AS dist
            FROM {prev} p JOIN edges e ON e.src = p.node
        ) GROUP BY node
    )""")
        prev = f"d{t}"
    return f"""
    WITH act0 AS (
        SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hb
        FROM events
    ),
    cellsz AS (
        SELECT event_type, hb FROM act0
        GROUP BY 1, 2 HAVING COUNT(*) <= 40
    ),
    act AS (
        SELECT a.user_id, a.event_type, a.hb
        FROM act0 a JOIN cellsz c
          ON a.event_type = c.event_type AND a.hb = c.hb
    ),
    e0 AS (
        SELECT a.user_id AS u1, b.user_id AS u2,
               CAST(1000 // COUNT(*) AS BIGINT) AS w
        FROM act a JOIN act b
          ON a.hb = b.hb AND a.event_type = b.event_type
         AND a.user_id < b.user_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= 3
    ),
    edges AS (
        SELECT u1 AS src, u2 AS dst, w FROM e0
        UNION ALL
        SELECT u2 AS src, u1 AS dst, w FROM e0
    ),
    s AS (SELECT MIN(src) AS node FROM edges),
    d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM s),
    {','.join(iters)}
    SELECT node, dist FROM {prev}
    ORDER BY dist, node
    LIMIT 25
    """


@register(
    "q_bellman_ford",
    oracle=_bellman_ford_oracle(4),
    doc="Weighted single-source shortest paths: 4 Bellman-Ford relaxation "
        "rounds over the co-activity graph with integer edge weights "
        "(1000 div shared-cells — stronger ties are shorter), from the "
        "smallest node. The weighted upgrade of q_bfs_reach and the "
        "fourth iterative-algorithm family with an unrolled bit-exact SQL "
        "oracle (PageRank, k-means, k-core before it): per round one "
        "equi-join dist⨝edges + one MIN groupBy — two shuffles on stable "
        "keys, lineage cut by localCheckpoint, integer distances so MIN "
        "is order-free. Top-25 closest nodes surface.",
    tags=("graph", "iterative"),
)
def q_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    act0 = (ev.select("user_id", "event_type",
                      F.date_trunc("hour", "ts").alias("hb")).distinct())
    cellsz = (act0.groupBy("event_type", "hb")
              .agg(F.count(F.lit(1)).alias("n_in_cell"))
              .filter(F.col("n_in_cell") <= 40)
              .drop("n_in_cell"))
    act = act0.join(cellsz, ["event_type", "hb"])
    a, b = act.alias("a"), act.alias("b")
    e0 = (a.join(b, (F.col("a.hb") == F.col("b.hb"))
                 & (F.col("a.event_type") == F.col("b.event_type"))
                 & (F.col("a.user_id") < F.col("b.user_id")))
          .groupBy(F.col("a.user_id").alias("u1"),
                   F.col("b.user_id").alias("u2"))
          .agg(F.count(F.lit(1)).alias("shared"))
          .filter(F.col("shared") >= 3)
          .select("u1", "u2",
                  F.expr("1000 div shared").cast("long").alias("w")))
    edges = (e0.select(F.col("u1").alias("src"), F.col("u2").alias("dst"),
                       "w")
             .union(e0.select(F.col("u2").alias("src"),
                              F.col("u1").alias("dst"), "w"))
             # edge build feeds every relaxation round — materialize once
             .localCheckpoint(eager=True))
    src = (edges.agg(F.min("src").alias("node"))
           .withColumn("dist", F.lit(0).cast("long")))
    dist = src.localCheckpoint(eager=True)
    for _ in range(4):
        relaxed = (dist.join(edges, dist["node"] == edges["src"])
                   .select(F.col("dst").alias("node"),
                           (dist["dist"] + edges["w"]).alias("dist")))
        dist = (dist.unionByName(relaxed)
                .groupBy("node").agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=True))
    return dist.orderBy("dist", "node").limit(25)


# --- MMR diverse top-k selection -------------------------------------------------------

def _mmr_oracle(k: int = 5) -> str:
    """Unrolled greedy Maximal-Marginal-Relevance selection (λ = 0.5 →
    integer score = rel − max-sim-to-selected). Same fixed-point dot
    products as the k-means oracle; ties break to the smaller vec_id."""
    parts = [f"""
    q AS (
        SELECT vec_id, u.ord AS ord,
               CAST(FLOOR(CAST(u.val AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                   AS qv
        FROM (SELECT vec_id,
                     unnest(list_transform(embedding,
                            (x, i) -> {{'val': x, 'ord': i}})) AS u
              FROM embeddings)
    ),
    rel AS (
        SELECT d.vec_id, CAST(SUM(d.qv * q0.qv) AS BIGINT) AS rel
        FROM q d JOIN q q0 ON d.ord = q0.ord AND q0.vec_id = 0
        WHERE d.vec_id <> 0
        GROUP BY d.vec_id
    ),
    sel0(svid) AS (SELECT CAST(NULL AS BIGINT) WHERE FALSE)"""]
    for t in range(1, k + 1):
        parts.append(f"""
    cand{t} AS (
        SELECT r.vec_id, r.rel,
               r.rel - COALESCE(mx.m, 0) AS score
        FROM rel r LEFT JOIN (
            SELECT dv, CAST(MAX(dot) AS BIGINT) AS m FROM (
                SELECT d.vec_id AS dv, s.svid,
                       CAST(SUM(d.qv * sq.qv) AS BIGINT) AS dot
                FROM sel{t - 1} s
                JOIN q sq ON sq.vec_id = s.svid
                JOIN q d ON d.ord = sq.ord
                GROUP BY d.vec_id, s.svid
            ) GROUP BY dv
        ) mx ON mx.dv = r.vec_id
        WHERE r.vec_id NOT IN (SELECT svid FROM sel{t - 1})
    ),
    pick{t} AS (
        SELECT {t} AS pick_rank, vec_id, rel, CAST(score AS BIGINT)
                   AS mmr_score
        FROM cand{t} ORDER BY score DESC, vec_id LIMIT 1
    ),
    sel{t}(svid) AS (
        SELECT svid FROM sel{t - 1} UNION ALL SELECT vec_id FROM pick{t}
    )""")
    picks = " UNION ALL ".join(
        f"SELECT pick_rank, vec_id, rel, mmr_score FROM pick{t}"
        for t in range(1, k + 1))
    return f"""
    WITH {','.join(parts)}
    {picks}
    """


@register(
    "q_mmr_diverse_topk",
    oracle=_mmr_oracle(5),
    doc="Greedy Maximal-Marginal-Relevance selection of 5 documents for "
        "query vector 0 (λ = 0.5 → integer score = relevance-dot − "
        "max-dot-to-already-selected) — the diversity-aware retrieval "
        "step behind few-shot example selection and dedup-aware RAG "
        "context packing; plain top-k (q_sim_topk_bruteforce) returns "
        "near-duplicates, MMR provably spaces them out. Fifth iterative "
        "family with an unrolled bit-exact SQL oracle: per round ONE "
        "narrow projection (relevance precomputed once; max-sim-to-"
        "selected is a fold over ≤k literal vectors — no join) and a "
        "TakeOrdered(1) whose single row returns to the driver (bounded, "
        "the BPE-pair budget class). At 100 TB the corpus pass per round "
        "is embarrassingly parallel and k is small by definition.",
    tags=("llm", "similarity", "iterative"),
)
def q_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_par(spark, sf_dir, "embeddings")
    qdf = C.quantize_vectors(emb)
    qdf = qdf.localCheckpoint(eager=True)
    q0 = qdf.filter(F.col("vec_id") == 0).collect()[0]["qvec"]

    def dot_to(vec):
        from ..functions.litexpr import dot_sql
        return F.expr(dot_sql("qvec", vec))

    pool = (qdf.filter(F.col("vec_id") != 0)
            .withColumn("rel", dot_to(q0))
            .localCheckpoint(eager=True))
    selected: list[tuple[int, list[int]]] = []
    picks = []
    for t in range(1, 6):
        if selected:
            dots = [dot_to(v) for _, v in selected]
            maxsel = dots[0] if len(dots) == 1 else F.greatest(*dots)
        else:
            maxsel = F.lit(0).cast("long")
        remaining = pool.filter(
            ~F.col("vec_id").isin([i for i, _ in selected]))
        top = (remaining.withColumn("mmr_score", F.col("rel") - maxsel)
               .orderBy(F.col("mmr_score").desc(), "vec_id")
               .limit(1).collect()[0])  # one row per round — bounded
        picks.append((t, int(top["vec_id"]), int(top["rel"]),
                      int(top["mmr_score"])))
        selected.append((int(top["vec_id"]),
                         [int(v) for v in top["qvec"]]))
    return spark.createDataFrame(
        picks, "pick_rank int, vec_id bigint, rel bigint, mmr_score bigint")


# --- Spark 4 SQL pipe syntax + lateral column aliases ---------------------------------

@register(
    "q_sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           CAST(FLOOR(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                                      * 100 + 0.5) AS BIGINT))
                      / COUNT(*)) AS BIGINT) AS avg_cents
    FROM lineitem
    WHERE l_quantity >= 25
    GROUP BY l_returnflag
    """,
    doc="Spark 4 SQL PIPE syntax (FROM … |> WHERE … |> EXTEND … |> "
        "AGGREGATE … GROUP BY …) plus lateral column aliases (revenue "
        "reused by the avg column in the same SELECT). Pure parser "
        "surface — the plan is identical to the classic spelling the "
        "oracle uses, which is the point: the pipeline-shaped SQL users "
        "migrate toward compiles to the same Catalyst plan. Fixed-point "
        "cents keep the hash exact; avg is FLOOR of an exact-int double "
        "division on both sides (DuckDB's double→BIGINT CAST rounds "
        "where Spark truncates — FLOOR removes the edge).",
    tags=("sql",),
)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_p7")
    return spark.sql("""
        FROM lineitem_p7
        |> WHERE l_quantity >= 25
        |> EXTEND CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100
                             + 0.5) AS BIGINT) AS cents
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_items,
                     SUM(cents) AS revenue_cents
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n_items, revenue_cents,
                  CAST(FLOOR(revenue_cents / n_items) AS BIGINT) AS avg_cents
    """)


# --- streaming Python DataSource reader, driver-hashed ---------------------------------

@register(
    "q_stream_datasource_read",
    oracle="""
    SELECT CAST(i AS BIGINT) AS n, CAST(i * i AS BIGINT) AS sq
    FROM generate_series(0, 59) t(i)
    """,
    doc="Streaming Python DataSource READER end-to-end "
        "(sources/sequence_source.py, Spark 4 SimpleDataSourceStreamReader):"
        " the offset-cursored sequence source drains through a REAL "
        "checkpointed parquet sink in micro-batches, then the sink is "
        "read back and hash-compared against the closed form — any "
        "duplicated, dropped, or mangled offset range breaks the hash. "
        "The reader-side twin of q_manifest_sink_read (which hard-rows "
        "the writer): with it, all four Python DataSource quadrants "
        "(batch/stream × read/write) carry driver-visible evidence. "
        "Bounded by construction (end=60); wall is trigger cadence, "
        "not data.",
    tags=("source", "streaming"),
)
def q_stream_datasource_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile
    import time

    from ..sources.sequence_source import make_sequence_source

    # factory-built class → cloudpickle BY VALUE: the streaming planner
    # runs in its own Python worker that cannot import this repo when
    # the driver session starts outside it (sequence_source docstring)
    spark.dataSource.register(make_sequence_source())
    base = tempfile.mkdtemp(prefix="canary_seqstream_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    out = os.path.join(base, "rows")
    ckpt = os.path.join(base, "ckpt")
    stream = (spark.readStream.format("sequence_stream")
              .option("end", "60").option("batch", "17").load())
    q = (stream.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .outputMode("append")
         .trigger(processingTime="50 milliseconds").start())
    deadline = time.time() + 90
    while time.time() < deadline:
        if q.exception() is not None:
            raise q.exception()  # surface stream failure, don't burn 90s
        try:
            if spark.read.parquet(out).count() >= 60:
                break
        except AnalysisException:
            pass  # sink dir not created yet
        time.sleep(0.2)
    q.stop()
    from ..streaming.jobs import drain
    drain(q, 30)  # checked wait-for-stop: surfaces q.exception(), no silent timeout
    return spark.read.parquet(out)


# --- DataFrame stat API: crosstab ---------------------------------------------------

@register(
    "q_stat_crosstab",
    oracle="""
    SELECT CAST(user_id % 5 AS VARCHAR) AS ub_event_type,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS view
    FROM events
    GROUP BY user_id % 5
    """,
    doc="DataFrame statistics API: `df.stat.crosstab` — the contingency "
        "table between a user bucket and event_type (pairwise frequency "
        "EDA before choosing stratification or mix weights). Crosstab "
        "pivots distinct column values into columns engine-side; the "
        "projection pins a fixed column order and long counts so the "
        "hash is deterministic. Oracle is the conditional-aggregation "
        "spelling. Companion q_pivot covers the general pivot operator; "
        "this covers the stat-API entry point.",
    tags=("analytics", "stat"),
)
def q_stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ct = (ev.withColumn("ub", (F.col("user_id") % 5).cast("string"))
          .stat.crosstab("ub", "event_type"))
    return ct.select(
        F.col("ub_event_type"),
        *[F.col(c).cast("long").alias(c)
          for c in ("click", "error", "purchase", "signup", "view")])


# --- equi-depth histogram (distributed NTILE) --------------------------------

_EQUIDEPTH_ORACLE = """
    WITH b AS (
        SELECT value, NTILE(10) OVER (ORDER BY value, event_id) AS bucket
        FROM events
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(value) AS vmin,
           MAX(value) AS vmax,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM b
    GROUP BY bucket
"""


@register(
    "q_equidepth_histogram",
    oracle=_EQUIDEPTH_ORACLE,
    doc="Equi-depth (quantile-bucketed) histogram: 10 buckets of "
        "near-equal row count with per-bucket min/max/count/sum — the "
        "data-profiling primitive behind optimizer statistics and "
        "drift monitors, and the exact complement of the equi-WIDTH "
        "q_histogram. The oracle is one NTILE(10) window; a bare "
        "NTILE over a total order is the single-task global-sort "
        "anti-pattern at scale, so the Spark side computes the global "
        "rank with operators.ranking.global_rank (range partition + "
        "O(#partitions) driver offsets, fully parallel) and derives "
        "NTILE's exact bucket rule from it arithmetically (first n%k "
        "buckets take one extra row), with the total row count a "
        "broadcast one-row aggregate. Bit-identical to NTILE under "
        "the (value, event_id) total order.",
    tags=("analytics", "profiling"),
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_rank

    e = load(spark, sf_dir, "events").select("event_id", "value")
    ranked = global_rank(e, [F.col("value"), F.col("event_id")],
                         out_col="r")
    tot = ranked.agg(F.count(F.lit(1)).alias("n"))
    k = F.lit(10).cast("bigint")
    rank1 = F.col("r") + 1                      # 1-based rank
    q = (F.col("n") / k).cast("bigint")         # base bucket size
    r = F.col("n") % k                          # first r buckets: q+1 rows
    cut = r * (q + 1)                           # rows in the fat buckets
    # ceil division in exact integer arithmetic; denominators guarded
    # for the n<k corner (the otherwise-branch is then never selected)
    fat = ((rank1 + q) / (q + 1)).cast("bigint")              # ceil(rank1/(q+1))
    thin = (r + ((rank1 - cut) + F.greatest(q, F.lit(1)) - 1)
            / F.greatest(q, F.lit(1))).cast("bigint")
    bucket = F.when(rank1 <= cut, fat).otherwise(thin)
    return (ranked.crossJoin(F.broadcast(tot))
            .select(bucket.cast("int").alias("bucket"), "value")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax"),
                 F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint"))
                  .alias("sum_cents")))


# --- cohort retention ---------------------------------------------------------

_COHORT_ORACLE = """
    WITH activity AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events
    ),
    cohorts AS (
        SELECT user_id, MIN(week) AS cohort_week FROM activity GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(date_diff('day', c.cohort_week, a.week) // 7 AS BIGINT)
               AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM cohorts c
    JOIN activity a ON a.user_id = c.user_id
    GROUP BY c.cohort_week, week_offset
"""


@register(
    "q_cohort_retention",
    oracle=_COHORT_ORACLE,
    doc="Cohort retention: users grouped by first-activity ISO week, "
        "counted at each later week offset — the classic retention "
        "triangle (product analytics' standard table, and the "
        "engagement-weighting signal for training-data user sampling). "
        "Activity is the DISTINCT (user, week) grid computed ONCE and "
        "persisted for its two consumers (cohort min-week + the offset "
        "join — the multi-consumer materialization discipline); the "
        "join is user_id-keyed so both sides shuffle on the same key. "
        "Week offsets are exact integer day-diffs over Monday-truncated "
        "dates, divided by 7.",
    tags=("analytics", "temporal"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    activity = (e.select("user_id",
                         F.to_date(F.date_trunc("week", "ts"))
                          .alias("week"))
                .distinct().localCheckpoint(eager=True))
    cohorts = activity.groupBy("user_id").agg(F.min("week")
                                              .alias("cohort_week"))
    return (activity.join(cohorts, "user_id")
            .select("cohort_week",
                    (F.datediff("week", "cohort_week") / 7)
                    .cast("bigint").alias("week_offset"))
            .groupBy("cohort_week", "week_offset")
            .agg(F.count(F.lit(1)).alias("n_users")))


# --- SQL scripting (Spark 4 procedural control flow) -------------------------

_SCRIPTING_ORACLE = """
    WITH powers(th) AS (VALUES (1), (2), (4), (8), (16), (32), (64)),
    tot AS (SELECT COUNT(*) AS n_total FROM lineitem),
    c AS (
        SELECT th,
               (SELECT COUNT(*) FROM lineitem WHERE l_quantity < th)
                   AS n_below
        FROM powers
    )
    SELECT CAST(th AS BIGINT) AS threshold,
           CAST(n_below AS BIGINT) AS n_below,
           CAST(n_total AS BIGINT) AS n_total
    FROM c, tot
    WHERE 2 * n_below > n_total OR th = 64
    ORDER BY th
    LIMIT 1
"""


@register(
    "q_sql_scripting",
    oracle=_SCRIPTING_ORACLE,
    doc="Spark 4 SQL scripting (BEGIN/DECLARE/WHILE/SET): a procedural "
        "doubling search for the smallest power-of-two quantity "
        "threshold that covers a majority of lineitems — each loop "
        "iteration runs a real distributed COUNT under the evolving "
        "variable binding, i.e. driver-side control flow over "
        "cluster-side computation, the engine-native replacement for "
        "collect()-and-loop client code. The loop's fixpoint is "
        "order-independent (n_below is monotonic in the threshold), so "
        "the oracle expresses it declaratively: the minimal qualifying "
        "threshold over the static candidate power table. The scripting conf "
        "is set at runtime (works on a vanilla driver session).",
    tags=("sql", "scripting"),
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.scripting.enabled", "true")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_script")
    return spark.sql("""
    BEGIN
      DECLARE th BIGINT DEFAULT 1;
      WHILE 2 * (SELECT COUNT(*) FROM lineitem_script
                 WHERE l_quantity < th)
            <= (SELECT COUNT(*) FROM lineitem_script) AND th < 64 DO
        SET th = th * 2;
      END WHILE;
      SELECT th AS threshold,
             CAST((SELECT COUNT(*) FROM lineitem_script
                   WHERE l_quantity < th) AS BIGINT) AS n_below,
             CAST((SELECT COUNT(*) FROM lineitem_script) AS BIGINT)
                 AS n_total;
    END
    """)


# --- batch perceptron (fixed-point, unrolled oracle) -------------------------

def _perceptron_oracle(rounds: int = 3, scale: int = 1_000_000) -> str:
    """Unrolled-iteration SQL twin of q_perceptron_batch: same
    quantization, same y = (label < 5 ? 1 : -1), same 'y*margin <= 0 is
    misclassified' rule (so round 1 updates on every vector — w starts
    at zero), same learning-rate-1 integer update."""
    parts = [f"""
    q AS (
        SELECT vec_id,
               CASE WHEN label < 5 THEN 1 ELSE -1 END AS y,
               u.ord AS ord,
               CAST(FLOOR(CAST(u.val AS DOUBLE) * {scale} + 0.5) AS BIGINT)
                   AS qx
        FROM (SELECT vec_id, label,
                     unnest(list_transform(embedding,
                            (x, i) -> {{'val': x, 'ord': i}})) AS u
              FROM embeddings)
    ),
    w0 AS (SELECT DISTINCT ord, CAST(0 AS BIGINT) AS w FROM q)"""]
    for t in range(1, rounds + 1):
        parts.append(f"""
    m{t} AS (
        SELECT q.vec_id, q.y,
               CAST(SUM(q.qx * w.w) AS BIGINT) AS margin
        FROM q JOIN w{t - 1} w ON q.ord = w.ord
        GROUP BY q.vec_id, q.y
    ),
    mis{t} AS (SELECT vec_id, y FROM m{t} WHERE y * margin <= 0),
    u{t} AS (
        SELECT q.ord, CAST(SUM(q.qx * m.y) AS BIGINT) AS du
        FROM q JOIN mis{t} m ON q.vec_id = m.vec_id
        GROUP BY q.ord
    ),
    w{t} AS (
        SELECT w.ord, w.w + COALESCE(u.du, 0) AS w
        FROM w{t - 1} w LEFT JOIN u{t} u ON w.ord = u.ord
    )""")
    rows = "\n        UNION ALL\n".join(
        f"""        SELECT {t} AS round,
               CAST((SELECT COUNT(*) FROM mis{t}) AS BIGINT) AS n_updates,
               CAST((SELECT SUM(ABS(w)) FROM w{t}) AS BIGINT) AS w_l1"""
        for t in range(1, rounds + 1))
    return ("WITH" + ",".join(parts) + "\n    SELECT * FROM (\n"
            + rows + "\n    ) r")


@register(
    "q_perceptron_batch",
    oracle=_perceptron_oracle(rounds=3),
    doc="Batch perceptron training in integer fixed-point: 3 rounds of "
        "'sum y*x over misclassified vectors' weight updates on a binary "
        "split of the embeddings table (label<5 vs rest) — the fifth "
        "iterative family (after PageRank, BFS/Bellman-Ford, k-means, "
        "k-core) and the linear-classifier training primitive behind "
        "model-based quality filtering of training corpora. Bit-exact vs "
        "an unrolled SQL oracle: quantized int64 features make every "
        "margin and update an order-free integer sum (|margin| <= "
        "dims*|w|*1e5 stays far under int64 at any realistic corpus). "
        "Scale shape: the 64 weights are model-sized driver scalars "
        "re-broadcast as a literal array each round (the k-means "
        "centroid discipline); each round is ONE margin aggregate "
        "(zero-join: element_at on the literal) + one misclassified-"
        "filtered update aggregate whose map-side combine reduces the "
        "shuffle to dims rows per partition.",
    tags=("llm", "ml", "iterative"),
)
def q_perceptron_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_par(spark, sf_dir, "embeddings")
    scale = 1_000_000
    q = (emb.select(
            "vec_id",
            F.when(F.col("label") < 5, F.lit(1)).otherwise(F.lit(-1))
             .alias("y"),
            F.posexplode("embedding").alias("ord", "val"))
         .select("vec_id", "y", "ord",
                 F.floor(F.col("val").cast("double") * scale + 0.5)
                  .cast("bigint").alias("qx"))
         .localCheckpoint(eager=True))
    dims = q.agg(F.max("ord")).collect()[0][0] + 1
    w = [0] * dims
    out_rows = []
    for rnd in range(1, 4):
        # num_array_sql mirrors the old F.lit auto-promotion (INT inside
        # int32, BIGINT beyond) — one JVM parse instead of dims py4j calls
        from ..functions.litexpr import num_array_sql
        w_lit = F.expr(num_array_sql(w))
        margins = (q.groupBy("vec_id", "y")
                   .agg(F.sum(F.col("qx")
                              * F.element_at(w_lit, F.col("ord") + 1))
                        .alias("margin")))
        mis = margins.filter(F.col("y") * F.col("margin") <= 0)
        upd = (q.join(mis.select("vec_id", F.col("y").alias("my")),
                      "vec_id")
               .groupBy("ord").agg(F.sum(F.col("qx") * F.col("my"))
                                   .alias("du")))
        # model-sized driver scalars: dims weights + one count per round
        n_mis = mis.count()
        for r in upd.collect():
            w[r["ord"]] += r["du"]
        out_rows.append((rnd, n_mis, int(sum(abs(x) for x in w))))
    return spark.createDataFrame(
        out_rows, "round INT, n_updates BIGINT, w_l1 BIGINT")


# --- HITS hubs/authorities (fixed-point, unrolled oracle) --------------------

def _hits_oracle(scale: int = 1_000_000) -> str:
    """Unrolled 2-round SQL twin of q_hits_bipartite: same constant hub
    init, same integer floor-div normalization to max=scale each step,
    same (score DESC, part) top-10."""
    return f"""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    a1r AS (
        SELECT p, CAST({scale} AS BIGINT) * COUNT(*) AS raw
        FROM edges GROUP BY p
    ),
    a1 AS (
        SELECT p, (raw * {scale}) // (SELECT MAX(raw) FROM a1r) AS a
        FROM a1r
    ),
    h1r AS (
        SELECT e.c, CAST(SUM(a1.a) AS BIGINT) AS raw
        FROM edges e JOIN a1 ON e.p = a1.p GROUP BY e.c
    ),
    h1 AS (
        SELECT c, (raw * {scale}) // (SELECT MAX(raw) FROM h1r) AS h
        FROM h1r
    ),
    a2r AS (
        SELECT e.p, CAST(SUM(h1.h) AS BIGINT) AS raw
        FROM edges e JOIN h1 ON e.c = h1.c GROUP BY e.p
    ),
    a2 AS (
        SELECT p, (raw * {scale}) // (SELECT MAX(raw) FROM a2r) AS a
        FROM a2r
    )
    SELECT CAST(p AS BIGINT) AS part_id,
           CAST(a AS BIGINT) AS auth_score
    FROM a2 ORDER BY a DESC, p LIMIT 10
"""


@register(
    "q_hits_bipartite",
    oracle=_hits_oracle(),
    doc="HITS hubs-and-authorities (2 mutual-reinforcement rounds) over "
        "the customer->part purchase bipartite graph: authority(part) = "
        "sum of linked hub scores, hub(customer) = sum of linked "
        "authority scores, each step renormalized to max=1e6 by integer "
        "floor division (the per-round max is a bounded driver scalar, "
        "same class as PageRank's convergence counter) — the sixth "
        "iterative family, bit-exact vs an unrolled SQL oracle. At "
        "scale each half-step is one equi-join + one aggregate on a "
        "persisted edge list (the compute shape of PageRank with "
        "alternating sides); normalization products stay under int64 "
        "for degree sums below ~1e12. Top-10 authorities with explicit "
        "part tie-break.",
    tags=("graph", "iterative"),
)
def q_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    scale = 1_000_000
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    # ONE p-partitioned, p-sorted checkpoint of the static edge list.
    # HashPartitioning(p) satisfies the dedup's ClusteredDistribution
    # ([c, p]) — equal (c, p) pairs co-locate under p alone — so
    # dropDuplicates after the repartition plans NO extra exchange: the
    # materialized frame costs the same one shuffle the old .distinct()
    # did, but LogicalRDD now carries partitioning + ordering, and the
    # degree aggregate and the p-keyed half-step join ride it with zero
    # edge-side exchange/sort. The c-keyed half-step still shuffles the
    # edge side once, same as before. (A two-copy variant — a second
    # checkpoint partitioned by c — measured WORSE at the 100x decade,
    # 48 → 81 s: on a single shared heap the extra 60M-row materialization
    # costs more than the one sort it saves; SCALE.md.)
    e_p = (o.join(li, o.o_orderkey == li.l_orderkey)
           .select(F.col("o_custkey").alias("c"),
                   F.col("l_partkey").alias("p"))
           .repartition("p").dropDuplicates(["c", "p"])
           .sortWithinPartitions("p")
           .localCheckpoint(eager=True))

    def normalize(raw_df, key, out):
        # checkpoint the raw aggregate (key-count-sized: #parts or
        # #customers) BEFORE the max-collect: without it each round's max
        # AND the final result re-derive every earlier round's edge-sized
        # join+aggregate from scratch — measured 68.7 s → 48.3 s at the
        # 100x decade (→ 34 s after the fused p-partitioned edge
        # checkpoint above; the remaining cost is the irreducible
        # edge-sized half-step passes, SCALE.md)
        raw_df = raw_df.localCheckpoint(eager=True)
        mx = raw_df.agg(F.max("raw")).collect()[0][0]  # driver scalar
        return raw_df.select(key, F.expr(f"(raw * {scale}L) div {mx}L")
                             .alias(out))

    # round 1: hub is the constant init, so auth_raw = scale * degree
    a = normalize(e_p.groupBy("p").agg((F.lit(scale).cast("bigint")
                                        * F.count(F.lit(1)))
                                       .alias("raw")), "p", "a")
    h = normalize(e_p.join(a, "p").groupBy("c")
                  .agg(F.sum("a").cast("bigint").alias("raw")), "c", "h")
    # round 2: authority refresh from normalized hubs
    a = normalize(e_p.join(h, "c").groupBy("p")
                  .agg(F.sum("h").cast("bigint").alias("raw")), "p", "a")
    return (a.select(F.col("p").cast("bigint").alias("part_id"),
                     F.col("a").cast("bigint").alias("auth_score"))
            .orderBy(F.desc("auth_score"), "part_id").limit(10))


# --- data-quality expectations (Deequ-style validation report) ---------------

_EXPECTATIONS_ORACLE = """
    WITH base AS (
        SELECT COUNT(*) AS n,
               SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                        THEN 1 ELSE 0 END) AS v_qty,
               SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.10
                        THEN 1 ELSE 0 END) AS v_disc,
               SUM(CASE WHEN l_tax > 0.05 THEN 1 ELSE 0 END) AS v_tax,
               SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                        THEN 1 ELSE 0 END) AS v_flag,
               SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                   AS v_null
        FROM lineitem
    ),
    ref AS (
        SELECT COUNT(*) AS v_ref FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)
    ),
    dup AS (
        SELECT COUNT(*) AS v_dup FROM (
            SELECT l_orderkey, l_linenumber FROM lineitem
            GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)
    ),
    checks AS (
        SELECT 'l_quantity_range' AS check_name, v_qty AS v, n FROM base
        UNION ALL SELECT 'l_discount_range', v_disc, n FROM base
        UNION ALL SELECT 'l_tax_below_5pct', v_tax, n FROM base
        UNION ALL SELECT 'l_returnflag_domain', v_flag, n FROM base
        UNION ALL SELECT 'l_shipdate_not_null', v_null, n FROM base
        UNION ALL SELECT 'orderkey_referential', r.v_ref, b.n
                  FROM ref r, base b
        UNION ALL SELECT 'orderkey_linenumber_unique', d.v_dup, b.n
                  FROM dup d, base b
    )
    SELECT check_name,
           CAST(v AS BIGINT) AS n_violations,
           CAST(n AS BIGINT) AS n_rows,
           v = 0 AS passed
    FROM checks
"""


@register(
    "q_data_expectations",
    oracle=_EXPECTATIONS_ORACLE,
    doc="Data-quality expectations report (the Deequ/Great-Expectations "
        "pattern): seven declarative checks over lineitem — two range "
        "constraints, a max-threshold, a value-domain, a not-null, a "
        "referential-integrity anti-join against orders, and a "
        "composite-key uniqueness check — emitted as one "
        "(check, violations, rows, passed) validation table; the "
        "fixture genuinely fails two of them (tax threshold, "
        "orderkey+linenumber uniqueness), so both report branches are "
        "exercised. Scale shape: the five row-wise checks fuse into ONE "
        "partial-aggregated scan (a single one-row frame stacked into "
        "report rows); the anti-join and the duplicate-key check are "
        "each one shuffle; no per-check scans.",
    tags=("quality", "validation"),
)
def q_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")

    def v(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    base = li.agg(
        F.count(F.lit(1)).alias("n"),
        v((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50))
        .alias("v_qty"),
        v((F.col("l_discount") < 0.0) | (F.col("l_discount") > 0.10))
        .alias("v_disc"),
        v(F.col("l_tax") > 0.05).alias("v_tax"),
        v(~F.col("l_returnflag").isin("A", "N", "R")).alias("v_flag"),
        v(F.col("l_shipdate").isNull()).alias("v_null"))
    ref = (li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
           .agg(F.count(F.lit(1)).alias("v_ref")))
    dup = (li.groupBy("l_orderkey", "l_linenumber")
           .agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
           .agg(F.count(F.lit(1)).alias("v_dup")))
    combined = base.crossJoin(F.broadcast(ref)).crossJoin(F.broadcast(dup))
    report = combined.selectExpr(
        "n",
        "stack(7, "
        " 'l_quantity_range', v_qty,"
        " 'l_discount_range', v_disc,"
        " 'l_tax_below_5pct', v_tax,"
        " 'l_returnflag_domain', v_flag,"
        " 'l_shipdate_not_null', v_null,"
        " 'orderkey_referential', v_ref,"
        " 'orderkey_linenumber_unique', v_dup"
        ") as (check_name, v)")
    return report.select(
        "check_name",
        F.col("v").cast("bigint").alias("n_violations"),
        F.col("n").cast("bigint").alias("n_rows"),
        (F.col("v") == 0).alias("passed"))


# --- snapshot diff (dataset reconciliation) ----------------------------------

_SNAPDIFF_ORACLE = """
    WITH v1 AS (
        SELECT o_orderkey AS k,
               o_orderstatus || '|' || o_orderpriority || '|'
                   || CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                           AS VARCHAR) AS payload
        FROM orders
    ),
    v2 AS (
        SELECT o_orderkey AS k,
               o_orderstatus || '|'
                   || CASE WHEN o_orderkey % 13 = 1 THEN 'X-CHANGED'
                           ELSE o_orderpriority END || '|'
                   || CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                           AS VARCHAR) AS payload
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000 AS k,
               'NEW|INSERTED|0' AS payload
        FROM orders WHERE o_orderkey % 41 = 0
    ),
    d AS (
        SELECT CASE WHEN v1.k IS NULL THEN 'added'
                    WHEN v2.k IS NULL THEN 'removed'
                    WHEN v1.payload <> v2.payload THEN 'changed'
                    ELSE 'unchanged' END AS category
        FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    )
    SELECT category, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM d GROUP BY category
"""


@register(
    "q_snapshot_diff",
    oracle=_SNAPDIFF_ORACLE,
    doc="Snapshot diff / dataset reconciliation: FULL OUTER join two "
        "table versions on the primary key, compare a canonical payload "
        "string, and bucket every key into added / removed / changed / "
        "unchanged — the migration-validation and CDC-audit primitive "
        "(v2 is synthesized deterministically from orders: %97 keys "
        "deleted, %13 priorities mutated, %41 keys re-inserted shifted "
        "— all four buckets are non-empty). Payload totalprice rides in "
        "exact cents so the comparison is bit-stable. Scale shape: one "
        "co-partitioned full-outer shuffle on the key + one tiny "
        "4-group aggregate; at 100 TB you'd pre-bucket both sides on k "
        "and diff without a shuffle.",
    tags=("quality", "reconciliation"),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    payload_v1 = F.concat_ws(
        "|", "o_orderstatus", "o_orderpriority", cents.cast("string"))
    v1 = o.select(F.col("o_orderkey").alias("k"),
                  payload_v1.alias("payload"))
    payload_v2 = F.concat_ws(
        "|", F.col("o_orderstatus"),
        F.when(F.col("o_orderkey") % 13 == 1, F.lit("X-CHANGED"))
         .otherwise(F.col("o_orderpriority")),
        cents.cast("string"))
    v2 = (o.filter(F.col("o_orderkey") % 97 != 0)
          .select(F.col("o_orderkey").alias("k"),
                  payload_v2.alias("payload"))
          .unionByName(
              o.filter(F.col("o_orderkey") % 41 == 0)
              .select((F.col("o_orderkey") + 10_000_000).alias("k"),
                      F.lit("NEW|INSERTED|0").alias("payload"))))
    d = (v1.withColumnRenamed("payload", "p1")
         .join(v2.withColumnRenamed("payload", "p2"), "k", "full_outer")
         .select(
             F.when(F.col("p1").isNull(), F.lit("added"))
              .when(F.col("p2").isNull(), F.lit("removed"))
              .when(F.col("p1") != F.col("p2"), F.lit("changed"))
              .otherwise(F.lit("unchanged")).alias("category")))
    return d.groupBy("category").agg(F.count(F.lit(1)).alias("n_rows"))


# --- ordered LISTAGG (Spark 4.0 SQL aggregate) -------------------------------

_LISTAGG_ORACLE = """
    WITH ranked AS (
        SELECT c_mktsegment, c_name,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey)
                   AS rn
        FROM customer
    )
    SELECT c_mktsegment,
           string_agg(c_name, ',' ORDER BY rn) AS top_names,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ranked WHERE rn <= 5
    GROUP BY c_mktsegment
"""


@register(
    "q_listagg_topn",
    oracle=_LISTAGG_ORACLE,
    doc="Ordered string aggregation of a per-group top-N: rank "
        "customers per market segment by balance (custkey tie-break), "
        "keep the top 5, and LISTAGG their names in rank order — "
        "Spark 4.0's new listagg ... WITHIN GROUP aggregate (DuckDB's "
        "string_agg ORDER BY is the oracle's spelling of the same "
        "ANSI semantics). Determinism comes from the total-order rank, "
        "not the aggregate: an unordered listagg would be "
        "partition-order-dependent and can never hash-match. Scale "
        "shape: one WindowGroupLimit-able rank + one tiny aggregate.",
    tags=("agg", "sql"),
)
def q_listagg_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_listagg")
    return spark.sql("""
        WITH ranked AS (
            SELECT c_mktsegment, c_name,
                   ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal DESC, c_custkey)
                       AS rn
            FROM customer_listagg
        )
        SELECT c_mktsegment,
               listagg(c_name, ',') WITHIN GROUP (ORDER BY rn)
                   AS top_names,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ranked WHERE rn <= 5
        GROUP BY c_mktsegment
    """)


# --- degree distribution (graph health report) -------------------------------

_DEGREE_HIST_ORACLE = """
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (SELECT c, COUNT(*) AS d FROM edges GROUP BY c),
    bucketed AS (
        SELECT CAST(LENGTH(bin(d)) - 1 AS BIGINT) AS log2_bucket, d
        FROM deg
    )
    SELECT log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(d) AS BIGINT) AS min_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree,
           CAST(SUM(d) AS BIGINT) AS sum_degree
    FROM bucketed
    GROUP BY log2_bucket
"""


@register(
    "q_degree_histogram",
    oracle=_DEGREE_HIST_ORACLE,
    doc="Log2-bucketed degree distribution of the customer->part "
        "purchase graph — the graph-health report that decides the "
        "skew strategy for every downstream graph operator (a heavy "
        "tail here is what makes the triangle/k-core hot-cell cap and "
        "the degree-ordered orientation necessary). The log2 bucket is "
        "LENGTH(bin(d))-1 — exact integer bit-length arithmetic on "
        "both engines, deliberately NOT FLOOR(LN(d)/LN(2)), whose "
        "libm ln can differ by 1 ulp between JVM and C at power-of-two "
        "boundaries. One distinct + two aggregates.",
    tags=("graph", "profiling"),
)
def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    deg = (o.join(li, o.o_orderkey == li.l_orderkey)
           .select(F.col("o_custkey").alias("c"),
                   F.col("l_partkey").alias("p"))
           .distinct()
           .groupBy("c").agg(F.count(F.lit(1)).alias("d")))
    b = deg.select(
        (F.length(F.bin(F.col("d"))) - 1).cast("bigint")
        .alias("log2_bucket"),
        "d")
    return (b.groupBy("log2_bucket")
            .agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.min("d").cast("bigint").alias("min_degree"),
                 F.max("d").cast("bigint").alias("max_degree"),
                 F.sum("d").cast("bigint").alias("sum_degree")))


# --- corpus novelty curve (first-seen shingles per arrival batch) ------------

_NOVELTY_ORACLE = r"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
                                   '\s+'), x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, t[i] || ' ' || t[i+1] AS shingle
            FROM (SELECT doc_id, t,
                         unnest(generate_series(1, len(t)-1)) AS i
                  FROM toks)
        )
    ),
    first_seen AS (
        SELECT shingle, MIN(doc_id) AS first_doc FROM grams GROUP BY shingle
    ),
    flagged AS (
        SELECT g.doc_id,
               CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END AS novel
        FROM grams g JOIN first_seen f ON g.shingle = f.shingle
    )
    SELECT CAST(doc_id // 100 AS BIGINT) AS batch,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(novel) AS BIGINT) AS novel_shingles,
           CAST(COUNT(*) AS BIGINT) AS total_shingles,
           FLOOR(CAST(SUM(novel) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6
               AS novelty_ratio
    FROM flagged
    GROUP BY batch
"""


@register(
    "q_corpus_novelty",
    oracle=_NOVELTY_ORACLE,
    doc="Corpus novelty curve: per arrival batch (doc_id div 100), the "
        "fraction of word-bigram shingles never seen in ANY earlier "
        "document — the saturation signal that tells a crawl pipeline "
        "when additional data from a source stops adding information "
        "(novelty decays as the corpus saturates; the curve's knee "
        "drives source-level stop/keep decisions). First-seen is "
        "MIN(doc_id) per shingle — one aggregate over the exploded "
        "distinct shingle table, joined back shingle-keyed, so both "
        "the 'first' pass and the flag pass shuffle on the same key; "
        "counts are exact integers, the ratio one rounded double "
        "division.",
    tags=("llm", "curation"),
)
def q_corpus_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sh = (D.shingle_table(d, "doc_id", "text", n=2).distinct()
          .localCheckpoint(eager=True))
    first = sh.groupBy("shingle").agg(F.min("doc").alias("first_doc"))
    flagged = (sh.join(first, "shingle")
               .select("doc",
                       F.when(F.col("doc") == F.col("first_doc"), 1)
                        .otherwise(0).alias("novel")))
    return (flagged
            .groupBy((F.col("doc") / 100).cast("bigint").alias("batch"))
            .agg(F.countDistinct("doc").alias("n_docs"),
                 F.sum("novel").cast("bigint").alias("novel_shingles"),
                 F.count(F.lit(1)).alias("total_shingles"),
                 (F.floor(F.sum("novel").cast("double")
                          / F.count(F.lit(1)) * 1e6 + 0.5) / 1e6)
                 .alias("novelty_ratio")))


# --- daily concurrency peak (sweep line) -------------------------------------

_CONCURRENCY_ORACLE = """
    WITH intervals AS (
        SELECT event_id, CAST(ts AS DATE) AS day, ts AS s,
               ts + INTERVAL 1 MINUTE
                    * (CAST(FLOOR(value) AS BIGINT) % 30 + 1) AS e
        FROM events
    ),
    pts AS (
        SELECT day, s AS t, 1 AS delta, event_id FROM intervals
        UNION ALL
        SELECT day, e AS t, -1 AS delta, event_id FROM intervals
    ),
    swept AS (
        SELECT day,
               SUM(delta) OVER (PARTITION BY day
                                ORDER BY t, delta DESC, event_id
                                ROWS UNBOUNDED PRECEDING) AS load
        FROM pts
    )
    SELECT day,
           CAST(MAX(load) AS BIGINT) AS peak_concurrency,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
    FROM swept
    GROUP BY day
"""


@register(
    "q_concurrency_peak",
    oracle=_CONCURRENCY_ORACLE,
    doc="Daily peak concurrency by sweep line: each event opens an "
        "interval (duration derived from its value), every interval "
        "contributes a +1 start / -1 end point, and the peak is the "
        "max of the running sum — the capacity-planning primitive "
        "(max concurrent sessions/jobs/connections). Determinism: the "
        "sweep order is the total order (t, delta DESC, event_id) — "
        "starts sort before ends at equal timestamps, so touching "
        "intervals count as overlapping identically on both engines. "
        "Scale shape: the window partitions by day (embarrassingly "
        "parallel across days; intervals are attributed to their "
        "start's day), never a global single-partition sort.",
    tags=("temporal", "analytics"),
)
def q_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    iv = e.select(
        "event_id",
        F.to_date("ts").alias("day"),
        F.col("ts").alias("s"),
        (F.col("ts") + F.make_interval(
            mins=(F.floor("value").cast("bigint") % 30 + 1).cast("int")))
        .alias("e"))
    pts = (iv.select("day", F.col("s").alias("t"), F.lit(1).alias("delta"),
                     "event_id")
           .unionByName(iv.select("day", F.col("e").alias("t"),
                                  F.lit(-1).alias("delta"), "event_id")))
    w = (Window.partitionBy("day")
         .orderBy(F.col("t"), F.col("delta").desc(), F.col("event_id"))
         .rowsBetween(Window.unboundedPreceding, 0))
    swept = pts.select("day", F.sum("delta").over(w).alias("load"))
    return (swept.groupBy("day")
            .agg(F.max("load").cast("bigint").alias("peak_concurrency"),
                 (F.count(F.lit(1)) / 2).cast("bigint")
                 .alias("n_intervals")))


# --- event-type transition matrix (Markov counts) ----------------------------

_TRANSITIONS_ORACLE = """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type, event_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ),
    totals AS (
        SELECT prev_type, SUM(n) AS tot FROM pairs GROUP BY prev_type
    )
    SELECT p.prev_type AS from_type, p.event_type AS to_type,
           CAST(p.n AS BIGINT) AS n,
           FLOOR(CAST(p.n AS DOUBLE) / t.tot * 1e6 + 0.5) / 1e6
               AS transition_p
    FROM pairs p JOIN totals t ON p.prev_type = t.prev_type
"""


@register(
    "q_event_transitions",
    oracle=_TRANSITIONS_ORACLE,
    doc="First-order Markov transition matrix over per-user event "
        "sequences: LAG pairs each event with its predecessor under "
        "the (ts, event_id) total order, pair counts aggregate, and "
        "the row-normalized transition probability is one rounded "
        "double division of exact integer counts — the sequence-"
        "modeling prep for behavioral data (and the sanity check "
        "before training on event streams). One user_id window "
        "shuffle + two small aggregates; the matrix is "
        "|event_types|^2-bounded regardless of data size.",
    tags=("temporal", "analytics"),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type",
                   F.lag("event_type").over(w).alias("prev_type"))
    pairs = (seq.filter(F.col("prev_type").isNotNull())
             .groupBy("prev_type", "event_type")
             .agg(F.count(F.lit(1)).alias("n")))
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    return (pairs.join(totals, "prev_type")
            .select(F.col("prev_type").alias("from_type"),
                    F.col("event_type").alias("to_type"),
                    F.col("n").cast("bigint").alias("n"),
                    (F.floor(F.col("n").cast("double") / F.col("tot")
                             * 1e6 + 0.5) / 1e6).alias("transition_p")))


# --- time-weighted average (TWAP) --------------------------------------------

_TWAP_ORACLE = """
    WITH seq AS (
        SELECT user_id, CAST(ts AS DATE) AS day, value, ts,
               LEAD(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    weighted AS (
        SELECT user_id, day,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
               CAST(date_diff('microsecond', ts, nxt) AS BIGINT) AS w_us
        FROM seq WHERE nxt IS NOT NULL
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(cents * w_us) AS BIGINT) AS weighted_sum,
           CAST(SUM(w_us) AS BIGINT) AS total_us,
           FLOOR(CAST(SUM(cents * w_us) AS DOUBLE) / SUM(w_us) * 1e4
                 + 0.5) / 1e6 AS twap
    FROM weighted
    GROUP BY day
"""


@register(
    "q_time_weighted_avg",
    oracle=_TWAP_ORACLE,
    doc="Time-weighted average (TWAP): each observation holds until the "
        "user's next event that day (LEAD under the (ts, event_id) "
        "total order), contributing value x holding-microseconds — the "
        "sensor/finance aggregation where irregular sampling makes the "
        "plain mean wrong (a value held 1 hour must outweigh one held "
        "1 second; EWMA covers exponential decay, this is the linear-"
        "in-time complement). Exact integer cents x microsecond "
        "weights (order-free sums; magnitudes ~1e4 x 1e10 stay far "
        "under int64), one rounded division at the end. One "
        "(user, day) window shuffle + one day aggregate.",
    tags=("temporal", "analytics"),
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        "ts", "event_id")
    seq = e.select("user_id", day, "value", "ts",
                   F.lead("ts").over(w).alias("nxt"))
    weighted = (seq.filter(F.col("nxt").isNotNull())
                .select("day",
                        F.floor(F.col("value") * 100 + 0.5).cast("bigint")
                        .alias("cents"),
                        (F.unix_micros("nxt") - F.unix_micros("ts"))
                        .alias("w_us")))
    return (weighted.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_segments"),
                 F.sum(F.col("cents") * F.col("w_us")).cast("bigint")
                 .alias("weighted_sum"),
                 F.sum("w_us").cast("bigint").alias("total_us"),
                 (F.floor(F.sum(F.col("cents") * F.col("w_us"))
                          .cast("double") / F.sum("w_us") * 1e4 + 0.5)
                  / 1e6).alias("twap")))


# --- RFM customer segmentation -----------------------------------------------

_RFM_ORACLE = """
    WITH base AS (
        SELECT o_custkey,
               date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                         DATE '2001-08-01') AS recency_days,
               COUNT(*) AS frequency,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT monetary_cents,
               NTILE(4) OVER (ORDER BY recency_days, o_custkey)
                   AS r_score,
               NTILE(4) OVER (ORDER BY frequency DESC, o_custkey)
                   AS f_score,
               NTILE(4) OVER (ORDER BY monetary_cents DESC, o_custkey)
                   AS m_score
        FROM base
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS sum_m_cents
    FROM scored GROUP BY r_score, f_score, m_score
"""


def _exact_ntile(df, order, k, out):
    """NTILE(k) under a total order WITHOUT a single-partition window:
    global_rank (range partition + O(#partitions) offsets) + NTILE's
    exact fat-bucket arithmetic (first n%k buckets take one extra row).
    The same construction q_equidepth_histogram pins against a bare
    NTILE(10) oracle."""
    from ..operators.ranking import global_rank

    ranked = global_rank(df, order, out_col="__r")
    tot = ranked.agg(F.count(F.lit(1)).alias("__n"))
    rank1 = F.col("__r") + 1
    q = (F.col("__n") / k).cast("bigint")
    r = F.col("__n") % k
    cut = r * (q + 1)
    fat = ((rank1 + q) / (q + 1)).cast("bigint")
    thin = (r + ((rank1 - cut) + F.greatest(q, F.lit(1)) - 1)
            / F.greatest(q, F.lit(1))).cast("bigint")
    return (ranked.crossJoin(F.broadcast(tot))
            .withColumn(out, F.when(rank1 <= cut, fat).otherwise(thin)
                        .cast("int"))
            .drop("__r", "__n"))


@register(
    "q_rfm_segmentation",
    oracle=_RFM_ORACLE,
    doc="RFM customer segmentation: recency (days since last order at "
        "a fixed reference date), frequency (order count), monetary "
        "(exact total cents) per customer, each scored into exact "
        "quartiles under a custkey-tie-broken total order, rolled up "
        "to the 4x4x4 segment grid — the standard marketing/churn "
        "cohorting. Each quartile pass is _exact_ntile (global_rank + "
        "NTILE fat-bucket arithmetic — never a single-task global "
        "window); the oracle spells the same thing as three bare "
        "NTILE(4) windows.",
    tags=("analytics", "segmentation"),
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    base = (o.groupBy(F.col("o_custkey"))
            .agg(F.datediff(F.lit("2001-08-01").cast("date"),
                            F.max(F.to_date("o_orderdate")))
                 .alias("recency_days"),
                 F.count(F.lit(1)).alias("frequency"),
                 F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)
                       .cast("bigint")).alias("monetary_cents")))
    s = _exact_ntile(base, [F.col("recency_days"), F.col("o_custkey")],
                     4, "r_score")
    s = _exact_ntile(s, [F.col("frequency").desc(), F.col("o_custkey")],
                     4, "f_score")
    s = _exact_ntile(s, [F.col("monetary_cents").desc(),
                         F.col("o_custkey")], 4, "m_score")
    return (s.groupBy("r_score", "f_score", "m_score")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum("monetary_cents").cast("bigint")
                 .alias("sum_m_cents")))


# --- source overlap matrix (inter-source contamination) ----------------------

_SOURCE_OVERLAP_ORACLE = r"""
    WITH toks AS (
        SELECT source, list_filter(string_split_regex(lower(trim(text)),
                                   '\s+'), x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT source, shingle FROM (
            SELECT source, t[i] || ' ' || t[i+1] AS shingle
            FROM (SELECT source, t,
                         unnest(generate_series(1, len(t)-1)) AS i
                  FROM toks)
        )
    ),
    rare AS (
        SELECT shingle FROM grams GROUP BY shingle
        HAVING COUNT(*) <= 10
    ),
    capped AS (
        SELECT g.source, g.shingle FROM grams g
        JOIN rare r ON g.shingle = r.shingle
    ),
    sizes AS (
        SELECT source, COUNT(*) AS sz FROM capped GROUP BY source
    ),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS shared_shingles
        FROM capped a JOIN capped b
          ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT s.source_a, s.source_b,
           CAST(s.shared_shingles AS BIGINT) AS shared_shingles,
           FLOOR(CAST(s.shared_shingles AS DOUBLE)
                 / LEAST(za.sz, zb.sz) * 1e6 + 0.5) / 1e6
               AS overlap_coeff
    FROM shared s
    JOIN sizes za ON za.source = s.source_a
    JOIN sizes zb ON zb.source = s.source_b
"""


@register(
    "q_source_overlap",
    oracle=_SOURCE_OVERLAP_ORACLE,
    doc="Inter-source overlap matrix: for every source pair, the count "
        "of shared DISTINCTIVE word-bigrams and the overlap coefficient "
        "|A∩B|/min(|A|,|B|) — the provenance-contamination audit that "
        "catches mirrored/scraped-from-each-other sources before "
        "per-source quotas are set. Shingles appearing in more than 10 "
        "sources are dropped FIRST (a document-frequency cap — "
        "ubiquitous shingles carry no provenance signal, and the cap "
        "bounds the self-join fanout exactly the way the triangle "
        "hot-cell cap does; same lever at 100 TB). One shingle-keyed "
        "self-join on the capped set + broadcast sizes.",
    tags=("llm", "curation"),
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    grams = (D.shingle_table(d, "source", "text", n=2)
             .withColumnRenamed("doc", "source").distinct()
             .localCheckpoint(eager=True))
    rare = (grams.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= 10).select("shingle"))
    capped = grams.join(rare, "shingle").localCheckpoint(eager=True)
    sizes = capped.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a = capped.select(F.col("source").alias("source_a"), "shingle")
    b = capped.select(F.col("source").alias("source_b"), "shingle")
    shared = (a.join(b, "shingle")
              .filter(F.col("source_a") < F.col("source_b"))
              .groupBy("source_a", "source_b")
              .agg(F.count(F.lit(1)).alias("shared_shingles")))
    za = sizes.select(F.col("source").alias("source_a"),
                      F.col("sz").alias("sza"))
    zb = sizes.select(F.col("source").alias("source_b"),
                      F.col("sz").alias("szb"))
    return (shared.join(F.broadcast(za), "source_a")
            .join(F.broadcast(zb), "source_b")
            .select("source_a", "source_b",
                    F.col("shared_shingles").cast("bigint")
                    .alias("shared_shingles"),
                    (F.floor(F.col("shared_shingles").cast("double")
                             / F.least("sza", "szb") * 1e6 + 0.5) / 1e6)
                    .alias("overlap_coeff")))


# --- seasonal baseline + residual outliers -----------------------------------

_SEASONAL_ORACLE = """
    WITH pts AS (
        SELECT date_diff('day', DATE '1995-01-02', CAST(ts AS DATE)) % 7
                   AS dow,
               EXTRACT(hour FROM ts) AS hour,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    prof AS (
        SELECT dow, hour, COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(cents * cents) AS BIGINT) AS sq
        FROM pts GROUP BY dow, hour
    ),
    flagged AS (
        SELECT p.dow, p.hour, pr.n, pr.s,
               CASE WHEN ABS(CAST(p.cents AS DOUBLE)
                             - CAST(pr.s AS DOUBLE) / pr.n)
                         > 2.0 * SQRT(GREATEST(
                               CAST(pr.sq AS DOUBLE) / pr.n
                               - (CAST(pr.s AS DOUBLE) / pr.n)
                                 * (CAST(pr.s AS DOUBLE) / pr.n), 0.0))
                    THEN 1 ELSE 0 END AS is_outlier
        FROM pts p JOIN prof pr ON p.dow = pr.dow AND p.hour = pr.hour
    )
    SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour,
           CAST(MAX(n) AS BIGINT) AS n_events,
           FLOOR(CAST(MAX(s) AS DOUBLE) / MAX(n) * 1e4 + 0.5) / 1e6
               AS mean_value,
           CAST(SUM(is_outlier) AS BIGINT) AS n_outliers
    FROM flagged GROUP BY dow, hour
"""


@register(
    "q_seasonal_baseline",
    oracle=_SEASONAL_ORACLE,
    doc="Seasonal baseline + residual outliers: an hour-of-week profile "
        "(day-of-week x hour mean from exact integer cents) and, per "
        "cell, the count of events beyond 2 sigma of the cell's own "
        "variance — the monitoring primitive that separates 'Friday "
        "5pm is always high' from genuine anomalies (the seasonal "
        "complement of the MAD family). Day-of-week is pure integer "
        "date arithmetic (days since a known Monday, mod 7) — "
        "deliberately not dayofweek(), whose numbering differs between "
        "engines. Mean/sigma are IEEE expressions over identical exact "
        "integer sums, so both engines compare identical doubles. One "
        "profile aggregate + one broadcast join-back over the same "
        "grouping key.",
    tags=("temporal", "anomaly"),
)
def q_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    pts = e.select(
        (F.datediff(F.to_date("ts"), F.lit("1995-01-02").cast("date"))
         % 7).alias("dow"),
        F.hour("ts").alias("hour"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"))
    prof = (pts.groupBy("dow", "hour")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("cents").cast("bigint").alias("s"),
                 F.sum(F.col("cents") * F.col("cents")).cast("bigint")
                 .alias("sq")))
    mean = F.col("s").cast("double") / F.col("n")
    var = F.greatest(
        F.col("sq").cast("double") / F.col("n") - mean * mean, F.lit(0.0))
    flagged = (pts.join(F.broadcast(prof), ["dow", "hour"])
               .select("dow", "hour", "n", "s",
                       F.when(F.abs(F.col("cents").cast("double") - mean)
                              > 2.0 * F.sqrt(var), 1).otherwise(0)
                       .alias("is_outlier")))
    return (flagged.groupBy("dow", "hour")
            .agg(F.max("n").cast("bigint").alias("n_events"),
                 (F.floor(F.max("s").cast("double") / F.max("n") * 1e4
                          + 0.5) / 1e6).alias("mean_value"),
                 F.sum("is_outlier").cast("bigint").alias("n_outliers"))
            .withColumn("dow", F.col("dow").cast("bigint"))
            .withColumn("hour", F.col("hour").cast("bigint")))


# --- top session paths --------------------------------------------------------

_TOP_PATHS_ORACLE = """
    WITH ranked AS (
        SELECT user_id, CAST(ts AS DATE) AS day, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id, day,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ranked WHERE rn <= 5
        GROUP BY user_id, day
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
"""


@register(
    "q_top_paths",
    oracle=_TOP_PATHS_ORACLE,
    doc="Top user-session paths: the ordered first-5 event types per "
        "(user, day) concatenated into a path string, counted, top-20 "
        "— the behavioral-flow report behind funnel design (which "
        "5-step sequences actually happen). The path is an ordered "
        "LISTAGG under the (ts, event_id) total order truncated by "
        "row_number, so it is hash-stable; the top-k carries the "
        "explicit path tie-break. One (user, day) window shuffle + a "
        "path aggregate + TakeOrdered.",
    tags=("temporal", "analytics"),
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events_paths")
    return spark.sql("""
        WITH ranked AS (
            SELECT user_id, CAST(ts AS DATE) AS day, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id,
                                                   CAST(ts AS DATE)
                                      ORDER BY ts, event_id) AS rn
            FROM events_paths
        ),
        paths AS (
            SELECT user_id, day,
                   listagg(event_type, '>') WITHIN GROUP (ORDER BY rn)
                       AS path
            FROM ranked WHERE rn <= 5
            GROUP BY user_id, day
        )
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        FROM paths GROUP BY path
        ORDER BY n_sessions DESC, path
        LIMIT 20
    """)


# --- A/B test two-proportion z-score -----------------------------------------

_AB_TEST_ORACLE = """
    WITH conv AS (
        SELECT user_id % 2 AS grp,
               MAX(CASE WHEN value > 300.0 THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    agg AS (
        SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(SUM(CASE WHEN grp = 0 THEN converted ELSE 0 END)
                    AS BIGINT) AS conv_a,
               CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
               CAST(SUM(CASE WHEN grp = 1 THEN converted ELSE 0 END)
                    AS BIGINT) AS conv_b
        FROM conv
    )
    SELECT n_a, conv_a, n_b, conv_b,
           FLOOR((CAST(conv_b AS DOUBLE) / n_b
                  - CAST(conv_a AS DOUBLE) / n_a) * 1e6 + 0.5) / 1e6
               AS lift,
           FLOOR((CAST(conv_b AS DOUBLE) / n_b
                  - CAST(conv_a AS DOUBLE) / n_a)
                 / SQRT((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                                 / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)) * 1e6 + 0.5) / 1e6
               AS z_score
    FROM agg
"""


@register(
    "q_ab_test_zscore",
    oracle=_AB_TEST_ORACLE,
    doc="A/B experiment readout: users deterministically assigned by "
        "user_id parity, per-user conversion (any event above the "
        "value threshold), and the pooled two-proportion z-score — the "
        "experimentation primitive every product pipeline ends in. "
        "Counts are exact integers; lift and z are IEEE expressions "
        "over identical integers (division/sqrt are correctly rounded, "
        "so both engines produce bit-identical doubles), rounded 6dp. "
        "One user aggregate + one 4-scalar rollup.",
    tags=("analytics", "stats"),
)
def q_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    conv = (e.groupBy("user_id")
            .agg(F.max(F.when(F.col("value") > 300.0, 1).otherwise(0))
                 .alias("converted"))
            .select((F.col("user_id") % 2).alias("grp"), "converted"))
    agg = conv.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("grp") == 0, F.col("converted")).otherwise(0))
        .cast("bigint").alias("conv_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("grp") == 1, F.col("converted")).otherwise(0))
        .cast("bigint").alias("conv_b"))
    pa = F.col("conv_a").cast("double") / F.col("n_a")
    pb = F.col("conv_b").cast("double") / F.col("n_b")
    pooled = ((F.col("conv_a") + F.col("conv_b")).cast("double")
              / (F.col("n_a") + F.col("n_b")))
    z = (pb - pa) / F.sqrt(pooled * (1.0 - pooled)
                           * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    return agg.select(
        "n_a", "conv_a", "n_b", "conv_b",
        (F.floor((pb - pa) * 1e6 + 0.5) / 1e6).alias("lift"),
        (F.floor(z * 1e6 + 0.5) / 1e6).alias("z_score"))


# --- market-basket pair mining ------------------------------------------------

_BASKET_PAIRS_ORACLE = """
    WITH items AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
        FROM events
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets
          FROM (SELECT DISTINCT user_id, day FROM items)),
    supp AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_item
        FROM items GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS item_a, b.event_type AS item_b,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM items a
        JOIN items b
          ON a.user_id = b.user_id AND a.day = b.day
         AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT p.item_a, p.item_b, p.n_ab,
           FLOOR((CAST(p.n_ab AS DOUBLE) * n.n_baskets)
                 / (CAST(sa.n_item AS DOUBLE) * sb.n_item) * 1e6 + 0.5)
               / 1e6 AS lift
    FROM pairs p
    JOIN supp sa ON sa.event_type = p.item_a
    JOIN supp sb ON sb.event_type = p.item_b
    CROSS JOIN n
    WHERE p.n_ab * 100 >= n.n_baskets
    ORDER BY p.n_ab DESC, p.item_a, p.item_b
"""


@register(
    "q_basket_pairs",
    oracle=_BASKET_PAIRS_ORACLE,
    doc="Market-basket pair mining: baskets are (user, day) sets of "
        "distinct event types; co-occurring pairs with support >= 1% of "
        "baskets, plus lift = N*n_ab/(n_a*n_b) — the association-rule "
        "primitive behind recommendation and feature co-occurrence "
        "analysis. The self-join keys on the basket id, so work is "
        "sum-of-squares of per-basket item counts (bounded by the item "
        "vocabulary, here 5), never all-pairs over rows; item supports "
        "and N broadcast back. Counts are exact integers; lift is one "
        "IEEE expression over identical integers, 6dp. At 100 TB the "
        "same plan holds because baskets stay small (distinct types per "
        "user-day) and the support filter is Apriori's candidate prune.",
    tags=("analytics", "llm"),
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    items = (e.select("user_id", F.col("ts").cast("date").alias("day"),
                      "event_type").distinct()
             .localCheckpoint(eager=True))  # feeds N/supports/self-join x2
    n = items.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_baskets"))
    supp = items.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_item"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.day") == F.col("b.day"))
                    & (F.col("a.event_type") < F.col("b.event_type")))
             .groupBy(F.col("a.event_type").alias("item_a"),
                      F.col("b.event_type").alias("item_b"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab")))
    sa = supp.select(F.col("event_type").alias("item_a"),
                     F.col("n_item").alias("n_a"))
    sb = supp.select(F.col("event_type").alias("item_b"),
                     F.col("n_item").alias("n_b"))
    lift = ((F.col("n_ab").cast("double") * F.col("n_baskets"))
            / (F.col("n_a").cast("double") * F.col("n_b")))
    return (pairs.join(F.broadcast(sa), "item_a")
            .join(F.broadcast(sb), "item_b")
            .crossJoin(F.broadcast(n))
            .where(F.col("n_ab") * 100 >= F.col("n_baskets"))
            .select("item_a", "item_b", "n_ab",
                    (F.floor(lift * 1e6 + 0.5) / 1e6).alias("lift"))
            .orderBy(F.desc("n_ab"), "item_a", "item_b"))


# --- chi-square independence test ---------------------------------------------

_CHISQ_ORACLE = """
    WITH cells AS (
        SELECT event_type,
               CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS high_value,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT c.*,
               SUM(o) OVER (PARTITION BY event_type) AS rt,
               SUM(o) OVER (PARTITION BY high_value) AS ct,
               SUM(o) OVER () AS n
        FROM cells c
    ),
    terms AS (
        SELECT n, o, rt, ct,
               (CAST(rt AS DOUBLE) * ct) / n AS e
        FROM tot
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_total,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((COUNT(DISTINCT rt) - 1) * (COUNT(DISTINCT ct) - 1)
                AS BIGINT) AS dof,
           CAST(SUM(CAST(FLOOR((CAST(o AS DOUBLE) - e)
                                * (CAST(o AS DOUBLE) - e) / e
                                * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6
               AS chi2
    FROM terms
"""


@register(
    "q_chisq_independence",
    oracle=_CHISQ_ORACLE,
    doc="Chi-square test of independence between event_type and a "
        "high-value flag: exact integer contingency cells in one "
        "aggregate, expected counts E = rowTotal*colTotal/N, and the "
        "statistic as an order-free fixed-point sum of per-cell terms "
        "(each term is one IEEE expression over identical integers, "
        "floored to 1e-6 units and summed as BIGINT — no float "
        "accumulation-order dependence). One data-sized aggregate; "
        "everything after runs on the cell matrix (|types| x 2).",
    tags=("analytics", "stats"),
)
def q_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    cells = (e.groupBy("event_type",
                       F.when(F.col("value") > 100.0, 1).otherwise(0)
                       .alias("high_value"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("o")))
    w_r = Window.partitionBy("event_type")
    w_c = Window.partitionBy("high_value")
    w_all = Window.partitionBy()
    tot = (cells
           .withColumn("rt", F.sum("o").over(w_r))
           .withColumn("ct", F.sum("o").over(w_c))
           .withColumn("n", F.sum("o").over(w_all)))
    ed = (F.col("rt").cast("double") * F.col("ct")) / F.col("n")
    term = ((F.col("o").cast("double") - ed)
            * (F.col("o").cast("double") - ed) / ed)
    return (tot.withColumn("term_fp",
                           F.floor(term * 1e6 + 0.5).cast("bigint"))
            .agg(F.max("n").cast("bigint").alias("n_total"),
                 F.count(F.lit(1)).cast("bigint").alias("n_cells"),
                 ((F.countDistinct("rt") - 1)
                  * (F.countDistinct("ct") - 1)).cast("bigint")
                 .alias("dof"),
                 (F.sum("term_fp").cast("double") / 1e6).alias("chi2")))


# --- lag-1 autocorrelation of daily counts -------------------------------------

_AUTOCORR_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT event_type, c AS y,
               LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS x
        FROM daily
    ),
    sums AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM lagged WHERE x IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n AS n_pairs,
           FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS lag1_autocorr
    FROM sums
    ORDER BY event_type
"""


@register(
    "q_daily_autocorr",
    oracle=_AUTOCORR_ORACLE,
    doc="Lag-1 autocorrelation of the daily event-count series per "
        "event type — the time-series diagnostic behind seasonality and "
        "trend detection. Pearson r is assembled from six exact BIGINT "
        "sums over the lagged pairs (counts and their products stay "
        "well inside int64 through ~sf100), then one IEEE "
        "division+sqrt on identical integers, 6dp. One data-sized "
        "aggregate to daily counts; the lag window and moment sums run "
        "on the tiny (type, day) matrix.",
    tags=("temporal", "stats"),
)
def q_daily_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = (e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = (daily.select("event_type", F.col("c").alias("y"),
                           F.lag("c").over(w).alias("x"))
              .where(F.col("x").isNotNull()))
    sums = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("double")
    den = F.sqrt((F.col("n") * F.col("sxx")
                  - F.col("sx") * F.col("sx")).cast("double")
                 * (F.col("n") * F.col("syy")
                    - F.col("sy") * F.col("sy")).cast("double"))
    return (sums.select("event_type", F.col("n").alias("n_pairs"),
                        (F.floor(num / den * 1e6 + 0.5) / 1e6)
                        .alias("lag1_autocorr"))
            .orderBy("event_type"))


# --- Benford first-digit audit --------------------------------------------------

_BENFORD_EXPECTED = (0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
                     0.066947, 0.057992, 0.051153, 0.045757)

_BENFORD_CASE = ("CASE " + " ".join(
    f"WHEN digit = {d} THEN CAST({v!r} AS DOUBLE)"
    for d, v in enumerate(_BENFORD_EXPECTED, start=1)) + " END")

_BENFORD_ORACLE = f"""
    WITH digits AS (
        SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                     AS BIGINT) AS VARCHAR), 1, 1)
                    AS BIGINT) AS digit
        FROM orders
    ),
    agg AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total
        FROM digits GROUP BY digit
    )
    SELECT digit, n_orders,
           FLOOR(CAST(n_orders AS DOUBLE) / total * 1e6 + 0.5) / 1e6
               AS obs_frac,
           {_BENFORD_CASE} AS exp_frac
    FROM agg
    ORDER BY digit
"""


@register(
    "q_benford_digits",
    oracle=_BENFORD_ORACLE,
    doc="Benford's-law first-digit audit over order totals — the "
        "fraud/data-quality screen for financial columns. The first "
        "significant digit is extracted via exact integer cents and "
        "BIGINT-to-string (both engines format integers identically; "
        "no float formatting or libm log in the data path), counted in "
        "one aggregate; expected fractions log10(1+1/d) are inlined as "
        "shared 6dp literals so no cross-engine libm is consulted. One "
        "data-sized aggregate to 9 cells.",
    tags=("quality", "stats"),
)
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
        .cast("string"), 1, 1).cast("bigint")
    agg = (o.select(digit.alias("digit"))
           .groupBy("digit")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders")))
    w_all = Window.partitionBy()
    return (agg.withColumn("total", F.sum("n_orders").over(w_all)
                           .cast("bigint"))
            .select("digit", "n_orders",
                    (F.floor(F.col("n_orders").cast("double")
                             / F.col("total") * 1e6 + 0.5) / 1e6)
                    .alias("obs_frac"),
                    F.expr(_BENFORD_CASE).alias("exp_frac"))
            .orderBy("digit"))


# --- Mann-Whitney U (exact rank-sum test) ---------------------------------------

_MANNWHITNEY_ORACLE = """
    WITH v AS (
        SELECT event_type, value FROM events
        WHERE event_type IN ('click', 'purchase')
    ),
    r AS (
        SELECT event_type,
               RANK() OVER (ORDER BY value) AS rk,
               COUNT(*) OVER (PARTITION BY value) AS t
        FROM v
    ),
    sums AS (
        SELECT CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 2 * rk + t - 1 ELSE 0 END) AS BIGINT)
                   AS r2_b,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                        END) AS BIGINT) AS n_b
        FROM r
    ),
    ties AS (
        SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie_term
        FROM (SELECT COUNT(*) AS t FROM v GROUP BY value)
    )
    SELECT n_a, n_b,
           CAST(r2_b - n_b * (n_b + 1) AS BIGINT) AS u2_b,
           FLOOR(CAST(r2_b - n_b * (n_b + 1) - n_a * n_b AS DOUBLE)
                 / (2.0 * SQRT((CAST(n_a AS DOUBLE) * n_b / 12.0)
                               * ((n_a + n_b + 1)
                                  - CAST(tie_term AS DOUBLE)
                                    / (CAST(n_a + n_b AS DOUBLE)
                                       * (n_a + n_b - 1)))))
                 * 1e6 + 0.5) / 1e6 AS z_score
    FROM sums CROSS JOIN ties
"""


@register(
    "q_mannwhitney_u",
    oracle=_MANNWHITNEY_ORACLE,
    doc="Mann-Whitney U rank-sum test between two event types' value "
        "distributions — the non-parametric A/B primitive (no normality "
        "assumption, unlike q_ab_test_zscore). EXACT arithmetic "
        "throughout the rank machinery: ranks come from the distributed "
        "global_rank operator (range partition + offsets — no "
        "single-partition window; operators/ranking.py), tie-averaged "
        "ranks are kept in half-units (2*avg = 2*min_rank + t + 1, an "
        "integer), so the U statistic is a BIGINT with zero float "
        "accumulation; the normal-approximation z (with the exact "
        "integer tie correction sum(t^3-t)) is one IEEE expression over "
        "identical integers, 6dp. int64 bounds: 2R <= 2n^2 holds "
        "through n ~ 3e9 rows per test cell.",
    tags=("analytics", "stats"),
)
def q_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_rank

    e = load(spark, sf_dir, "events")
    v = (e.where(F.col("event_type").isin("click", "purchase"))
         .select("event_type", "value", "event_id"))
    ranked = global_rank(v, [F.col("value"), F.col("event_id")],
                         out_col="rn")
    grp = (ranked.groupBy("value")
           .agg(F.min("rn").alias("mn"),
                F.count(F.lit(1)).alias("t")))
    joined = ranked.join(grp, "value")
    sums = joined.agg(
        F.sum(F.when(F.col("event_type") == "purchase",
                     2 * F.col("mn") + F.col("t") + 1).otherwise(0))
        .cast("bigint").alias("r2_b"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint").alias("n_b"))
    ties = grp.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint").alias("tie_term"))
    n_a, n_b = F.col("n_a"), F.col("n_b")
    u2 = F.col("r2_b") - n_b * (n_b + 1)
    sigma2 = F.sqrt((n_a.cast("double") * n_b / 12.0)
                    * ((n_a + n_b + 1)
                       - F.col("tie_term").cast("double")
                       / ((n_a + n_b).cast("double") * (n_a + n_b - 1))))
    z = (u2 - n_a * n_b).cast("double") / (2.0 * sigma2)
    return (sums.crossJoin(F.broadcast(ties))
            .select(n_a.alias("n_a"), n_b.alias("n_b"),
                    u2.cast("bigint").alias("u2_b"),
                    (F.floor(z * 1e6 + 0.5) / 1e6).alias("z_score")))


# --- CUSUM change-point ----------------------------------------------------------

_CUSUM_ORACLE = """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(c) AS BIGINT) AS total
        FROM daily
    ),
    cus AS (
        SELECT day, nd,
               CAST(SUM(nd * c - total) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cusum_scaled
        FROM daily CROSS JOIN tot
    )
    SELECT day AS change_day, nd AS n_days, cusum_scaled,
           FLOOR(CAST(cusum_scaled AS DOUBLE) / nd * 1e6 + 0.5) / 1e6
               AS cusum
    FROM cus
    ORDER BY ABS(cusum_scaled) DESC, day
    LIMIT 1
"""


@register(
    "q_cusum_changepoint",
    oracle=_CUSUM_ORACLE,
    doc="CUSUM change-point detection over the daily event-count "
        "series: cumulative sum of mean-deviations, argmax |CUSUM| is "
        "the most likely level-shift day. Deviations are kept EXACT by "
        "scaling: dev_d = n_days*c_d - total (integer — no mean "
        "division inside the accumulation), so the running sum is a "
        "BIGINT and the argmax is bit-stable with an explicit "
        "earliest-day tie-break; the unscaled CUSUM is divided back "
        "once at the end, 6dp. One data-sized aggregate to the daily "
        "matrix; the ordered window runs on n_days rows.",
    tags=("temporal", "stats"),
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = (e.groupBy(F.col("ts").cast("date").alias("day"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
             .localCheckpoint(eager=True))  # matrix-sized; 2 consumers
    tot = daily.agg(F.count(F.lit(1)).cast("bigint").alias("nd"),
                    F.sum("c").cast("bigint").alias("total"))
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cus = (daily.crossJoin(F.broadcast(tot))
           .withColumn("cusum_scaled",
                       F.sum(F.col("nd") * F.col("c") - F.col("total"))
                       .over(w).cast("bigint")))
    return (cus.select(F.col("day").alias("change_day"),
                       F.col("nd").alias("n_days"), "cusum_scaled",
                       (F.floor(F.col("cusum_scaled").cast("double")
                                / F.col("nd") * 1e6 + 0.5) / 1e6)
                       .alias("cusum"))
            .orderBy(F.abs(F.col("cusum_scaled")).desc(), "change_day")
            .limit(1))


# --- longest activity streak ------------------------------------------------------

_STREAK_ORACLE = """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    isl AS (
        SELECT user_id,
               day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                             ORDER BY day) AS INTEGER)
                   AS anchor
        FROM days
    ),
    streaks AS (
        SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS len
        FROM isl GROUP BY user_id, anchor
    )
    SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(SUM(len) AS BIGINT) AS n_active_days
    FROM streaks GROUP BY user_id
    ORDER BY longest_streak DESC, user_id
    LIMIT 50
"""


@register(
    "q_longest_streak",
    oracle=_STREAK_ORACLE,
    doc="Longest consecutive-day activity streak per user via the "
        "gaps-and-islands construction: day minus the per-user "
        "row_number is constant exactly within a consecutive run, so "
        "one user-partitioned window + two aggregates produce every "
        "streak without self-joins or iteration — the engagement "
        "metric behind retention dashboards. All date/integer "
        "arithmetic (bit-stable); explicit (streak, user) total order "
        "on the top-50.",
    tags=("temporal", "analytics"),
)
def q_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("day")) \
        .distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.select(
        "user_id",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("anchor"))
    streaks = (isl.groupBy("user_id", "anchor")
               .agg(F.count(F.lit(1)).cast("bigint").alias("len")))
    return (streaks.groupBy("user_id")
            .agg(F.max("len").cast("bigint").alias("longest_streak"),
                 F.sum("len").cast("bigint").alias("n_active_days"))
            .orderBy(F.desc("longest_streak"), "user_id")
            .limit(50))


# --- Gini revenue concentration ----------------------------------------------------

_GINI_ORACLE = """
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    rk AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
        FROM rev
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s0,
               CAST(SUM(i * cents) AS BIGINT) AS s1
        FROM rk
    )
    SELECT n AS n_customers,
           CAST(s0 AS DOUBLE) / 100 AS total_revenue,
           FLOOR(((2.0 * s1) / (CAST(n AS DOUBLE) * s0)
                  - CAST(n + 1 AS DOUBLE) / n) * 1e6 + 0.5) / 1e6
               AS gini
    FROM s
"""


@register(
    "q_gini_concentration",
    oracle=_GINI_ORACLE,
    doc="Gini coefficient of per-customer revenue — the concentration "
        "metric behind whale analysis and fairness audits. Revenue is "
        "summed in exact integer cents (the exact_sum discipline); the "
        "sorted-formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n uses the "
        "distributed global_rank operator for i (range partition + "
        "offsets, no single-partition sort; ties permute only equal x "
        "so sum(i*x_i) is tie-order invariant), both moment sums are "
        "exact BIGINTs, and the final expression is one IEEE op chain "
        "over identical integers, 6dp.",
    tags=("analytics", "stats"),
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_rank

    o = load(spark, sf_dir, "orders")
    rev = (o.groupBy("o_custkey")
           .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .cast("bigint").alias("cents")))
    rk = global_rank(rev, [F.col("cents"), F.col("o_custkey")],
                     out_col="rn")
    s = rk.agg(F.count(F.lit(1)).cast("bigint").alias("n"),
               F.sum("cents").cast("bigint").alias("s0"),
               F.sum((F.col("rn") + 1) * F.col("cents")).cast("bigint")
               .alias("s1"))
    gini = ((2.0 * F.col("s1"))
            / (F.col("n").cast("double") * F.col("s0"))
            - (F.col("n") + 1).cast("double") / F.col("n"))
    return s.select(F.col("n").alias("n_customers"),
                    (F.col("s0").cast("double") / 100)
                    .alias("total_revenue"),
                    (F.floor(gini * 1e6 + 0.5) / 1e6).alias("gini"))


# --- funnel conversion latency ------------------------------------------------------

_FUNNEL_LATENCY_ORACLE = """
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup'
                        THEN epoch_us(ts) END) AS s_us,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN epoch_us(ts) END) AS p_us
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT (p_us - s_us) // 3600000000 AS bucket_h
        FROM firsts
        WHERE s_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= s_us
    )
    SELECT CAST(bucket_h AS BIGINT) AS bucket_h,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM conv GROUP BY bucket_h
    ORDER BY bucket_h
"""


@register(
    "q_funnel_latency",
    oracle=_FUNNEL_LATENCY_ORACLE,
    doc="Signup-to-purchase conversion-latency histogram: per user, "
        "first signup and first purchase at-or-after it, latency "
        "bucketed in whole hours — the time-to-convert readout behind "
        "funnel optimization. The entire data path is integer "
        "(epoch-microsecond MIN aggregates, integer division into "
        "buckets): no float timestamps, no interpolation, bit-stable "
        "by construction. One user-keyed aggregate + one bucket "
        "aggregate, both map-side combined.",
    tags=("temporal", "analytics"),
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    firsts = (e.groupBy("user_id")
              .agg(F.min(F.when(F.col("event_type") == "signup",
                                F.unix_micros("ts"))).alias("s_us"),
                   F.min(F.when(F.col("event_type") == "purchase",
                                F.unix_micros("ts"))).alias("p_us")))
    conv = (firsts
            .where(F.col("s_us").isNotNull() & F.col("p_us").isNotNull()
                   & (F.col("p_us") >= F.col("s_us")))
            .selectExpr("(p_us - s_us) DIV 3600000000 AS bucket_h"))
    return (conv.groupBy("bucket_h")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
            .withColumn("bucket_h", F.col("bucket_h").cast("bigint"))
            .select("bucket_h", "n_users")
            .orderBy("bucket_h"))


# --- join-skew audit -----------------------------------------------------------------

_SKEW_AUDIT_ORACLE = """
    WITH counts AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_partkey
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(cnt) AS BIGINT) AS total_rows,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt
        FROM counts
    )
    SELECT c.l_partkey AS hot_key, c.cnt, s.n_keys, s.total_rows,
           FLOOR((CAST(s.max_cnt AS DOUBLE) * s.n_keys) / s.total_rows
                 * 1e6 + 0.5) / 1e6 AS skew_ratio
    FROM counts c CROSS JOIN stats s
    ORDER BY c.cnt DESC, c.l_partkey
    LIMIT 5
"""


@register(
    "q_skew_audit",
    oracle=_SKEW_AUDIT_ORACLE,
    doc="Join-key skew audit on lineitem.l_partkey: per-key "
        "frequencies, the max/mean skew ratio (max_cnt * n_keys / "
        "total, 1.0 = perfectly uniform), and the top-5 hottest keys — "
        "the diagnostic that decides whether a join needs salting or "
        "AQE skew splitting (the engine's own remediation levers, "
        "q_salted_join / the AQE skew test). One map-side-combined "
        "key aggregate + a broadcast 3-scalar rollup + TakeOrdered; "
        "counts exact, ratio one IEEE expression, 6dp.",
    tags=("analytics", "ops"),
)
def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    counts = (li.groupBy("l_partkey")
              .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
              .localCheckpoint(eager=True))  # key-sized; 2 consumers
    stats = counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"))
    ratio = ((F.col("max_cnt").cast("double") * F.col("n_keys"))
             / F.col("total_rows"))
    return (counts.crossJoin(F.broadcast(stats))
            .select(F.col("l_partkey").alias("hot_key"), "cnt",
                    "n_keys", "total_rows",
                    (F.floor(ratio * 1e6 + 0.5) / 1e6)
                    .alias("skew_ratio"))
            .orderBy(F.desc("cnt"), "hot_key")
            .limit(5))


# --- linear multi-touch attribution --------------------------------------------------

_ATTRIB_LINEAR_ORACLE = """
    WITH firstp AS (
        SELECT user_id, MIN(epoch_us(ts)) AS p_us
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touches AS (
        SELECT DISTINCT e.user_id, e.event_type
        FROM events e JOIN firstp f ON e.user_id = f.user_id
        WHERE epoch_us(e.ts) < f.p_us
    ),
    pertouch AS (
        SELECT user_id, event_type,
               1000000 // (COUNT(*) OVER (PARTITION BY user_id))
                   AS credit_ppm
        FROM touches
    )
    SELECT event_type AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_touch_users,
           CAST(SUM(credit_ppm) AS BIGINT) AS credit_ppm_total
    FROM pertouch GROUP BY event_type
    ORDER BY credit_ppm_total DESC, channel
"""


@register(
    "q_attribution_linear",
    oracle=_ATTRIB_LINEAR_ORACLE,
    doc="Linear multi-touch attribution: each converting user's credit "
        "is split EQUALLY across the distinct channels they touched "
        "strictly before their first purchase — the fractional-credit "
        "counterpart of q_attribution_last_touch. Credit is integer "
        "parts-per-million via floor division (1000000 DIV n_touches), "
        "so per-channel totals are exact BIGINTs with zero float "
        "accumulation. One user-keyed first-purchase aggregate, one "
        "distinct, one per-user count window, one channel aggregate — "
        "all shuffling on user_id / channel.",
    tags=("analytics", "temporal"),
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    firstp = (e.where(F.col("event_type") == "purchase")
              .groupBy("user_id")
              .agg(F.min(F.unix_micros("ts")).alias("p_us")))
    touches = (e.join(firstp, "user_id")
               .where(F.unix_micros("ts") < F.col("p_us"))
               .select("user_id", "event_type").distinct())
    w = Window.partitionBy("user_id")
    pertouch = touches.withColumn("n_t", F.count(F.lit(1)).over(w)) \
        .withColumn("credit_ppm", F.expr("1000000 DIV n_t"))
    return (pertouch.groupBy(F.col("event_type").alias("channel"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_touch_users"),
                 F.sum("credit_ppm").cast("bigint")
                 .alias("credit_ppm_total"))
            .orderBy(F.desc("credit_ppm_total"), "channel"))


# --- rolling 7-day active users -------------------------------------------------------

_ROLLING_AU_ORACLE = """
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    caldays AS (SELECT DISTINCT day FROM ud)
    SELECT d.day, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS wau
    FROM caldays d
    JOIN ud e ON e.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    ORDER BY d.day
"""


@register(
    "q_rolling_active_users",
    oracle=_ROLLING_AU_ORACLE,
    doc="Rolling 7-day active users (WAU) per calendar day. The "
        "scalable construction is a BOUNDED EXPLODE, not a range join: "
        "each distinct (user, day) row fans out to the <=7 report days "
        "it contributes to (F.sequence + explode — constant 7x row "
        "amplification that shuffles on the report day), then one "
        "distinct count per day; the oracle is the equivalent range "
        "join, which a distributed engine would quadratically regret. "
        "All date/integer arithmetic, bit-stable.",
    tags=("temporal", "analytics"),
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    ud = (e.select("user_id", F.col("ts").cast("date").alias("day"))
          .distinct()
          .localCheckpoint(eager=True))  # feeds calendar + fan-out legs
    caldays = ud.select("day").distinct()
    fanned = (ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6)))
        .alias("day")))
    return (fanned.join(F.broadcast(caldays), "day")
            .groupBy("day")
            .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
            .orderBy("day"))


# --- ABC (Pareto) classification -----------------------------------------------------

_ABC_ORACLE = """
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    c AS (
        SELECT cents,
               CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum,
               CAST(SUM(cents) OVER () AS BIGINT) AS total
        FROM rev
    )
    SELECT CASE WHEN cum * 10 <= total * 7 THEN 'A'
                WHEN cum * 10 <= total * 9 THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS DOUBLE) / 100 AS revenue,
           FLOOR(CAST(SUM(cents) AS DOUBLE) / MAX(total) * 1e6 + 0.5)
               / 1e6 AS revenue_share
    FROM c GROUP BY 1 ORDER BY 1
"""


@register(
    "q_abc_classification",
    oracle=_ABC_ORACLE,
    doc="ABC / Pareto classification of customers by revenue: rank by "
        "exact integer cents descending, inclusive Lorenz prefix sum, "
        "class A while cumulative share <= 70%, B <= 90%, C the tail — "
        "the whale-segmentation primitive. The prefix sum uses the "
        "distributed global_cumsum operator (range partition + "
        "per-partition sums as offsets; operators/ranking.py) instead "
        "of the single-partition SUM-OVER-ORDER window; class "
        "boundaries are integer comparisons (cum*10 vs total*7), so "
        "membership is bit-stable with no percentage rounding in the "
        "cut.",
    tags=("analytics", "stats"),
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_cumsum

    o = load(spark, sf_dir, "orders")
    rev = (o.groupBy("o_custkey")
           .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .cast("bigint").alias("cents")))
    cum = global_cumsum(rev, [F.col("cents").desc(), F.col("o_custkey")],
                        "cents", out_col="cum")
    total = rev.agg(F.sum("cents").cast("bigint").alias("total"))
    cls = (F.when(F.col("cum") * 10 <= F.col("total") * 7, "A")
           .when(F.col("cum") * 10 <= F.col("total") * 9, "B")
           .otherwise("C"))
    return (cum.crossJoin(F.broadcast(total))
            .select(cls.alias("abc_class"), "cents", "total")
            .groupBy("abc_class")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"),
                 (F.sum("cents").cast("double") / 100).alias("revenue"),
                 (F.floor(F.sum("cents").cast("double") / F.max("total")
                          * 1e6 + 0.5) / 1e6).alias("revenue_share"))
            .orderBy("abc_class"))


# --- Kendall tau-b rank correlation ----------------------------------------------------

_KENDALL_ORACLE = """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                        END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT CAST(SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM daily a JOIN daily b ON a.day < b.day
    ),
    sizes AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS n0
        FROM daily
    ),
    tx AS (SELECT CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS n1
           FROM (SELECT COUNT(*) AS t FROM daily GROUP BY x)),
    ty AS (SELECT CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS n2
           FROM (SELECT COUNT(*) AS t FROM daily GROUP BY y))
    SELECT n AS n_days, c AS concordant, d AS discordant,
           FLOOR(CAST(c - d AS DOUBLE)
                 / SQRT(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS tau_b
    FROM pairs CROSS JOIN sizes CROSS JOIN tx CROSS JOIN ty
"""


@register(
    "q_kendall_tau",
    oracle=_KENDALL_ORACLE,
    doc="Kendall tau-b rank correlation between the click and purchase "
        "daily-count series — the robust (outlier-immune) dependence "
        "measure. Scale pattern: the data-sized work is ONE aggregate "
        "down to the bounded (day) matrix; the O(days^2) pair "
        "enumeration runs on that matrix, whose size is calendar-bound, "
        "not data-bound. Concordant/discordant/tie counts are exact "
        "BIGINTs; tau-b = (C-D)/sqrt((n0-n1)(n0-n2)) is one IEEE "
        "expression over identical integers, 6dp.",
    tags=("temporal", "stats"),
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = (e.groupBy(F.col("ts").cast("date").alias("day"))
             .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                        .otherwise(0)).cast("bigint").alias("x"),
                  F.sum(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).cast("bigint").alias("y")))
    daily = daily.localCheckpoint(eager=True)  # matrix-sized; feeds 4 consumers
    a, b = daily.alias("a"), daily.alias("b")
    prod = ((F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y")))
    pairs = (a.join(b, F.col("a.day") < F.col("b.day"))
             .agg(F.sum(F.when(prod > 0, 1).otherwise(0)).cast("bigint")
                  .alias("c"),
                  F.sum(F.when(prod < 0, 1).otherwise(0)).cast("bigint")
                  .alias("d")))
    sizes = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2).cast("bigint")
        .alias("n0"))
    tx = (daily.groupBy("x").agg(F.count(F.lit(1)).alias("t"))
          .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("bigint")
               .alias("n1")))
    ty = (daily.groupBy("y").agg(F.count(F.lit(1)).alias("t"))
          .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("bigint")
               .alias("n2")))
    tau = ((F.col("c") - F.col("d")).cast("double")
           / F.sqrt((F.col("n0") - F.col("n1")).cast("double")
                    * (F.col("n0") - F.col("n2")).cast("double")))
    return (pairs.crossJoin(F.broadcast(sizes))
            .crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
            .select(F.col("n").alias("n_days"),
                    F.col("c").alias("concordant"),
                    F.col("d").alias("discordant"),
                    (F.floor(tau * 1e6 + 0.5) / 1e6).alias("tau_b")))


# --- Spearman rank correlation ----------------------------------------------------------

_SPEARMAN_ORACLE = """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                        END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    r AS (
        SELECT 2 * RANK() OVER (ORDER BY x)
                   + COUNT(*) OVER (PARTITION BY x) - 1 AS rx,
               2 * RANK() OVER (ORDER BY y)
                   + COUNT(*) OVER (PARTITION BY y) - 1 AS ry
        FROM daily
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rx) AS BIGINT) AS sx,
               CAST(SUM(ry) AS BIGINT) AS sy,
               CAST(SUM(rx * ry) AS BIGINT) AS sxy,
               CAST(SUM(rx * rx) AS BIGINT) AS sxx,
               CAST(SUM(ry * ry) AS BIGINT) AS syy
        FROM r
    )
    SELECT n AS n_days,
           FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS spearman_rho
    FROM s
"""


@register(
    "q_spearman_corr",
    oracle=_SPEARMAN_ORACLE,
    doc="Spearman rank correlation between the click and purchase "
        "daily-count series: Pearson on tie-averaged ranks, with the "
        "ranks kept EXACT in half-units (2*avg_rank = 2*min_rank + t - "
        "1, an integer — the q_mannwhitney_u construction), so all six "
        "moment sums are BIGINTs and rho is one IEEE expression, 6dp. "
        "Data-sized work is one aggregate to the calendar-bounded "
        "matrix; ranks come from the distributed global_rank operator "
        "over that matrix, not a single-partition window.",
    tags=("temporal", "stats"),
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_rank

    e = load(spark, sf_dir, "events")
    daily = (e.groupBy(F.col("ts").cast("date").alias("day"))
             .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                        .otherwise(0)).cast("bigint").alias("x"),
                  F.sum(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).cast("bigint").alias("y")))
    rx = global_rank(daily, [F.col("x"), F.col("day")], out_col="rnx")
    gx = rx.groupBy("x").agg(F.min("rnx").alias("mnx"),
                             F.count(F.lit(1)).alias("tx"))
    withx = (rx.join(gx, "x")
             .withColumn("rx", 2 * F.col("mnx") + F.col("tx") + 1))
    ry = global_rank(withx.select("day", "y", "rx"),
                     [F.col("y"), F.col("day")], out_col="rny")
    gy = ry.groupBy("y").agg(F.min("rny").alias("mny"),
                             F.count(F.lit(1)).alias("ty"))
    r = (ry.join(gy, "y")
         .withColumn("ry", 2 * F.col("mny") + F.col("ty") + 1))
    s = r.agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.sum("rx").cast("bigint").alias("sx"),
              F.sum("ry").cast("bigint").alias("sy"),
              F.sum(F.col("rx") * F.col("ry")).cast("bigint").alias("sxy"),
              F.sum(F.col("rx") * F.col("rx")).cast("bigint").alias("sxx"),
              F.sum(F.col("ry") * F.col("ry")).cast("bigint").alias("syy"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("double")
    den = F.sqrt((F.col("n") * F.col("sxx")
                  - F.col("sx") * F.col("sx")).cast("double")
                 * (F.col("n") * F.col("syy")
                    - F.col("sy") * F.col("sy")).cast("double"))
    return s.select(F.col("n").alias("n_days"),
                    (F.floor(num / den * 1e6 + 0.5) / 1e6)
                    .alias("spearman_rho"))
