"""Core relational surface (SURVEY.md §2.1-§2.2, §2.4, §2.6, §2.8).

These transpose the reference's three Athena queries (README.md:778-809) and
its projection/filter/scalar-function vocabulary onto the driver fixtures.
Each is declarative DataFrame API — Catalyst supplies column pruning,
predicate pushdown into the parquet scan, partial+final hash aggregation,
and TakeOrderedAndProject for top-k (SURVEY.md §4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import exact_avg
from .registry import load, register


# --- The three reference queries, transposed (README.md:778-809) ----------

@register(
    "q1_groupby_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)
               / COUNT(l_extendedprice) / 100 AS avg_price_h,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY avg_price_h DESC
    """,
    doc="Ref Q1 'sunniest location' (README.md:778-783): single-key group-by "
        "AVG with scalar division, global sort desc. AVG uses the "
        "decimal-exact pattern (functions.exact_avg) for cross-engine "
        "bitwise determinism.",
    tags=("agg", "sort"), bench=True,
)
def q1_groupby_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            (exact_avg("l_extendedprice") / 100).alias("avg_price_h"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy(F.desc("avg_price_h"))
    )


@register(
    "q2_groupby2_topk",
    oracle="""
    SELECT o_orderpriority,
           CAST(MONTH(o_orderdate) AS INT) AS month,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
               / COUNT(o_totalprice) AS avg_total
    FROM orders
    GROUP BY o_orderpriority, MONTH(o_orderdate)
    ORDER BY avg_total DESC, o_orderpriority, month
    LIMIT 10
    """,
    doc="Ref Q2 'sunniest month per location' (README.md:790-796): two-key "
        "group-by AVG + ORDER BY DESC LIMIT 10 → TakeOrderedAndProjectExec, "
        "a true distributed top-k (no global sort materialized).",
    tags=("agg", "topk"), bench=True,
)
def q2_groupby2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", F.month("o_orderdate").alias("month"))
        .agg(exact_avg("o_totalprice").alias("avg_total"))
        .orderBy(F.desc("avg_total"), "o_orderpriority", "month")
        .limit(10)
    )


@register(
    "q3_filtered_groupby_avg",
    oracle="""
    SELECT CAST(MONTH(o_orderdate) AS INT) AS month,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
               / COUNT(o_totalprice) AS avg_total
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY MONTH(o_orderdate)
    ORDER BY avg_total DESC
    """,
    doc="Ref Q3 'best UV month at one station' (README.md:803-809): filter "
        "on a low-cardinality column (the reference's partition predicate, "
        "14x scan cut at README.md:801) + single-key AVG.",
    tags=("agg", "filter"), bench=True,
)
def q3_filtered_groupby_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .groupBy(F.month("o_orderdate").alias("month"))
        .agg(exact_avg("o_totalprice").alias("avg_total"))
        .orderBy(F.desc("avg_total"))
    )


# --- Projection / derived / literal / rename / drop (README.md:622-745) ---

@register(
    "q_projection_derived",
    oracle="""
    SELECT l_orderkey,
           l_linenumber AS line_no,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           'lineitem' AS src
    FROM lineitem
    WHERE l_quantity > 45
    """,
    doc="select / alias / withColumn-derived / lit constant "
        "(README.md:622-666, 740-745). Row-wise double arithmetic is "
        "IEEE-deterministic, so no rounding needed for the oracle hash.",
    tags=("projection",),
)
def q_projection_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 45)
        .withColumn("revenue", F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .withColumn("charge", F.col("revenue") * (1 + F.col("l_tax")))
        .withColumn("src", F.lit("lineitem"))
        .withColumnRenamed("l_linenumber", "line_no")
        .select("l_orderkey", "line_no", "revenue", "charge", "src")
    )


@register(
    "q_filter_null_empty",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE text IS NOT NULL
      AND LENGTH(text) > 0
      AND lang IS NOT NULL
      AND LENGTH(lang) > 0
      AND n_chars > 400
    """,
    doc="Null / empty-string conjunctive filter (README.md:1306-1311): "
        "isNotNull & length>0 guards on discovered path components.",
    tags=("filter",),
)
def q_filter_null_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.filter(
            F.col("text").isNotNull() & (F.length("text") > 0)
            & F.col("lang").isNotNull() & (F.length("lang") > 0)
            & (F.col("n_chars") > 400)
        )
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "q_distinct_pairs",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
    doc="distinct() de-dupe of (island, location)-style pairs "
        "(README.md:623, 1303) → partial+final hash aggregate.",
    tags=("distinct",),
)
def q_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


# --- Sorts / limits / top-k (README.md:782, 794, 808) ---------------------

@register(
    "q_topk_global",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    doc="Global ORDER BY DESC LIMIT k (README.md:794): "
        "TakeOrderedAndProjectExec — per-partition heap + driver merge, no "
        "full sort. o_orderkey tiebreak keeps the cut deterministic.",
    tags=("topk",),
)
def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


# --- Scalar function families (SURVEY.md §2.8) -----------------------------

@register(
    "q_scalar_string",
    oracle="""
    SELECT c_custkey,
           CAST(REGEXP_EXTRACT(c_name, '([0-9]+)$', 1) AS BIGINT) AS name_num,
           LENGTH(c_name) AS name_len,
           UPPER(c_mktsegment) AS seg_upper,
           CONCAT_WS('/', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_path
    FROM customer
    WHERE c_acctbal > 0
    """,
    doc="String family: regexp_extract path-parsing (README.md:622-623), "
        "length (README.md:1308), concat_ws literal building (README.md:644).",
    tags=("scalar",),
)
def q_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_acctbal") > 0)
        .select(
            "c_custkey",
            F.regexp_extract("c_name", r"([0-9]+)$", 1).cast("bigint").alias("name_num"),
            F.length("c_name").alias("name_len"),
            F.upper("c_mktsegment").alias("seg_upper"),
            F.concat_ws("/", "c_mktsegment", F.col("c_nationkey").cast("string")).alias("seg_path"),
        )
    )


@register(
    "q_scalar_date",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(YEAR(o_orderdate) AS INT) AS yr,
           CAST(MONTH(o_orderdate) AS INT) AS mo,
           CAST(DAY(o_orderdate) AS INT) AS dom,
           CAST(QUARTER(o_orderdate) AS INT) AS qtr
    FROM orders
    WHERE YEAR(o_orderdate) = 1997
    """,
    doc="Date family: to_date / year / month derivation feeding the "
        "reference's partition columns (README.md:740-741, 1272, 1361).",
    tags=("scalar",),
)
def q_scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(F.year("o_orderdate") == 1997)
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            F.dayofmonth("o_orderdate").alias("dom"),
            F.quarter("o_orderdate").alias("qtr"),
        )
    )


@register(
    "q_conditional_case",
    oracle="""
    SELECT event_id,
           CASE WHEN value >= 150 THEN 'high'
                WHEN value >= 50  THEN 'mid'
                ELSE 'low' END AS band,
           COALESCE(NULLIF(event_type, 'error'), 'unknown') AS et_clean
    FROM events
    """,
    doc="Conditional/null family: F.when chain + coalesce "
        "(SURVEY.md §2.8 'Conditional / null').",
    tags=("scalar",),
)
def q_conditional_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.when(F.col("value") >= 150, "high")
         .when(F.col("value") >= 50, "mid")
         .otherwise("low").alias("band"),
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("unknown")).alias("et_clean"),
    )


@register(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(REGEXP_EXTRACT(props, '"k":\\s*([0-9]+)', 1) AS BIGINT)) AS DOUBLE)
               / COUNT(*) AS avg_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="JSON scalar ops over events.props (SURVEY.md §2.8 JSON row): Spark "
        "side uses get_json_object; oracle uses a regexp so no JSON "
        "extension dependency. avg over exact ints → deterministic double.",
    tags=("scalar", "json"),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.select("event_type",
                 F.get_json_object("props", "$.k").cast("bigint").alias("k"))
        .groupBy("event_type")
        # integer sum is exact → cast→divide is bitwise-deterministic
        .agg((F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
             F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


# --- Aggregation extensions (SURVEY.md §2.4 last row) ----------------------

@register(
    "q_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Distinct-aggregate (expand + two-phase agg under Catalyst). "
        "sum over exact small doubles is deterministic at this scale; "
        "sum_qty values are integral-valued doubles.",
    tags=("agg",),
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


@register(
    "q_approx_count_distinct",
    oracle=None,  # approximate by construction — rows-only check
    doc="approx_count_distinct (HyperLogLog++) — the sketch path for "
        "100 TB-scale distinct counts (SURVEY.md §2.4). Not exactly "
        "SQL-matchable; pytest asserts relative error vs exact.",
    tags=("agg", "approx"),
)
def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"))
    )


def agg_collect_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw array-typed form of q_agg_collect — collect_set / collect_list
    with array_sort determinism. Kept as the engine surface (and the pytest
    target in test_properties.py); the registered query serializes the
    arrays because the driver's canonicalizer cannot hash list-typed cells.
    """
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    return (
        n.join(c, c.c_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.array_sort(F.collect_set("c_mktsegment")).alias("segments"),
            F.array_sort(F.collect_list("c_custkey")).alias("custkeys"),
        )
    )


@register(
    "q_agg_collect",
    oracle="""
    SELECT n_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ' ')
               AS segments,
           array_to_string(list_sort(list(c_custkey)), ' ') AS custkeys
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
    doc="Array-building aggregates: collect_set / collect_list. Both are "
        "order-nondeterministic after a shuffle, so the engine contract is "
        "array_sort on top — the deterministic form a downstream consumer "
        "can rely on. The registered query ships the sorted arrays joined "
        "to strings (driver's value-hash canonicalizer cannot hash "
        "list-typed cells); `agg_collect_arrays` above is the raw array "
        "surface. State grows with group size: at 100 TB keep collected "
        "groups bounded (these are per-nation lists, not per-corpus).",
    tags=("agg", "array"),
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sort in native element order FIRST, then stringify — '10' < '9' as
    # text, so casting before the sort would diverge from list_sort(int)
    arrays = agg_collect_arrays(spark, sf_dir)
    return arrays.select(
        "n_nationkey",
        F.array_join("segments", " ").alias("segments"),
        F.array_join(F.transform("custkeys", lambda x: x.cast("string")),
                     " ").alias("custkeys"),
    )


@register(
    "q_agg_min_max_by",
    oracle="""
    SELECT o_orderpriority,
           arg_max(o_orderkey, CAST(o_totalprice*100 AS BIGINT)*10000000000
                               + o_orderkey) AS priciest_order,
           arg_min(o_orderkey, CAST(o_totalprice*100 AS BIGINT)*10000000000
                               + o_orderkey) AS cheapest_order
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="min_by / max_by (argmin/argmax aggregates). Raw max_by is "
        "nondeterministic on value ties, so the ordering key is the "
        "composite (price-in-cents, orderkey) packed into one bigint — "
        "tie-broken, engine-portable, still a single partial+final hash "
        "aggregate (8 bytes of state per group per agg).",
    tags=("agg",),
)
def q_agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    composite = (F.col("o_totalprice") * 100).cast("bigint") \
        * F.lit(10_000_000_000) + F.col("o_orderkey")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.max_by("o_orderkey", composite).alias("priciest_order"),
            F.min_by("o_orderkey", composite).alias("cheapest_order"),
        )
    )


@register(
    "q_median_exact",
    oracle="""
    SELECT o_orderpriority,
           FLOOR(quantile_cont(o_totalprice, 0.5) * 1e4 + 0.5) / 1e4
               AS median_price,
           FLOOR(quantile_cont(o_totalprice, 0.9) * 1e4 + 0.5) / 1e4
               AS p90_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Exact interpolated percentiles (median, p90) via percentile() — "
        "both engines use linear interpolation between closest ranks. "
        "Exact percentile needs the group's values materialized (unlike "
        "sum/avg): at 100 TB use q_percentiles' approx_percentile sketch "
        "for corpus-wide cuts and keep exact percentiles for bounded "
        "groups. Rounded at 1e-4: interpolation arithmetic differs in "
        "operation order between engines.",
    tags=("agg", "percentile"),
)
def q_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import round_det
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            round_det(F.expr("percentile(o_totalprice, 0.5)"), 4)
            .alias("median_price"),
            round_det(F.expr("percentile(o_totalprice, 0.9)"), 4)
            .alias("p90_price"),
        )
    )


_CMS_HH_SQL = r"""
    WITH coords AS (
        SELECT l_partkey, d,
               CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR) || ':'
                    || CAST(d AS VARCHAR)), 1, 7) AS BIGINT) % 2048 AS w
        FROM lineitem, UNNEST(range(0, 4)) AS t(d)
    ), cells AS (
        -- shard-merge elided: CMS cells are plain counters, so the sum
        -- of the three per-returnflag shards equals the whole-corpus
        -- build cell-for-cell (the engine-side pytest asserts exactly
        -- that identity) — the oracle builds whole-corpus directly
        SELECT d, w, COUNT(*) AS cnt FROM coords GROUP BY d, w
    ), probes AS (
        SELECT DISTINCT l_partkey AS item FROM lineitem
    ), pc AS (
        SELECT item, d,
               CAST('0x' || substr(md5(CAST(item AS VARCHAR) || ':'
                    || CAST(d AS VARCHAR)), 1, 7) AS BIGINT) % 2048 AS w
        FROM probes, UNNEST(range(0, 4)) AS t(d)
    ), est AS (
        SELECT item AS l_partkey,
               MIN(COALESCE(c.cnt, CAST(0 AS BIGINT))) AS est
        FROM pc LEFT JOIN cells c USING (d, w)
        GROUP BY item
    )
    SELECT l_partkey, est FROM est
    ORDER BY est DESC, l_partkey ASC LIMIT 20
"""


@register(
    "q_cms_heavy_hitters",
    oracle=_CMS_HH_SQL,
    doc="Count-min-sketch heavy hitters (operators/sketch.py): "
        "per-returnflag shard sketches built in one exploded-coordinate "
        "hash-agg pass, merged with a plain groupBy-sum (CMS cells are "
        "counters — the mergeable-sketch-table pattern, same as "
        "q_hll_sketch_merge), then every candidate partkey point-queried "
        "via a broadcast equi-join + min over depth rows. Top-20 by "
        "estimate, partkey tie-break. est ≥ true always (one-sided); "
        "pytest bounds realized error vs exact counts and asserts "
        "shard-merge equals whole-corpus build. FULLY SQL-ORACLED since "
        "r11: the registered entry runs the portable coordinate family "
        "(bucket d = md5(item ':' d) first-7-hex mod width — same "
        "one-sided guarantee, bucket uniformity is all CMS needs), and "
        "the oracle rebuilds cells, point queries and the top-20 "
        "bit-for-bit; the oracle builds the whole-corpus sketch "
        "directly because cell counters make shard-merge ≡ whole-build "
        "(the pytest identity). The md5 family is the operator's only "
        "coordinate family.",
    tags=("agg", "approx", "sketch"),
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketch as SK
    li = load(spark, sf_dir, "lineitem")
    # shard sketches (one per returnflag) merged to the corpus sketch —
    # the incremental path: each shard's KB-sized table is built once
    shards = [SK.cms_build(li.filter(F.col("l_returnflag") == f),
                           "l_partkey", width=2048, depth=4)
              for f in ("A", "N", "R")]
    merged = SK.cms_merge(*shards)
    est = SK.cms_estimate(merged, li.select("l_partkey"), "l_partkey",
                          width=2048, depth=4)
    return (est.orderBy(F.desc("est"), F.asc("l_partkey")).limit(20)
            .select("l_partkey", "est"))


@register(
    "q_hll_sketch_merge",
    oracle=None,  # sketch binary is engine-specific; error bound in pytest
    doc="Mergeable distinct-count sketches (Datasketches HLL, Spark 4 "
        "hll_sketch_agg/hll_union_agg): per-priority user sketches built "
        "once, then MERGED to the corpus-wide estimate without re-scanning "
        "rows — the pre-aggregated-sketch-table pattern that turns "
        "100 TB distinct-count dashboards into KB-sized unions. Output: "
        "per-priority estimates + one merged ALL row; pytest bounds the "
        "relative error vs exact.",
    tags=("agg", "approx", "sketch"),
)
def q_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    sketches = (
        o.groupBy("o_orderpriority")
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
        .cache()  # the tiny sketch table IS the reusable artifact
    )
    per_group = sketches.select(
        "o_orderpriority",
        F.hll_sketch_estimate("sk").alias("approx_customers"))
    merged = (sketches
              .agg(F.hll_union_agg("sk").alias("sk"))
              .select(F.lit("ALL").alias("o_orderpriority"),
                      F.hll_sketch_estimate("sk").alias("approx_customers")))
    return per_group.unionByName(merged)
