"""Round-7 operator tests: fixed-point k-means (naive-numpy bit-parity,
empty-cluster carry, tie-break), prefix-filtered exact set-similarity
join (equality vs the all-pairs ground truth + candidate reduction), BFS
hop levels on a hand graph, mapInArrow norm batch-invariance, zone-map
skipping ordering, and Spark 4 SQL table UDFs."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from canary_weather_etl_spark.operators import clustering as C
from canary_weather_etl_spark.operators import dedup as D
from canary_weather_etl_spark.operators import graph as G
from canary_weather_etl_spark.operators import similarity as S

from conftest import SF_SMALL


# --- k-means ------------------------------------------------------------------

def _naive_kmeans(vecs: dict[int, list[float]], k: int, iterations: int,
                  scale: int = 1_000_000):
    """From-scratch pure-Python/numpy twin of kmeans_fixed: same
    quantization, init, argmin tie-break, FLOOR centroid update,
    empty-cluster carry. Independent implementation — no Spark."""
    q = {i: np.floor(np.array(v, dtype=np.float64) * scale + 0.5)
         .astype(np.int64) for i, v in vecs.items()}
    cent = {c: q[c].copy() for c in range(k)}

    def assign():
        out = {}
        for i, qv in q.items():
            best = min(((int(((qv - cv) ** 2).sum()), c)
                        for c, cv in cent.items()))
            out[i] = best  # (dist, cid)
        return out

    for _ in range(iterations):
        asg = assign()
        for c in range(k):
            members = [q[i] for i, (_, cc) in asg.items() if cc == c]
            if members:
                s = np.sum(members, axis=0, dtype=np.int64)
                cent[c] = np.floor(s.astype(np.float64)
                                   / len(members)).astype(np.int64)
    final = assign()
    prof = {}
    for i, (dist, c) in final.items():
        n, inertia, medoid = prof.get(c, (0, 0, None))
        best = (i if medoid is None
                else min((medoid, i),
                         key=lambda x: (final[x][0], x)))
        prof[c] = (n + 1, inertia + dist, best)
    return prof


def test_kmeans_matches_naive_twin(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {int(r["vec_id"]): list(r["embedding"]) for r in rows}

    qdf = C.quantize_vectors(emb)
    asg, cent = C.kmeans_fixed(qdf, k=4, iterations=3)
    got = {int(r["cluster_id"]):
           (int(r["n_members"]), int(r["inertia_units"]),
            int(r["medoid_vec_id"]))
           for r in C.kmeans_cluster_profile(asg).collect()}
    want = _naive_kmeans(vecs, k=4, iterations=3)
    assert got == want


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # init points 0..3; every non-init point sits on top of point 0, and
    # points 1..3 are mutually distinct far-away singletons — after one
    # update, cluster 0's centroid moves to the mass, singleton clusters
    # keep exactly one member each and their centroid stays put
    pts = [(0, [0.0, 0.0]), (1, [10.0, 0.0]), (2, [0.0, 10.0]),
           (3, [10.0, 10.0])] + [(i, [0.001, 0.001]) for i in range(4, 20)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    qdf = C.quantize_vectors(df)
    asg, cent = C.kmeans_fixed(qdf, k=4, iterations=2)
    sizes = {int(r["cluster_id"]): int(r["n_members"])
             for r in C.kmeans_cluster_profile(asg).collect()}
    assert sizes == {0: 17, 1: 1, 2: 1, 3: 1}
    # singleton clusters converge onto their own point; they never empty
    assert cent[1] == [10_000_000, 0]
    assert cent[2] == [0, 10_000_000]
    # a TRUE empty cluster: identical init centroids → the (dist, cid)
    # tie-break sends every point to cluster 0, cluster 1 gets zero
    # members and must CARRY its previous centroid (the oracle's
    # LEFT JOIN + COALESCE branch)
    pts2 = [(0, [1.0]), (1, [1.0]), (2, [2.0]), (3, [0.5])]
    df2 = spark.createDataFrame(pts2, "vec_id long, embedding array<double>")
    qdf2 = C.quantize_vectors(df2)
    _, cent2 = C.kmeans_fixed(qdf2, k=2, iterations=1)
    assert cent2[1] == [1_000_000]           # carried, not NaN/dropped
    assert cent2[0] == [1_125_000]           # floor(mean of all 4 points)


def test_kmeans_assignment_tiebreak_smaller_cid(spark):
    # two identical centroids: every point must land in cluster 0
    df = spark.createDataFrame(
        [(0, [1.0]), (1, [1.0]), (2, [3.0]), (3, [7.0])],
        "vec_id long, embedding array<double>")
    qdf = C.quantize_vectors(df)
    asg = C.assign_clusters(qdf, {0: [1_000_000], 1: [1_000_000]})
    assert {int(r["cluster_id"]) for r in asg.collect()} == {0}


# --- prefix-filtered exact set-similarity join ---------------------------------

def test_prefix_filter_equals_exact_jaccard(spark):
    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    got = {(r["a"], r["b"]): round(r["jaccard"], 9)
           for r in D.near_dup_pairs_exact(
               d, "doc_id", "text", n=2, threshold=0.5,
               allpairs_candidate_budget=-1).collect()}
    sh = D.shingle_table(d, "doc_id", "text", n=2)
    want = {(r["a"], r["b"]): round(r["jaccard"], 9)
            for r in D.exact_jaccard(sh, threshold=0.5).collect()}
    assert got == want
    assert len(want) > 0  # non-trivial fixture


def test_prefix_filter_prunes_candidates(spark):
    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    sets = D.shingle_sets(d, "doc_id", "text", n=2)
    n_prefix = D.prefix_filter_candidates(sets, threshold=0.5).count()
    # the naive shared-shingle join's candidate space
    sh = D.shingle_table(d, "doc_id", "text", n=2)
    l, r = sh.alias("l"), sh.alias("r")
    n_full = (l.join(r, (F.col("l.shingle") == F.col("r.shingle"))
                     & (F.col("l.doc") < F.col("r.doc")))
              .select(F.col("l.doc"), F.col("r.doc")).distinct().count())
    assert n_prefix < n_full
    assert n_prefix > 0


# --- BFS hop levels -------------------------------------------------------------

def test_bfs_hop_levels_hand_graph(spark):
    # path 1-2-3-4-5-6 plus disconnected pair 10-11: source is MIN id = 1,
    # max_hops=4 → node 6 (hop 5) and the 10-11 component are unreachable
    und = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long")
    got = {(int(r["node"]), int(r["hop"]))
           for r in G.bfs_hop_levels(edges, max_hops=4).collect()}
    assert got == {(1, 0), (2, 1), (3, 2), (4, 3), (5, 4)}


def test_bfs_cycle_takes_min_hop(spark):
    # cycle 1-2-3-1: node 3 reachable at hop 1 (via 3←1) not hop 2
    und = [(1, 2), (2, 3), (1, 3)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long")
    got = {(int(r["node"]), int(r["hop"]))
           for r in G.bfs_hop_levels(edges, max_hops=3).collect()}
    assert got == {(1, 0), (2, 1), (3, 1)}


# --- mapInArrow quantized norms --------------------------------------------------

def test_arrow_norms_batch_invariant(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    one = sorted(tuple(r) for r in S.arrow_quantized_norms(
        emb.coalesce(1)).collect())
    many = sorted(tuple(r) for r in S.arrow_quantized_norms(
        emb.repartition(7)).collect())
    assert one == many
    assert len(one) == emb.count()


def test_arrow_norms_match_sql_fold(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    got = {int(r["vec_id"]): (int(r["ssq_units"]), int(r["norm_units"]))
           for r in S.arrow_quantized_norms(emb).collect()}
    # independent JVM-side fold over the same quantization
    want_df = emb.select(
        "vec_id",
        F.aggregate(
            F.transform("embedding",
                        lambda x: F.floor(x.cast("double") * 1e6
                                          + F.lit(0.5)).cast("long")),
            F.lit(0).cast("long"), lambda acc, q: acc + q * q,
        ).alias("ssq"))
    want = {int(r["vec_id"]):
            (int(r["ssq"]), int(np.floor(np.sqrt(float(r["ssq"])))))
            for r in want_df.collect()}
    assert got == want


# --- zone-map skipping ------------------------------------------------------------

def test_zonemap_sorted_layout_skips(spark):
    from canary_weather_etl_spark.plans import REGISTRY
    rows = {r["layout"]: r for r in
            REGISTRY["q_zonemap_skipping"].fn(spark, SF_SMALL).collect()}
    assert rows["date_sorted"]["n_zones"] == rows["key_sorted"]["n_zones"]
    # the clustering-key layout must scan strictly fewer zones AND rows
    assert (rows["date_sorted"]["zones_scanned"]
            < rows["key_sorted"]["zones_scanned"])
    assert (rows["date_sorted"]["rows_scanned"]
            <= rows["key_sorted"]["rows_scanned"])
    assert rows["date_sorted"]["zones_scanned"] > 0


# --- Spark 4 SQL table UDF ---------------------------------------------------------

def test_sql_table_udf(spark, sf_dir):
    """CREATE TEMPORARY FUNCTION ... RETURNS TABLE — the table-valued
    flavor of Spark 4 SQL UDFs (the scalar flavor is driver-checked via
    q_sql_udf). Inlined by the analyzer like a parameterized view."""
    spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .createOrReplaceTempView("orders_tvf")
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION big_orders(th DOUBLE)
        RETURNS TABLE (o_orderkey BIGINT, o_totalprice DOUBLE)
        RETURN SELECT o_orderkey, o_totalprice
               FROM orders_tvf WHERE o_totalprice > th
    """)
    got = spark.sql(
        "SELECT COUNT(*) AS n FROM big_orders(300000.0)").collect()[0]["n"]
    want = spark.sql(
        "SELECT COUNT(*) AS n FROM orders_tvf WHERE o_totalprice > 300000.0"
    ).collect()[0]["n"]
    assert got == want
    assert 0 < got


# --- linear regression (normal equations) ------------------------------------------

def test_linreg_recovers_exact_model(spark, tmp_path_factory):
    """Plant an EXACT linear relation in quantized units —
    y_cents = 300 + 2·x1q − 1·x2q — and the normal-equations fit must
    recover (300, 2, −1) to the rounded 6dp surfaced by the query."""
    from canary_weather_etl_spark.plans import REGISTRY

    tmp = str(tmp_path_factory.mktemp("linreg"))
    rows = []
    for i, (qty, disc) in enumerate(
            [(1.0, 0.0), (2.0, 0.01), (3.0, 0.05), (7.0, 0.02),
             (11.0, 0.08), (4.0, 0.04), (9.0, 0.0)]):
        x1q = round(qty * 100)
        x2q = round(disc * 10000)
        y_cents = 300 + 2 * x1q - 1 * x2q
        rows.append((i, qty, disc, y_cents / 100.0))
    spark.createDataFrame(
        rows, "l_orderkey bigint, l_quantity double, l_discount double, "
              "l_extendedprice double"
    ).write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
    out = REGISTRY["q_linreg_normal_eq"].fn(spark, tmp).collect()[0]
    assert out["n_rows"] == len(rows)
    assert out["beta0"] == 300.0
    assert out["beta1"] == 2.0
    assert out["beta2"] == -1.0


# --- parameterized SQL -----------------------------------------------------------------

def test_parameterized_sql_named_args(spark, sf_dir):
    """spark.sql named-parameter markers (:name + args dict, Spark 3.4+):
    literals bind at parse time — no string interpolation, no injection
    surface. Must plan/execute identically to the inlined literal."""
    spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .createOrReplaceTempView("orders_psql")
    got = spark.sql(
        "SELECT COUNT(*) AS n FROM orders_psql "
        "WHERE o_totalprice > :lo AND o_orderpriority = :prio",
        args={"lo": 200000.0, "prio": "1-URGENT"}).collect()[0]["n"]
    want = spark.sql(
        "SELECT COUNT(*) AS n FROM orders_psql "
        "WHERE o_totalprice > 200000.0 AND o_orderpriority = '1-URGENT'"
    ).collect()[0]["n"]
    assert got == want and got > 0


# --- catalog statistics / CBO surface ------------------------------------------------

def test_analyze_table_statistics_feed_cbo(spark, tmp_path_factory):
    """ANALYZE TABLE ... COMPUTE STATISTICS (table + FOR COLUMNS): the
    cost-based-optimizer inputs. Asserts the full pipeline: catalog
    stats land (rowCount/sizeInBytes), column stats land (min/max/
    distinct-count), and with CBO enabled the optimizer's row-count
    estimate for the analyzed table IS the analyzed count rather than a
    size-based guess — the signal join reordering and broadcast
    decisions consume at 100 TB."""
    import uuid

    name = f"nation_stats_{uuid.uuid4().hex[:8]}"
    spark.read.parquet("/root/testdata/sf0.01/nation.parquet") \
        .write.saveAsTable(name)
    try:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS "
                  f"FOR COLUMNS n_nationkey, n_name")
        n = spark.table(name).count()

        desc = {r["col_name"]: r["data_type"] for r in
                spark.sql(f"DESC EXTENDED {name}").collect()}
        assert "Statistics" in desc and f"{n} rows" in desc["Statistics"]

        cdesc = {r["info_name"]: r["info_value"] for r in
                 spark.sql(f"DESC EXTENDED {name} n_nationkey").collect()}
        assert cdesc["distinct_count"] == str(n)
        assert cdesc["min"] == "0" and int(cdesc["max"]) == n - 1

        old = spark.conf.get("spark.sql.cbo.enabled")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            stats = (spark.table(name)._jdf.queryExecution()
                     .optimizedPlan().stats())
            assert int(stats.rowCount().get()) == n
        finally:
            spark.conf.set("spark.sql.cbo.enabled", old)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


# --- DataFrame stat API: freqItems / approxQuantile ------------------------------------

def test_stat_freq_items_superset_of_exact(spark, sf_dir):
    """df.stat.freqItems guarantees every item with frequency > support
    appears (possible false positives, no false negatives) — assert the
    contract against exact counts: superset of the exact heavy hitters."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    support = 0.15
    got = set(ev.stat.freqItems(["event_type"], support)
              .collect()[0]["event_type_freqItems"])
    n = ev.count()
    exact = {r["event_type"] for r in
             ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
             .filter(F.col("c") > support * n).collect()}
    assert exact <= got
    assert exact, "fixture has no heavy hitters at this support"


def test_stat_approx_quantile_bounded_error(spark, sf_dir):
    """df.stat.approxQuantile's relativeError contract: each returned
    quantile's TRUE rank must lie within ±err·n of the requested rank."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("value")
    err = 0.01
    qs = [0.1, 0.5, 0.9]
    got = ev.stat.approxQuantile("value", qs, err)
    vals = sorted(r["value"] for r in ev.collect())
    n = len(vals)
    import bisect
    for q, v in zip(qs, got):
        lo = bisect.bisect_left(vals, v)
        hi = bisect.bisect_right(vals, v)
        target = q * n
        assert lo - err * n <= target <= hi + err * n, \
            f"quantile {q}: value {v} rank [{lo},{hi}] vs target {target}"


# --- batch perceptron ---------------------------------------------------------

def test_perceptron_matches_naive_numpy(spark):
    """q_perceptron_batch vs a from-scratch numpy batch perceptron:
    same quantization, same y*margin<=0 rule, same integer updates —
    per-round update counts and weight L1 norms must agree exactly."""
    from canary_weather_etl_spark.plans.r7_queries import (
        q_perceptron_batch)

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    q = {r["vec_id"]: (1 if r["label"] < 5 else -1,
                       np.floor(np.array(r["embedding"], dtype=np.float64)
                                * 1_000_000 + 0.5).astype(np.int64))
         for r in emb}
    dims = len(next(iter(q.values()))[1])
    w = np.zeros(dims, dtype=np.int64)
    expect = []
    for rnd in range(1, 4):
        mis = [(y, x) for y, x in q.values() if y * int(x @ w) <= 0]
        for y, x in mis:
            w += y * x
        expect.append((rnd, len(mis), int(np.abs(w).sum())))

    got = sorted(tuple(r) for r in
                 q_perceptron_batch(spark, SF_SMALL).collect())
    assert got == expect


# --- AQE rebalance hint + Observation API -------------------------------------

def test_rebalance_hint_in_plan(spark):
    """/*+ REBALANCE(col) */ (and df.hint('rebalance')) resolves to an
    AQE rebalance node — the output-file skew fix for 100 TB writes:
    post-shuffle partitions are split/coalesced to target size instead
    of inheriting the skew of the grouping key."""
    df = (spark.range(10_000).withColumn("k", F.col("id") % 7)
          .hint("rebalance", "k"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Rebalance" in plan or "REBALANCE" in plan
    sql_plan = (spark.sql("SELECT /*+ REBALANCE(id) */ id FROM range(100)")
                ._jdf.queryExecution().toString())
    assert "Rebalance" in sql_plan or "RebalancePartitions" in sql_plan


def test_observation_metrics_piggyback(spark):
    """df.observe collects aggregate metrics DURING the action (no
    second scan) and they match an explicit aggregate — the row-count /
    checksum audit channel for production pipelines."""
    from pyspark.sql import Observation

    e = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    obs = Observation("audit")
    observed = e.observe(obs, F.count(F.lit(1)).alias("n_rows"),
                         F.expr("bit_xor(xxhash64(event_id))")
                          .alias("checksum"))
    n_out = observed.filter(F.col("value") > 0).count()
    metrics = obs.get
    expect = e.agg(F.count(F.lit(1)).alias("n_rows"),
                   F.expr("bit_xor(xxhash64(event_id))").alias("checksum")
                   ).collect()[0]
    assert metrics["n_rows"] == expect["n_rows"]
    assert metrics["checksum"] == expect["checksum"]
    assert 0 < n_out <= metrics["n_rows"]


# --- late-r7 analytics: naive-Python twins --------------------------------------

def _floor6(x: float) -> float:
    import math
    return math.floor(x * 1e6 + 0.5) / 1e6


def test_basket_pairs_matches_naive(spark):
    """q_basket_pairs vs a from-scratch itertools recomputation: same
    basket definition, same 1%-support prune, same IEEE lift op order."""
    from itertools import combinations

    from canary_weather_etl_spark.plans.r7_queries import q_basket_pairs

    rows = (spark.read.parquet(f"{SF_SMALL}/events.parquet")
            .select("user_id", F.col("ts").cast("date").alias("day"),
                    "event_type").collect())
    baskets: dict[tuple, set] = {}
    for r in rows:
        baskets.setdefault((r["user_id"], r["day"]), set()).add(
            r["event_type"])
    n = len(baskets)
    supp: dict[str, int] = {}
    pair_n: dict[tuple, int] = {}
    for items in baskets.values():
        for it in items:
            supp[it] = supp.get(it, 0) + 1
        for a, b in combinations(sorted(items), 2):
            pair_n[(a, b)] = pair_n.get((a, b), 0) + 1
    expect = sorted(
        (a, b, c, _floor6((float(c) * n) / (float(supp[a]) * supp[b])))
        for (a, b), c in pair_n.items() if c * 100 >= n)

    got = sorted(tuple(r) for r in q_basket_pairs(spark, SF_SMALL).collect())
    assert got == expect and len(got) > 0


def test_chisq_independence_matches_naive(spark):
    """q_chisq_independence vs a pure-Python contingency recomputation:
    exact integer cells, same E op order, same fixed-point term sum."""
    import math

    from canary_weather_etl_spark.plans.r7_queries import (
        q_chisq_independence)

    rows = (spark.read.parquet(f"{SF_SMALL}/events.parquet")
            .select("event_type", "value").collect())
    cells: dict[tuple, int] = {}
    for r in rows:
        key = (r["event_type"], 1 if r["value"] > 100.0 else 0)
        cells[key] = cells.get(key, 0) + 1
    n = sum(cells.values())
    rt = {}
    ct = {}
    for (t, f), o in cells.items():
        rt[t] = rt.get(t, 0) + o
        ct[f] = ct.get(f, 0) + o
    fp = 0
    for (t, f), o in cells.items():
        e = (float(rt[t]) * ct[f]) / n
        fp += math.floor((float(o) - e) * (float(o) - e) / e * 1e6 + 0.5)
    dof = (len(set(rt.values())) - 1) * (len(set(ct.values())) - 1)
    # dof uses distinct row/col TOTALS (matches the query's countDistinct
    # over rt/ct); with distinct totals this equals (r-1)*(c-1)
    expect = (n, len(cells), dof, float(fp) / 1e6)

    got = tuple(q_chisq_independence(spark, SF_SMALL).collect()[0])
    assert got == expect


def test_daily_autocorr_matches_naive(spark):
    """q_daily_autocorr vs pure-Python exact-moment Pearson on the
    lagged daily series; result must land in [-1, 1]."""
    import math

    from canary_weather_etl_spark.plans.r7_queries import q_daily_autocorr

    rows = (spark.read.parquet(f"{SF_SMALL}/events.parquet")
            .select("event_type", F.col("ts").cast("date").alias("day"))
            .collect())
    daily: dict[tuple, int] = {}
    for r in rows:
        daily[(r["event_type"], r["day"])] = \
            daily.get((r["event_type"], r["day"]), 0) + 1
    expect = []
    for t in sorted({k[0] for k in daily}):
        series = [c for _, c in sorted(
            ((d, c) for (tt, d), c in daily.items() if tt == t))]
        pairs = list(zip(series, series[1:]))
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        num = float(n * sxy - sx * sy)
        den = math.sqrt(float(n * sxx - sx * sx)
                        * float(n * syy - sy * sy))
        expect.append((t, n, math.floor(num / den * 1e6 + 0.5) / 1e6))

    got = [tuple(r) for r in q_daily_autocorr(spark, SF_SMALL).collect()]
    assert got == expect
    assert all(-1.0 <= r[2] <= 1.0 for r in got)


def test_benford_digits_matches_naive(spark):
    """q_benford_digits vs pure-Python first-digit histogram; expected
    fractions are the shared literals; fractions sum to ~1."""
    import math

    from canary_weather_etl_spark.plans.r7_queries import (
        _BENFORD_EXPECTED, q_benford_digits)

    prices = [r["o_totalprice"] for r in
              spark.read.parquet(f"{SF_SMALL}/orders.parquet")
              .select("o_totalprice").collect()]
    counts: dict[int, int] = {}
    for p in prices:
        d = int(str(int(math.floor(p * 100 + 0.5)))[0])
        counts[d] = counts.get(d, 0) + 1
    total = sum(counts.values())
    expect = [(d, c, math.floor(float(c) / total * 1e6 + 0.5) / 1e6,
               _BENFORD_EXPECTED[d - 1])
              for d, c in sorted(counts.items())]

    got = [tuple(r) for r in q_benford_digits(spark, SF_SMALL).collect()]
    assert got == expect
    assert abs(sum(r[2] for r in got) - 1.0) < 1e-5


def test_mannwhitney_u_matches_naive(spark):
    """q_mannwhitney_u vs a from-scratch pure-Python rank-sum: same
    half-unit tie-averaged ranks, same exact U, same IEEE z op order."""
    import math

    from canary_weather_etl_spark.plans.r7_queries import q_mannwhitney_u

    rows = (spark.read.parquet(f"{SF_SMALL}/events.parquet")
            .select("event_type", "value").collect())
    vals = [(r["event_type"], r["value"]) for r in rows
            if r["event_type"] in ("click", "purchase")]
    svals = sorted(v for _, v in vals)
    first = {}
    cnt = {}
    for i, v in enumerate(svals):
        first.setdefault(v, i + 1)
        cnt[v] = cnt.get(v, 0) + 1
    r2_b = sum(2 * first[v] + cnt[v] - 1
               for t, v in vals if t == "purchase")
    n_a = sum(1 for t, _ in vals if t == "click")
    n_b = len(vals) - n_a
    tie = sum(t * t * t - t for t in cnt.values())
    u2 = r2_b - n_b * (n_b + 1)
    sigma = math.sqrt((float(n_a) * n_b / 12.0)
                      * ((n_a + n_b + 1)
                         - float(tie) / (float(n_a + n_b)
                                         * (n_a + n_b - 1))))
    z = math.floor(float(u2 - n_a * n_b) / (2.0 * sigma) * 1e6 + 0.5) / 1e6
    expect = (n_a, n_b, u2, z)

    got = tuple(q_mannwhitney_u(spark, SF_SMALL).collect()[0])
    assert got == expect
    # exact-U identity: U_a + U_b = n_a*n_b  (in 2x units)
    assert 0 <= u2 <= 2 * n_a * n_b


def test_cusum_changepoint_matches_naive(spark):
    """q_cusum_changepoint vs pure-Python scaled CUSUM argmax."""
    import math

    from canary_weather_etl_spark.plans.r7_queries import (
        q_cusum_changepoint)

    rows = (spark.read.parquet(f"{SF_SMALL}/events.parquet")
            .select(F.col("ts").cast("date").alias("day")).collect())
    daily: dict = {}
    for r in rows:
        daily[r["day"]] = daily.get(r["day"], 0) + 1
    nd = len(daily)
    total = sum(daily.values())
    acc, best = 0, None
    for day in sorted(daily):
        acc += nd * daily[day] - total
        if best is None or abs(acc) > abs(best[1]):
            best = (day, acc)
    expect = (best[0], nd, best[1],
              math.floor(float(best[1]) / nd * 1e6 + 0.5) / 1e6)

    got = tuple(q_cusum_changepoint(spark, SF_SMALL).collect()[0])
    assert got == expect


def test_longest_streak_matches_naive(spark):
    """q_longest_streak vs pure-Python consecutive-run scan."""
    from canary_weather_etl_spark.plans.r7_queries import q_longest_streak

    rows = (spark.read.parquet(f"{SF_SMALL}/events.parquet")
            .select("user_id", F.col("ts").cast("date").alias("day"))
            .collect())
    days: dict = {}
    for r in rows:
        days.setdefault(r["user_id"], set()).add(r["day"])
    per_user = []
    for u, ds in days.items():
        sd = sorted(ds)
        longest = run = 1
        for a, b in zip(sd, sd[1:]):
            run = run + 1 if (b - a).days == 1 else 1
            longest = max(longest, run)
        per_user.append((u, longest, len(sd)))
    expect = sorted(per_user, key=lambda r: (-r[1], r[0]))[:50]

    got = [tuple(r) for r in q_longest_streak(spark, SF_SMALL).collect()]
    assert got == expect


def test_gini_concentration_matches_naive(spark):
    """q_gini_concentration vs pure-Python sorted-formula Gini on exact
    integer cents; Gini must land in [0, 1)."""
    import math

    from canary_weather_etl_spark.plans.r7_queries import (
        q_gini_concentration)

    rows = (spark.read.parquet(f"{SF_SMALL}/orders.parquet")
            .select("o_custkey", "o_totalprice").collect())
    cents: dict = {}
    for r in rows:
        c = int(np.round(r["o_totalprice"] * 100))
        cents[r["o_custkey"]] = cents.get(r["o_custkey"], 0) + c
    xs = sorted(cents.values())
    n, s0 = len(xs), sum(xs)
    s1 = sum((i + 1) * x for i, x in enumerate(xs))
    gini = math.floor(((2.0 * s1) / (float(n) * s0)
                       - float(n + 1) / n) * 1e6 + 0.5) / 1e6
    expect = (n, float(s0) / 100, gini)

    got = tuple(q_gini_concentration(spark, SF_SMALL).collect()[0])
    assert got == expect
    assert 0.0 <= gini < 1.0


def test_funnel_latency_matches_naive(spark):
    """q_funnel_latency vs pure-Python first-signup/first-purchase
    hour-bucket histogram on exact epoch micros."""
    from canary_weather_etl_spark.plans.r7_queries import q_funnel_latency

    rows = (spark.read.parquet(f"{SF_SMALL}/events.parquet")
            .select("user_id", "event_type",
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    .alias("us")).collect())
    firsts: dict = {}
    for r in rows:
        s, p = firsts.get(r["user_id"], (None, None))
        if r["event_type"] == "signup" and (s is None or r["us"] < s):
            s = r["us"]
        if r["event_type"] == "purchase" and (p is None or r["us"] < p):
            p = r["us"]
        firsts[r["user_id"]] = (s, p)
    hist: dict = {}
    for s, p in firsts.values():
        if s is not None and p is not None and p >= s:
            b = (p - s) // 3600000000
            hist[b] = hist.get(b, 0) + 1
    expect = sorted(hist.items())

    got = [tuple(r) for r in q_funnel_latency(spark, SF_SMALL).collect()]
    assert got == expect and len(got) > 0


def test_skew_audit_matches_naive(spark):
    """q_skew_audit vs pure-Python frequency scan; ratio >= 1."""
    import math

    from canary_weather_etl_spark.plans.r7_queries import q_skew_audit

    keys = [r["l_partkey"] for r in
            spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
            .select("l_partkey").collect()]
    cnt: dict = {}
    for k in keys:
        cnt[k] = cnt.get(k, 0) + 1
    n_keys, total, mx = len(cnt), len(keys), max(cnt.values())
    ratio = math.floor((float(mx) * n_keys) / total * 1e6 + 0.5) / 1e6
    expect = [(k, c, n_keys, total, ratio)
              for k, c in sorted(cnt.items(),
                                 key=lambda kv: (-kv[1], kv[0]))[:5]]

    got = [tuple(r) for r in q_skew_audit(spark, SF_SMALL).collect()]
    assert got == expect
    assert ratio >= 1.0


def test_attribution_linear_matches_naive(spark):
    """q_attribution_linear vs pure-Python equal-split ppm credits."""
    from canary_weather_etl_spark.plans.r7_queries import (
        q_attribution_linear)

    rows = (spark.read.parquet(f"{SF_SMALL}/events.parquet")
            .select("user_id", "event_type",
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    .alias("us")).collect())
    firstp: dict = {}
    for r in rows:
        if r["event_type"] == "purchase":
            u = r["user_id"]
            if u not in firstp or r["us"] < firstp[u]:
                firstp[u] = r["us"]
    touches: dict = {}
    for r in rows:
        u = r["user_id"]
        if u in firstp and r["us"] < firstp[u]:
            touches.setdefault(u, set()).add(r["event_type"])
    agg: dict = {}
    for u, chans in touches.items():
        ppm = 1000000 // len(chans)
        for c in chans:
            n, s = agg.get(c, (0, 0))
            agg[c] = (n + 1, s + ppm)
    expect = sorted(((c, n, s) for c, (n, s) in agg.items()),
                    key=lambda r: (-r[2], r[0]))

    got = [tuple(r) for r in
           q_attribution_linear(spark, SF_SMALL).collect()]
    assert got == expect and len(got) > 0


def test_rolling_active_users_matches_naive(spark):
    """q_rolling_active_users vs pure-Python 7-day trailing distinct."""
    from canary_weather_etl_spark.plans.r7_queries import (
        q_rolling_active_users)

    rows = (spark.read.parquet(f"{SF_SMALL}/events.parquet")
            .select("user_id", F.col("ts").cast("date").alias("day"))
            .collect())
    ud = {(r["user_id"], r["day"]) for r in rows}
    days = sorted({d for _, d in ud})
    expect = []
    for d in days:
        users = {u for u, dd in ud if 0 <= (d - dd).days <= 6}
        expect.append((d, len(users)))

    got = [tuple(r) for r in
           q_rolling_active_users(spark, SF_SMALL).collect()]
    assert got == expect
    # WAU >= DAU on every day
    dau = {d: len({u for u, dd in ud if dd == d}) for d in days}
    assert all(w >= dau[d] for d, w in got)


def test_global_cumsum_matches_window(spark):
    """global_cumsum == single-partition SUM OVER (ORDER BY) on a
    multi-partition integer frame, including duplicate order keys."""
    from pyspark.sql import Window

    from canary_weather_etl_spark.operators.ranking import global_cumsum

    df = spark.range(0, 500, 1, 8).select(
        (F.col("id") % 97).alias("k"), (F.col("id") % 13).alias("v"))
    got = {r["k"] * 1000 + r["v"]: r["c"] for r in
           global_cumsum(df, [F.col("k"), F.col("v")], "v", out_col="c")
           .collect()}
    w = (Window.orderBy("k", "v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = {r["k"] * 1000 + r["v"]: r["c"] for r in
            df.withColumn("c", F.sum("v").over(w).cast("bigint"))
            .collect()}
    # duplicate (k, v) rows make per-row identity ambiguous; compare the
    # multiset of cumsum values per key instead
    gb: dict = {}
    wb: dict = {}
    for r in global_cumsum(df, [F.col("k"), F.col("v")], "v",
                           out_col="c").collect():
        gb.setdefault((r["k"], r["v"]), []).append(r["c"])
    for r in (df.withColumn("c", F.sum("v").over(w).cast("bigint"))
              .collect()):
        wb.setdefault((r["k"], r["v"]), []).append(r["c"])
    assert {k: sorted(v) for k, v in gb.items()} == \
        {k: sorted(v) for k, v in wb.items()}


def test_abc_classification_matches_naive(spark):
    """q_abc_classification vs pure-Python Lorenz scan on exact cents;
    classes partition the customer set and shares sum to ~1."""
    import math

    from canary_weather_etl_spark.plans.r7_queries import (
        q_abc_classification)

    rows = (spark.read.parquet(f"{SF_SMALL}/orders.parquet")
            .select("o_custkey", "o_totalprice").collect())
    cents: dict = {}
    for r in rows:
        cents[r["o_custkey"]] = cents.get(r["o_custkey"], 0) + int(
            np.round(r["o_totalprice"] * 100))
    total = sum(cents.values())
    agg: dict = {}
    cum = 0
    for k, c in sorted(cents.items(), key=lambda kv: (-kv[1], kv[0])):
        cum += c
        cls = "A" if cum * 10 <= total * 7 else \
            ("B" if cum * 10 <= total * 9 else "C")
        n, s = agg.get(cls, (0, 0))
        agg[cls] = (n + 1, s + c)
    expect = [(cls, n, float(s) / 100,
               math.floor(float(s) / total * 1e6 + 0.5) / 1e6)
              for cls, (n, s) in sorted(agg.items())]

    got = [tuple(r) for r in
           q_abc_classification(spark, SF_SMALL).collect()]
    assert got == expect
    assert sum(n for _, n, _, _ in got) == len(cents)
    assert abs(sum(sh for *_, sh in got) - 1.0) < 1e-5


def _daily_xy(spark):
    rows = (spark.read.parquet(f"{SF_SMALL}/events.parquet")
            .select("event_type", F.col("ts").cast("date").alias("day"))
            .collect())
    daily: dict = {}
    for r in rows:
        x, y = daily.get(r["day"], (0, 0))
        if r["event_type"] == "click":
            x += 1
        if r["event_type"] == "purchase":
            y += 1
        daily[r["day"]] = (x, y)
    return list(daily.values())


def test_kendall_tau_matches_naive(spark):
    """q_kendall_tau vs pure-Python all-pairs concordance count."""
    import math

    from canary_weather_etl_spark.plans.r7_queries import q_kendall_tau

    xy = _daily_xy(spark)
    n = len(xy)
    c = d = 0
    for i in range(n):
        for j in range(i + 1, n):
            p = (xy[i][0] - xy[j][0]) * (xy[i][1] - xy[j][1])
            c += p > 0
            d += p < 0
    n0 = n * (n - 1) // 2
    tie = lambda vals: sum(t * (t - 1) // 2 for t in
                           __import__("collections")
                           .Counter(vals).values())
    n1, n2 = tie([x for x, _ in xy]), tie([y for _, y in xy])
    tau = math.floor(float(c - d)
                     / math.sqrt(float(n0 - n1) * float(n0 - n2))
                     * 1e6 + 0.5) / 1e6
    got = tuple(q_kendall_tau(spark, SF_SMALL).collect()[0])
    assert got == (n, c, d, tau)
    assert -1.0 <= tau <= 1.0


def test_spearman_corr_matches_naive(spark):
    """q_spearman_corr vs pure-Python tie-averaged-rank Pearson in
    exact half-units; scipy-free from-scratch reference."""
    import math

    from canary_weather_etl_spark.plans.r7_queries import q_spearman_corr

    xy = _daily_xy(spark)

    def ranks2(vals):
        sv = sorted(vals)
        first = {}
        cnt = {}
        for i, v in enumerate(sv):
            first.setdefault(v, i + 1)
            cnt[v] = cnt.get(v, 0) + 1
        return [2 * first[v] + cnt[v] - 1 for v in vals]

    rx = ranks2([x for x, _ in xy])
    ry = ranks2([y for _, y in xy])
    n = len(xy)
    sx, sy = sum(rx), sum(ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    sxx = sum(a * a for a in rx)
    syy = sum(b * b for b in ry)
    rho = math.floor(float(n * sxy - sx * sy)
                     / math.sqrt(float(n * sxx - sx * sx)
                                 * float(n * syy - sy * sy))
                     * 1e6 + 0.5) / 1e6
    got = tuple(q_spearman_corr(spark, SF_SMALL).collect()[0])
    assert got == (n, rho)
    assert -1.0 <= rho <= 1.0
