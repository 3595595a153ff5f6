"""Property-style tests for the round-7 operators: hypothesis-generated
fixture tables run end-to-end through the registry queries (or the
operator directly where no fixture table is involved) and checked
against independent naive Python references. Few examples, deadline
off — every example runs real Spark jobs."""

from __future__ import annotations

import re
from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from canary_weather_etl_spark.operators import clustering as C
from canary_weather_etl_spark.operators import dedup as D
from canary_weather_etl_spark.operators import graph as G
from canary_weather_etl_spark.plans import REGISTRY
from test_r7_ops import _naive_kmeans

SETTINGS = dict(max_examples=5, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])


# --- k-means ------------------------------------------------------------------

@given(vecs=st.lists(
    st.tuples(st.floats(-2.0, 2.0, allow_nan=False, width=32),
              st.floats(-2.0, 2.0, allow_nan=False, width=32)),
    min_size=4, max_size=16))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_kmeans_property_vs_naive(spark, vecs):
    rows = [(i, [float(a), float(b)]) for i, (a, b) in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    asg, _ = C.kmeans_fixed(C.quantize_vectors(df), k=4, iterations=2)
    got = {int(r["cluster_id"]):
           (int(r["n_members"]), int(r["inertia_units"]),
            int(r["medoid_vec_id"]))
           for r in C.kmeans_cluster_profile(asg).collect()}
    want = _naive_kmeans({i: list(v) for i, (a, b) in enumerate(vecs)
                          for v in [[a, b]]}, k=4, iterations=2)
    assert got == want


# --- BFS ----------------------------------------------------------------------

@given(edges=st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
        lambda e: e[0] != e[1]),
    min_size=1, max_size=20))
@settings(**SETTINGS)
def test_bfs_property_vs_naive(spark, edges):
    both = list({(a, b) for a, b in edges} | {(b, a) for a, b in edges})
    df = spark.createDataFrame(both, "src long, dst long")
    got = {int(r["node"]): int(r["hop"])
           for r in G.bfs_hop_levels(df, max_hops=4).collect()}
    # naive BFS from the smallest node id
    adj: dict[int, set[int]] = {}
    for a, b in both:
        adj.setdefault(a, set()).add(b)
    src = min(adj)
    want, frontier = {src: 0}, [src]
    for hop in range(1, 5):
        nxt = {d for n in frontier for d in adj.get(n, ())} - want.keys()
        want.update({d: hop for d in nxt})
        frontier = sorted(nxt)
    assert got == want


# --- prefix-filtered exact Jaccard ----------------------------------------------

_WORDS = ["alpha", "beta", "gamma", "delta", "eps"]


def _bigrams(text: str) -> frozenset[str]:
    toks = re.split(r"\s+", text.strip().lower()) if text.strip() else [""]
    return frozenset(f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1))


@given(texts=st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=8)
    .map(" ".join),
    min_size=2, max_size=10))
@settings(**SETTINGS)
def test_prefix_filter_property_vs_naive(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(int(r["a"]), int(r["b"])): round(float(r["jaccard"]), 9)
           for r in D.near_dup_pairs_exact(
               df, "doc_id", "text", n=2, threshold=0.5,
               allpairs_candidate_budget=-1).collect()}
    want = {}
    sets = {i: _bigrams(t) for i, t in rows}
    for a in sets:
        for b in sets:
            if a < b and (sets[a] or sets[b]):
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if union and inter / union >= 0.5:
                    want[(a, b)] = round(inter / union, 9)
    assert got == want


# --- positional phrase search -----------------------------------------------------

@given(texts=st.lists(
    st.lists(st.sampled_from(["value", "table", "part", "a", "the",
                              "window"]),
             min_size=0, max_size=10).map(" ".join),
    min_size=1, max_size=12))
@settings(**SETTINGS)
def test_phrase_search_property_vs_naive(spark, tmp_path_factory, texts):
    tmp = str(tmp_path_factory.mktemp("phr"))
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = {r["phrase"]: (int(r["n_docs"]), int(r["id_sum"]))
           for r in REGISTRY["q_phrase_search"].fn(spark, tmp).collect()}
    want = {}
    from canary_weather_etl_spark.plans.r7_queries import _PHRASES
    for p in _PHRASES:
        hits = [i for i, t, *_ in rows
                if f" {p} " in f" {t.strip().lower()} "]
        if hits:
            want[p] = (len(hits), sum(hits))
    assert got == want


# --- TF-IDF retrieval ----------------------------------------------------------------

@given(texts=st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=1, max_size=8).map(" ".join),
    min_size=2, max_size=10))
@settings(**SETTINGS)
def test_tfidf_retrieval_property_vs_naive(spark, tmp_path_factory, texts):
    tmp = str(tmp_path_factory.mktemp("tfidf"))
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = [(int(r["doc_id"]), int(r["score_units"]))
           for r in REGISTRY["q_tfidf_retrieval"].fn(spark, tmp).collect()]
    # naive twin: same fixed-point weighting
    tf: dict[tuple[int, str], int] = {}
    for i, t, *_ in rows:
        for tok in re.split(r"\s+", t.strip().lower()):
            tf[(i, tok)] = tf.get((i, tok), 0) + 1
    df_t: dict[str, set[int]] = {}
    for (i, tok) in tf:
        df_t.setdefault(tok, set()).add(i)
    w = {tok: int(1_000_000_000_000 / (len(ds) * len(ds)))
         for tok, ds in df_t.items()}
    q = {tok: n for (i, tok), n in tf.items() if i == 0}
    scores: dict[int, int] = {}
    for (i, tok), n in tf.items():
        if i != 0 and tok in q:
            scores[i] = scores.get(i, 0) + q[tok] * n * w[tok]
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert got == want


# --- last-touch attribution -----------------------------------------------------------

@given(evs=st.lists(
    st.tuples(st.integers(0, 3),                    # user_id
              st.integers(0, 20 * 86400),           # ts offset seconds
              st.sampled_from(["click", "purchase"]),
              st.floats(0.0, 100.0, allow_nan=False)),
    min_size=1, max_size=30))
@settings(**SETTINGS)
def test_attribution_property_vs_naive(spark, tmp_path_factory, evs):
    base = datetime(2024, 1, 1)
    tmp = str(tmp_path_factory.mktemp("attr"))
    rows = [(eid, base + timedelta(seconds=off), uid, et, float(v), "{}")
            for eid, (uid, off, et, v) in enumerate(evs)]
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
    got = {r["day"].isoformat():
           (int(r["n_purchases"]), int(r["n_attributed"]),
            None if r["lag_us_sum"] is None else int(r["lag_us_sum"]),
            None if r["attributed_cents"] is None
            else int(r["attributed_cents"]))
           for r in REGISTRY["q_attribution_last_touch"]
           .fn(spark, tmp).collect()}
    # naive per-user scan in (ts, event_id) order
    import math
    peruser: dict[int, list] = {}
    for eid, ts, uid, et, v, _ in rows:
        peruser.setdefault(uid, []).append((ts, eid, et, v))
    agg: dict[str, list] = {}
    for uid, lst in peruser.items():
        last_click = None
        for ts, eid, et, v in sorted(lst):
            if et == "purchase":
                day = ts.date().isoformat()
                a = agg.setdefault(day, [0, 0, 0, 0, False])
                a[0] += 1
                if last_click is not None:
                    dt = ts - last_click
                    lag = ((dt.days * 86400 + dt.seconds) * 1_000_000
                           + dt.microseconds)
                    if lag <= 7 * 86400 * 1_000_000:
                        a[1] += 1
                        a[2] += lag
                        a[3] += int(math.floor(v * 100 + 0.5))
                        a[4] = True
            if et == "click":
                last_click = ts
    want = {d: (a[0], a[1], a[2] if a[4] else None, a[3] if a[4] else None)
            for d, a in agg.items()}
    assert got == want


# --- Bellman-Ford ------------------------------------------------------------------

@given(edges=st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7), st.integers(1, 9))
    .filter(lambda e: e[0] != e[1]),
    min_size=1, max_size=16))
@settings(**SETTINGS)
def test_bellman_ford_property_vs_naive(spark, tmp_path_factory, edges):
    """The registry query's relaxation core vs a naive Python
    Bellman-Ford, on random weighted digraphs (both directions added,
    min weight per (src,dst) to make the edge list a function of the
    set). 4 rounds on both sides — partial distances must agree too."""
    from pyspark.sql import functions as F

    both = {}
    for a, b, w in edges:
        for s, d in ((a, b), (b, a)):
            both[(s, d)] = min(both.get((s, d), 10**9), w)
    rows = [(s, d, w) for (s, d), w in both.items()]
    df = spark.createDataFrame(rows, "src long, dst long, w long")
    e = df.localCheckpoint(eager=True)
    src_node = min(s for s, _, _ in rows)
    dist_df = (e.sparkSession.createDataFrame(
        [(src_node, 0)], "node long, dist long").localCheckpoint(True))
    for _ in range(4):
        relaxed = (dist_df.join(e, dist_df["node"] == e["src"])
                   .select(F.col("dst").alias("node"),
                           (dist_df["dist"] + e["w"]).alias("dist")))
        dist_df = (dist_df.unionByName(relaxed)
                   .groupBy("node").agg(F.min("dist").alias("dist"))
                   .localCheckpoint(True))
    got = {int(r["node"]): int(r["dist"]) for r in dist_df.collect()}

    want = {src_node: 0}
    for _ in range(4):
        nxt = dict(want)
        for (s, d), w in both.items():
            if s in want and want[s] + w < nxt.get(d, 10**18):
                nxt[d] = want[s] + w
        want = nxt
    assert got == want
