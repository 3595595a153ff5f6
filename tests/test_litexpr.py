"""litexpr (r14): the SQL-string literal builders must produce the SAME
analyzed expressions as the element-wise py4j shapes they replace —
same values, same types, same plans. If these drift, the optimization
changed semantics, which is exactly what it must never do."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from canary_weather_etl_spark.functions import litexpr as X

@pytest.fixture(scope="module")
def frame(spark):
    rows = [(i, [((i * 7 + j * 13) % 41) - 20 for j in range(8)])
            for i in range(32)]
    return spark.createDataFrame(rows, "vec_id BIGINT, qvec ARRAY<BIGINT>")


CENTS = {0: [3, -1, 4, 1, -5, 9, 2, -6],
         1: [-2, 7, 1, -8, 2, 8, -1, 8],
         2: [0, 0, 0, 0, 0, 0, 0, 0]}


def _old_sqdist(cent):
    carr = F.array(*[F.lit(int(v)).cast("long") for v in cent])
    diff = F.zip_with(F.col("qvec"), carr, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diff, F.lit(0).cast("long"), lambda acc, x: acc + x)


def test_sqdist_matches_elementwise_shape(frame):
    old = frame.select(_old_sqdist(CENTS[0]).alias("d"))
    new = frame.select(F.expr(X.sqdist_sql("qvec", CENTS[0])).alias("d"))
    assert old.schema == new.schema
    assert old.collect() == new.collect()


def test_argmin_struct_matches_elementwise_shape(frame):
    old_best = F.array_min(F.array(*[
        F.struct(_old_sqdist(c).alias("d"),
                 F.lit(int(cid)).cast("int").alias("cid"))
        for cid, c in sorted(CENTS.items())]))
    old = frame.select(old_best["cid"].alias("cid"),
                       old_best["d"].alias("d"))
    sql = X.argmin_struct_sql("qvec", CENTS)
    new = frame.select(F.expr(f"({sql}).cid").alias("cid"),
                       F.expr(f"({sql}).d").alias("d"))
    assert old.schema == new.schema
    assert old.collect() == new.collect()


def test_case_long_array_matches_when_chain(frame):
    keyed = frame.withColumn("k", (F.col("vec_id") % 3).cast("int"))
    cexpr = None
    for cid, c in sorted(CENTS.items()):
        arr = F.array(*[F.lit(int(v)).cast("long") for v in c])
        cexpr = (F.when(F.col("k") == cid, arr) if cexpr is None
                 else cexpr.when(F.col("k") == cid, arr))
    old = keyed.select(F.zip_with("qvec", cexpr,
                                  lambda x, y: x - y).alias("r"))
    case = X.case_long_array_sql("k", CENTS)
    new = keyed.select(
        F.expr(f"zip_with(qvec, {case}, (x, y) -> x - y)").alias("r"))
    assert old.schema == new.schema
    assert old.collect() == new.collect()


def test_dot_sql_matches_elementwise_shape(frame):
    w = CENTS[1]
    warr = F.array(*[F.lit(int(v)).cast("long") for v in w])
    old = frame.select(
        F.aggregate(F.zip_with("qvec", warr, lambda x, y: x * y),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("p"))
    new = frame.select(F.expr(X.dot_sql("qvec", w)).alias("p"))
    assert old.schema == new.schema
    assert old.collect() == new.collect()


def test_long_array_types_and_values(spark):
    df = spark.range(1).select(X.long_array([1, -2, 3]).alias("a"))
    assert df.schema["a"].dataType.simpleString() == "array<bigint>"
    assert df.collect()[0]["a"] == [1, -2, 3]


NASTY = ["", "a", "</w>", "it's", 'quote"d', "back\\slash", "tab\there",
         "new\nline", "cr\rhere", "nul\0byte", "uni½çode é一",
         "%s {brace} $dollar", "two''quotes", "\\' mix\\n", "🙂emoji"]


def test_string_literal_sql_matches_lit(spark):
    old = spark.range(1).select(
        *[F.lit(s).alias(f"c{i}") for i, s in enumerate(NASTY)])
    new = spark.range(1).select(
        *[F.expr(X.string_literal_sql(s)).alias(f"c{i}")
          for i, s in enumerate(NASTY)])
    assert old.schema == new.schema
    assert old.collect() == new.collect()


def test_string_array_and_map_match_elementwise(spark):
    old_arr = spark.range(1).select(
        F.array(*[F.lit(s) for s in NASTY]).alias("a"))
    new_arr = spark.range(1).select(
        F.expr(X.string_array_sql(NASTY)).alias("a"))
    assert old_arr.collect() == new_arr.collect()

    d = {s: i for i, s in enumerate(NASTY) if s}
    old_map = spark.range(1).select(F.create_map(
        *[F.lit(x) for k, v in sorted(d.items()) for x in (k, v)])
        .alias("m"))
    new_map = spark.range(1).select(
        F.expr(X.string_int_map_sql(d)).alias("m"))
    assert old_map.schema == new_map.schema
    assert old_map.collect() == new_map.collect()


def test_num_array_sql_matches_lit_promotion(spark):
    small = [0, -1, 2**31 - 1, -2**31]
    big = [0, 2**31, -2**35]
    for vals in (small, big):
        old = spark.range(1).select(
            F.array(*[F.lit(int(v)) for v in vals]).alias("a"))
        new = spark.range(1).select(F.expr(X.num_array_sql(vals)).alias("a"))
        assert old.schema == new.schema, vals
        assert old.collect() == new.collect()


def test_merge_fold_sql_matches_lambda_shape(spark):
    from canary_weather_etl_spark.operators.bpe import _merge_fold_sql
    rows = [("abab",), ("aabb",), ("bbbb",), ("a'b\\c",), ("",)]
    df = spark.createDataFrame(rows, "word STRING").select(
        "word",
        F.concat(F.split("word", ""), F.array(F.lit("</w>"))).alias("syms"))
    for left, right in [("a", "b"), ("b", "b"), ("'", "\\")]:
        _l, _r, _m = F.lit(left), F.lit(right), F.lit(left + right)
        old = df.select(F.aggregate(
            "syms", F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0) & (F.element_at(acc, -1) == _l)
                & (x == _r),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(_m)))
            .otherwise(F.concat(acc, F.array(x)))).alias("s"))
        new = df.select(
            F.expr(_merge_fold_sql("syms", left, right)).alias("s"))
        assert old.schema == new.schema
        assert old.collect() == new.collect(), (left, right)


def test_minhash_shapes_match_elementwise(spark):
    """The r14 SQL-string rewrites of the MinHash signature aggregates
    and band keys must equal the element-wise shapes they replaced."""
    from canary_weather_etl_spark.operators import dedup as D

    rows = [(i, f"alpha beta gamma delta epsilon {i % 7} {i % 3} zeta")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    sets = D.shingle_sets(df, "doc_id", "text", n=2)

    new = D.minhash_signatures_from_sets(sets, 32)
    ab = D.minhash_perm_constants(32)
    h = F.conv(F.substring(F.md5(F.col("g")), 1, 7), 16, 10).cast("long")
    exploded = (sets.select("doc", F.explode("sh").alias("g"))
                .select("doc", h.alias("h")))
    aggs = [F.min((F.lit(a) * F.col("h") + F.lit(b))
                  % F.lit(D.MINHASH_P)).alias(f"h{i}")
            for i, (a, b) in enumerate(ab)]
    old = (exploded.groupBy("doc").agg(*aggs)
           .select("doc", F.array(*[f"h{i}" for i in range(32)])
                   .alias("signature")))
    assert old.schema == new.schema
    assert (sorted(map(tuple, old.collect()))
            == sorted(map(tuple, new.collect())))

    # band keys
    def band_key(b):
        bv = F.lit(b).cast("long")
        for j in range(4):
            bv = (bv * F.lit(1_000_003)
                  + F.col("signature")[b * 4 + j]) % F.lit(D.MINHASH_P)
        return bv
    old_b = new.select("doc", F.posexplode(F.array(
        *[band_key(b) for b in range(8)])).alias("band", "band_hash"))
    new_b = D.portable_band_table(new, 8, 32)
    assert old_b.schema == new_b.schema
    assert (sorted(map(tuple, old_b.collect()))
            == sorted(map(tuple, new_b.collect())))


def test_int_map_sql_matches_create_map(spark):
    d = {0: 0, 1: 5, 2: 2**33, 31: -7}
    old = spark.range(1).select(F.create_map(
        *[F.lit(x) for kv in sorted(d.items()) for x in kv]).alias("m"))
    new = spark.range(1).select(F.expr(X.int_map_sql(d)).alias("m"))
    assert old.schema == new.schema
    assert old.collect() == new.collect()


def test_hyperplane_signature_matches_elementwise(spark):
    from canary_weather_etl_spark.operators.similarity import (
        hyperplane_signature,
    )
    rows = [(i, [((i * 13 + j * 7) % 19) / 7.0 - 1.3 for j in range(8)])
            for i in range(24)]
    df = spark.createDataFrame(rows, "id BIGINT, v ARRAY<DOUBLE>")

    def old_bit(j, dim, seed):
        proj = F.aggregate(
            F.zip_with(
                F.col("v"),
                F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                            lambda i: F.when(
                                F.xxhash64(i, F.lit(j), F.lit(seed)) % 2
                                == 0,
                                F.lit(1.0)).otherwise(F.lit(-1.0))),
                lambda x, r: x * r),
            F.lit(0.0), lambda acc, v: acc + v)
        return F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0))

    bits, dim, seed = 5, 8, 1234
    sig = old_bit(0, dim, seed)
    for j in range(1, bits):
        sig = sig + old_bit(j, dim, seed)
    old = df.select(sig.alias("s"))
    new = df.select(hyperplane_signature("v", dim, bits, seed).alias("s"))
    assert old.schema == new.schema
    assert old.collect() == new.collect()


def test_hyperplane_signature_accepts_column(spark):
    """ADVICE r14: the public signature takes Column | str. Column input
    (external callers, names needing backtick quoting) must produce the
    same values and schema as the SQL-text fast path."""
    from canary_weather_etl_spark.operators.similarity import (
        hyperplane_signature,
        hyperplane_signature_planted,
        planted_hyperplanes,
    )
    rows = [(i, [((i * 11 + j * 5) % 23) / 9.0 - 1.1 for j in range(8)])
            for i in range(24)]
    df = spark.createDataFrame(rows, "id BIGINT, v ARRAY<DOUBLE>")

    s_txt = df.select(hyperplane_signature("v", 8, 5, 77).alias("s"),
                      "id").orderBy("id")
    s_col = df.select(hyperplane_signature(F.col("v"), 8, 5, 77).alias("s"),
                      "id").orderBy("id")
    assert s_txt.schema == s_col.schema
    assert s_txt.collect() == s_col.collect()

    planes = planted_hyperplanes(probes=1, bits=5, dim=8)[0]
    p_txt = df.select(hyperplane_signature_planted("v", planes).alias("s"),
                      "id").orderBy("id")
    p_col = df.select(
        hyperplane_signature_planted(F.col("v"), planes).alias("s"),
        "id").orderBy("id")
    assert p_txt.schema == p_col.schema
    assert p_txt.collect() == p_col.collect()

    # a column name that NEEDS quoting works through the Column path
    odd = df.withColumnRenamed("v", "v vec")
    q = odd.select(hyperplane_signature(F.col("v vec"), 8, 5, 77).alias("s"),
                   "id").orderBy("id")
    assert q.collect() == s_txt.collect()

    # bits=0 is rejected on both paths (the Column path once returned None)
    for vec in ("v", F.col("v")):
        with pytest.raises(ValueError, match="bits"):
            hyperplane_signature(vec, 8, 0, 77)
