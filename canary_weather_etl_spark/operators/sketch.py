"""Count-min sketch as a mergeable DataFrame artifact (SURVEY.md §2.11 /
§2.4 approx-sketch family, alongside the HLL sketch table of
q_hll_sketch_merge).

A CMS answers "approximately how often does item x occur?" in
depth × width integer cells — fixed KBs regardless of input size — with
the one-sided guarantee est ≥ true, and est ≤ true + εN (ε = e/width)
with probability 1 − e^(−depth) per probe. Unlike Spark's built-in
`count_min_sketch` aggregate (an opaque binary with no SQL estimator),
this one materializes the sketch as a (d, w, cnt) TABLE:

- built in one pass: per row, explode `depth` (row, bucket) coordinates
  (md5(item ':' d) prefix mod width) and hash-aggregate —
  map-side partial combine does most of the summing, the shuffle carries
  at most depth·width rows;
- mergeable by construction: sketches of two corpus shards combine with
  a plain groupBy(d, w).sum(cnt) — the pre-aggregated-sketch-table
  pattern that lets a 100 TB frequency dashboard update incrementally
  without rescanning history;
- estimable in SQL: probe items equi-join the table on (d, w), min over
  depth rows. Absent cells coalesce to 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _coords(item: F.Column, width: int, depth: int) -> F.Column:
    """array<struct<d, w>> of the item's sketch coordinates, one per hash
    row: row d's bucket is md5(item ':' d)'s first 7 hex digits (a 28-bit
    int) mod width — bit-replayable by a SQL oracle (`CAST('0x' ||
    substr(md5(x || ':' || d), 1, 7) AS BIGINT) % width` in DuckDB). The
    one-sided CMS guarantee rests on bucket uniformity, not on the hash
    function."""
    def bucket(d: int) -> F.Column:
        key = F.concat(item.cast("string"), F.lit(f":{d}"))
        h = F.conv(F.substring(F.md5(key), 1, 7), 16, 10).cast("long")
        return h % F.lit(width)
    return F.array(*[
        F.struct(F.lit(d).alias("d"), bucket(d).alias("w"))
        for d in range(depth)
    ])


def cms_build(df: DataFrame, item_col: str,
              width: int = 2048, depth: int = 4) -> DataFrame:
    """One-pass CMS build → (d, w, cnt) rows (≤ depth·width of them)."""
    return (
        df.select(F.explode(_coords(F.col(item_col), width, depth))
                  .alias("c"))
        .groupBy(F.col("c.d").alias("d"), F.col("c.w").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Union shard sketches and re-sum cells — exact merge (CMS cells are
    plain counters), KB-sized inputs regardless of original data size."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "w").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(sketch: DataFrame, items: DataFrame, item_col: str,
                 width: int = 2048, depth: int = 4) -> DataFrame:
    """Point-query every item: explode its depth coordinates, left-join
    the sketch on (d, w) — the sketch side is tiny, so this broadcasts —
    and take the min cell as the estimate. Returns (item_col, est)."""
    probes = (
        items.select(item_col).distinct()
        .select(item_col,
                F.explode(_coords(F.col(item_col), width, depth))
                .alias("c"))
        .select(item_col, F.col("c.d").alias("d"), F.col("c.w").alias("w"))
    )
    return (
        probes.join(F.broadcast(sketch), ["d", "w"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )


# ---------------------------------------------------------------------------
# Bloom filter as a bit-packed words table (portable hash family)
# ---------------------------------------------------------------------------

def _bloom_positions(key: F.Column, m_bits: int, k: int) -> F.Column:
    """array<long> of the key's k bit positions — md5(key ':' i) first
    7 hex digits (28-bit int) mod m_bits, i = 0..k-1: the same portable
    family as the CMS/MinHash conversions, so a SQL oracle rebuilds the
    identical filter."""
    def pos(i: int) -> F.Column:
        h = F.conv(F.substring(
            F.md5(F.concat(key.cast("string"), F.lit(f":{i}"))), 1, 7),
            16, 10).cast("long")
        return h % F.lit(m_bits)
    return F.array(*[pos(i) for i in range(k)])


def bloom_build(df: DataFrame, key_col: str,
                m_bits: int = 65_536, k: int = 4) -> DataFrame:
    """Bloom filter over ``key_col`` as a BIT-PACKED WORDS TABLE:
    (word, bits) rows where word = position DIV 32 and bits OR-packs the
    set positions' 32-bit lanes into a long (lanes 0..31 only, so no
    sign-bit portability hazard between engines). <= m_bits/32 rows —
    KB-sized at any corpus size, the broadcastable admission-gate
    artifact: the 100 TB exact-dup pre-screen keeps the full md5 set
    partitioned on disk and this filter in memory; a batch probes the
    filter first and only semi-joins the big table for 'maybe' rows.
    One-sided by construction: members are ALWAYS reported present
    (no false negatives); non-members collide with probability
    ~(1 - e^(-k·n/m))^k."""
    pos = (df.select(F.explode(
        _bloom_positions(F.col(key_col), m_bits, k)).alias("pos"))
        .distinct())
    return (pos.groupBy((F.col("pos") / 32).cast("long").alias("word"))
            .agg(F.sum(F.expr("shiftleft(1L, int(pos % 32))"))
                 .alias("bits")))


def bloom_probe(words: DataFrame, df: DataFrame, key_col: str,
                m_bits: int = 65_536, k: int = 4) -> DataFrame:
    """Membership probe: a key is 'maybe present' iff ALL k of its bit
    positions are set. Explode the k positions, broadcast-join the words
    table, count satisfied lanes. Returns df's rows + ``in_bloom``.
    ``m_bits``/``k`` must match the build's."""
    probes = df.select(
        key_col,
        F.explode(_bloom_positions(F.col(key_col), m_bits, k))
        .alias("pos"))
    hits = (
        probes
        .withColumn("word", (F.col("pos") / 32).cast("long"))
        .join(F.broadcast(words), "word", "left")
        .withColumn(
            "hit",
            F.coalesce(F.expr("(bits & shiftleft(1L, int(pos % 32))) != 0"),
                       F.lit(False)))
        .groupBy(key_col)
        .agg((F.sum(F.col("hit").cast("int")) == F.lit(k))
             .alias("in_bloom")))
    return df.join(hits, key_col, "left")
