"""Golden-fixture tests for the weather ingestion pipeline (SURVEY.md §5):
the two raw JSON shapes (README.md:545-589) → flatten → join → partitioned
write → incremental upsert. Fixtures are synthesized deterministically in
the layout the reference uses: raw/<island>/<location>/{om_*.json, vc_*.json} (shared
generators: canary_weather_etl_spark/sources/weather_fixtures.py, which
also materializes the committed driver-visible fixtures).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from canary_weather_etl_spark.sources import weather as W

from canary_weather_etl_spark.sources import weather_fixtures as WF

LOCATIONS = WF.LOCATIONS
_dates = WF.dates
_om_doc = WF.om_doc
_vc_doc = WF.vc_doc
_write_raw = WF.write_raw


@pytest.fixture()
def raw_dir(tmp_path):
    root = str(tmp_path / "raw")
    _write_raw(root, _dates(1, 10))
    return root


def test_open_meteo_flatten(spark, raw_dir):
    om = W.read_open_meteo(spark, f"{raw_dir}/*/*/om*.json")
    rows = om.collect()
    assert len(rows) == 3 * 10  # one row per (location, date)
    r = {(x["location"], x["date"]): x for x in rows}[("Tenerife/Vilaflor", "2024-01-03")]
    # positional alignment: value j of var i is bias + i + j*0.25, j=2 here
    assert r["temperature_2m_max"] == pytest.approx(1 + 2 * 0.25)
    assert r["weather_code"] == (2 * 7 + 0) % 100
    assert r["island"] == "Tenerife" and r["location_name"] == "Vilaflor"
    assert r["elevation"] == 1400.0  # metadata carried through, no crossJoin


def test_open_meteo_unequal_arrays_fatal(spark, tmp_path):
    root = str(tmp_path / "bad")
    d = os.path.join(root, "Tenerife", "Vilaflor")
    os.makedirs(d)
    doc = _om_doc("Tenerife", "Vilaflor", 28.15, -16.63, 1400.0, _dates(1, 5))
    doc["daily"]["rain_sum"] = doc["daily"]["rain_sum"][:-2]  # truncate one array
    with open(os.path.join(d, "om_bad.json"), "w") as f:
        json.dump(doc, f)
    om = W.read_open_meteo(spark, f"{root}/*/*/om*.json")  # lazy: no job
    with pytest.raises(SparkRuntimeException, match="unequal lengths"):
        om.collect()


def test_visual_crossing_flatten(spark, raw_dir):
    vc = W.read_visual_crossing(spark, f"{raw_dir}/*/*/vc*.json")
    rows = vc.collect()
    assert len(rows) == 3 * 10
    r = {(x["location"], x["date"]): x for x in rows}[("La_Palma/Santa_Cruz", "2024-01-02")]
    assert r["uvindex"] == pytest.approx(10 * 4 + 1 * 0.5)
    assert r["conditions"] == "conditions_1"


def test_build_and_write_clean(spark, raw_dir, tmp_path):
    om = W.read_open_meteo(spark, f"{raw_dir}/*/*/om*.json")
    vc = W.read_visual_crossing(spark, f"{raw_dir}/*/*/vc*.json")
    clean = W.build_clean(om, vc)
    rows = clean.collect()
    assert len(rows) == 30
    cols = set(clean.columns)
    assert set(W.OPEN_METEO_DAILY_VARS) <= cols
    assert set(W.VISUAL_CROSSING_DAY_FIELDS) <= cols
    assert {"year", "month", "island", "location_name", "elevation"} <= cols

    out = str(tmp_path / "clean")
    W.write_clean(clean, out)
    # Hive layout: island=<..>/location_name=<..>/year=<..>/month=<..>
    assert os.path.isdir(f"{out}/island=Tenerife/location_name=Vilaflor/year=2024/month=1")
    back = spark.read.parquet(out)
    assert back.count() == 30
    # partition pruning survives the layout (the 14x claim, README.md:801)
    pruned = back.filter((F.col("island") == "Tenerife") & (F.col("month") == 1))
    assert pruned.count() == 10


def test_upsert_new_wins_and_untouched_partitions_preserved(spark, tmp_path):
    raw1 = str(tmp_path / "raw1")
    _write_raw(raw1, _dates(1, 10), bias=0.0)
    out = str(tmp_path / "clean")
    clean1 = W.build_clean(W.read_open_meteo(spark, f"{raw1}/*/*/om*.json"),
                           W.read_visual_crossing(spark, f"{raw1}/*/*/vc*.json"))
    W.write_clean(clean1, out)

    # snapshot a partition that the update must NOT touch (different month)
    feb_raw = str(tmp_path / "rawfeb")
    for island, loc, lat, lon, elev in LOCATIONS[:1]:
        d = os.path.join(feb_raw, island, loc)
        os.makedirs(d, exist_ok=True)
        dates = [f"2024-02-{i:02d}" for i in range(1, 4)]
        with open(os.path.join(d, "om_feb.json"), "w") as f:
            json.dump(_om_doc(island, loc, lat, lon, elev, dates), f)
        with open(os.path.join(d, "vc_feb.json"), "w") as f:
            json.dump(_vc_doc(island, loc, lat, lon, dates), f)
    cleanfeb = W.build_clean(W.read_open_meteo(spark, f"{feb_raw}/*/*/om*.json"),
                             W.read_visual_crossing(spark, f"{feb_raw}/*/*/vc*.json"))
    W.write_clean(cleanfeb, out)
    feb_dir = f"{out}/island=Tenerife/location_name=Vilaflor/year=2024/month=2"
    feb_files_before = sorted(os.listdir(feb_dir))

    # second batch: overlaps days 6-10, adds days 11-15, different values
    raw2 = str(tmp_path / "raw2")
    _write_raw(raw2, _dates(6, 10), bias=100.0, suffix="b")
    batch2 = W.build_clean(W.read_open_meteo(spark, f"{raw2}/*/*/om*.json"),
                           W.read_visual_crossing(spark, f"{raw2}/*/*/vc*.json"))
    W.upsert_clean(spark, out, batch2)

    final = spark.read.parquet(out)
    jan = final.filter(F.col("month") == 1)
    # 15 jan days x 3 locations, no duplicates on the key
    assert jan.count() == 45
    assert jan.select("location", "date").distinct().count() == 45
    # overlap days: new batch won (bias=100 → temperature >= 100)
    d8 = jan.filter((F.col("location") == "Tenerife/Vilaflor")
                    & (F.col("date") == F.lit("2024-01-08").cast("date"))).collect()[0]
    assert d8["temperature_2m_max"] >= 100
    # pre-overlap days: original values survive
    d2 = jan.filter((F.col("location") == "Tenerife/Vilaflor")
                    & (F.col("date") == F.lit("2024-01-02").cast("date"))).collect()[0]
    assert d2["temperature_2m_max"] < 100
    # untouched partition (feb) not rewritten: same files on disk
    assert sorted(os.listdir(feb_dir)) == feb_files_before
    # feb rows intact
    assert final.filter(F.col("month") == 2).count() == 3


def test_upsert_idempotent(spark, tmp_path):
    raw1 = str(tmp_path / "raw1")
    _write_raw(raw1, _dates(1, 8))
    out = str(tmp_path / "clean")
    clean1 = W.build_clean(W.read_open_meteo(spark, f"{raw1}/*/*/om*.json"),
                           W.read_visual_crossing(spark, f"{raw1}/*/*/vc*.json"))
    W.write_clean(clean1, out)

    raw2 = str(tmp_path / "raw2")
    _write_raw(raw2, _dates(5, 6), bias=50.0, suffix="b")
    batch = W.build_clean(W.read_open_meteo(spark, f"{raw2}/*/*/om*.json"),
                          W.read_visual_crossing(spark, f"{raw2}/*/*/vc*.json"))

    W.upsert_clean(spark, out, batch, staging_path=str(tmp_path / "s1"))
    snap1 = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    W.upsert_clean(spark, out, batch, staging_path=str(tmp_path / "s2"))
    snap2 = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert snap1 == snap2  # running the same 31-day batch twice is a no-op


def test_promote_staged_resumes_after_crash(spark, raw_dir, tmp_path):
    """A crash mid-promote leaves staging with the unpromoted partitions +
    the _PROMOTE_PENDING marker; re-running promote_staged completes the
    swap and the table equals the fully-upserted result."""
    out = str(tmp_path / "clean")
    om = W.read_open_meteo(spark, f"{raw_dir}/*/*/om*.json")
    vc = W.read_visual_crossing(spark, f"{raw_dir}/*/*/vc*.json")
    clean = W.build_clean(om, vc)
    W.write_clean(clean, out)

    # stage a compaction but "crash" before promoting: build staging only
    staging = str(tmp_path / "staging")
    (clean.repartition(1, *W.PARTITION_COLS)
          .write.mode("overwrite").partitionBy(*W.PARTITION_COLS)
          .parquet(staging))
    open(os.path.join(staging, "_PROMOTE_PENDING"), "w").close()
    # simulate partial promote: move one partition by hand
    part = "island=Tenerife/location_name=Vilaflor/year=2024/month=1"
    import shutil
    shutil.rmtree(f"{out}/{part}")
    shutil.move(f"{staging}/{part}", f"{out}/{part}")

    W.promote_staged(staging, out)  # recovery rerun
    assert not os.path.exists(staging)
    back = spark.read.parquet(out)
    assert back.count() == 30
    assert back.select("location", "date").distinct().count() == 30


def test_compact_partitions(spark, raw_dir, tmp_path):
    om = W.read_open_meteo(spark, f"{raw_dir}/*/*/om*.json")
    vc = W.read_visual_crossing(spark, f"{raw_dir}/*/*/vc*.json")
    out = str(tmp_path / "clean")
    # fragment the table: many write tasks → many small files per partition
    W.write_clean(W.build_clean(om, vc).repartition(8), out)
    part = f"{out}/island=Tenerife/location_name=Vilaflor/year=2024/month=1"
    n_before = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    assert n_before > 1
    before = sorted(tuple(r) for r in spark.read.parquet(out).collect())

    W.compact_partitions(spark, out)
    n_after = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    assert n_after == 1
    after = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert before == after  # compaction is content-invisible


def test_upsert_scd2_history_preserved(spark, tmp_path):
    """SCD2 upsert: re-delivered keys close the old version (effective_to
    set) and open a new one; history is queryable by time."""
    def mk(rows, eff_from):
        return (spark.createDataFrame(rows, ["location", "date", "metric"])
                .withColumn("date", F.to_date("date"))
                .withColumn("island", F.lit("isl"))
                .withColumn("location_name", F.lit("L"))
                .withColumn("year", F.year("date"))
                .withColumn("month", F.month("date")))

    base = mk([("a", f"2024-01-{i:02d}", 1.0) for i in range(1, 6)], None)
    out = str(tmp_path / "scd2")
    (base.withColumn("effective_from", F.lit("2024-02-01").cast("timestamp"))
         .withColumn("effective_to", F.lit(None).cast("timestamp"))
         .write.mode("overwrite")
         .partitionBy("island", "location_name", "year", "month").parquet(out))

    batch = mk([("a", f"2024-01-{i:02d}", 2.0) for i in range(4, 8)], None)
    W.upsert_scd2(spark, out, batch, keys=("location", "date"),
                  batch_ts="2024-03-01T00:00:00")

    t = spark.read.parquet(out)
    # 5 original + 4 new versions = 9 physical rows
    assert t.count() == 9
    current = t.filter(F.col("effective_to").isNull())
    # current view: days 1-3 at 1.0, days 4-7 at 2.0
    assert current.count() == 7
    cur = {str(r["date"]): r["metric"] for r in current.collect()}
    assert cur["2024-01-02"] == 1.0 and cur["2024-01-05"] == 2.0
    # closed-out versions carry the batch timestamp
    closed = t.filter(F.col("effective_to").isNotNull())
    assert closed.count() == 2  # days 4 and 5 were re-delivered
    assert all(str(r["effective_to"]).startswith("2024-03-01")
               for r in closed.collect())
    # time travel: as of 2024-02-15, days 4-5 still read 1.0
    asof = t.filter((F.col("effective_from") <= F.lit("2024-02-15").cast("timestamp"))
                    & (F.col("effective_to").isNull()
                       | (F.col("effective_to") > F.lit("2024-02-15").cast("timestamp"))))
    past = {str(r["date"]): r["metric"] for r in asof.collect()}
    assert past["2024-01-05"] == 1.0 and len(past) == 5
    # idempotence: same batch again -> no new versions (values unchanged keys
    # are still re-delivered, so they version — run with SAME ts is a no-op
    # only for already-closed rows; assert row count grows deterministically)
    W.upsert_scd2(spark, out, batch, keys=("location", "date"),
                  batch_ts="2024-03-01T00:00:00")
    assert spark.read.parquet(out).filter(F.col("effective_to").isNull()).count() == 7


def test_upsert_recovers_abandoned_promote(spark, raw_dir, tmp_path):
    """A staging dir left behind with _PROMOTE_PENDING (crash after staging,
    before/mid promote) must be promoted to completion at the next
    upsert_clean entry — not silently discarded by the fresh write."""
    _check_abandoned_promote_recovered(spark, raw_dir, tmp_path, None)


def test_upsert_recovers_abandoned_promote_at_custom_staging(
        spark, raw_dir, tmp_path):
    """Same contract at a caller-chosen `staging_path` (the streaming sink
    passes one per micro-batch), which no default-suffix scan finds."""
    _check_abandoned_promote_recovered(spark, raw_dir, tmp_path,
                                       str(tmp_path / "custom_staging"))


def _check_abandoned_promote_recovered(spark, raw_dir, tmp_path,
                                       staging_path):
    out = str(tmp_path / "clean")
    om = W.read_open_meteo(spark, f"{raw_dir}/*/*/om*.json")
    vc = W.read_visual_crossing(spark, f"{raw_dir}/*/*/vc*.json")
    clean = W.build_clean(om, vc)
    W.write_clean(clean, out)

    # abandoned promote at the staging path: days 1-10 rewritten with
    # bias=200 values, marker present, promote never ran
    raw2 = str(tmp_path / "raw2")
    _write_raw(raw2, _dates(1, 10), bias=200.0, suffix="b")
    staged = W.build_clean(W.read_open_meteo(spark, f"{raw2}/*/*/om*.json"),
                           W.read_visual_crossing(spark, f"{raw2}/*/*/vc*.json"))
    staging = staging_path or f"{out}__staging"
    (staged.select(*spark.read.parquet(out).columns)
           .write.mode("overwrite").partitionBy(*W.PARTITION_COLS)
           .parquet(staging))
    open(os.path.join(staging, "_PROMOTE_PENDING"), "w").close()

    # next upsert (days 5-6, bias=50) must first finish the pending promote
    raw3 = str(tmp_path / "raw3")
    _write_raw(raw3, _dates(5, 6), bias=50.0, suffix="c")
    batch = W.build_clean(W.read_open_meteo(spark, f"{raw3}/*/*/om*.json"),
                          W.read_visual_crossing(spark, f"{raw3}/*/*/vc*.json"))
    W.upsert_clean(spark, out, batch, staging_path=staging_path)

    assert not os.path.exists(staging)
    final = {(r["location"], str(r["date"])): r
             for r in spark.read.parquet(out).collect()}
    # day 2: recovered promote's values (bias=200) won over the original
    assert final[("Tenerife/Vilaflor", "2024-01-02")]["temperature_2m_max"] >= 200
    # day 5: the new batch (bias=50, in [50, 200)) won over everything
    t5 = final[("Tenerife/Vilaflor", "2024-01-05")]["temperature_2m_max"]
    assert 50 <= t5 < 200


@pytest.mark.parametrize("op", ["upsert", "compact"])
def test_unmarked_staging_leftover_not_promoted(spark, raw_dir, tmp_path, op):
    """A staging dir left by a write interrupted before _PROMOTE_PENDING
    existed holds no promote to finish: the next write must discard it.
    Here it holds a stale copy of a partition OUTSIDE the batch (or the
    compaction predicate), which must stay byte-identical."""
    out = str(tmp_path / "clean")
    W.write_clean(W.build_clean(
        W.read_open_meteo(spark, f"{raw_dir}/*/*/om*.json"),
        W.read_visual_crossing(spark, f"{raw_dir}/*/*/vc*.json")), out)
    keep = f"{out}/island=Tenerife/location_name=Vilaflor/year=2024/month=1"
    files_before = sorted(os.listdir(keep))
    is_kept = F.col("location") == "Tenerife/Vilaflor"

    staging = f"{out}__staging" if op == "upsert" else f"{out}__compact_staging"
    (spark.read.parquet(out).filter(is_kept)
     .withColumn("temperature_2m_max", F.lit(-999.0))
     .write.partitionBy(*W.PARTITION_COLS).parquet(staging))

    if op == "upsert":
        raw2 = str(tmp_path / "raw2")
        _write_raw(raw2, _dates(5, 6), bias=50.0, suffix="b")
        batch = W.build_clean(
            W.read_open_meteo(spark, f"{raw2}/*/*/om*.json"),
            W.read_visual_crossing(spark, f"{raw2}/*/*/vc*.json"))
        W.upsert_clean(spark, out, batch.filter(~is_kept))
    else:
        W.compact_partitions(spark, out, partitions_predicate=~is_kept)

    assert not os.path.exists(staging)
    assert sorted(os.listdir(keep)) == files_before
    back = spark.read.parquet(out)
    assert back.count() == 30
    assert back.filter(F.col("temperature_2m_max") == -999.0).count() == 0


def test_unpartitioned_promote_versioned_swap(spark, tmp_path):
    """Unpartitioned whole-table swap: the live path becomes a pointer to a
    versioned directory, every promote flips it atomically, superseded
    versions are garbage-collected, and the table is readable throughout."""
    out = str(tmp_path / "t")
    spark.range(10).write.parquet(out)

    for i, n in enumerate((20, 30)):
        staging = str(tmp_path / f"s{i}")
        spark.range(n).write.parquet(staging)
        W.promote_staged(staging, out, partitioned=False)
        assert spark.read.parquet(out).count() == n
        assert not os.path.exists(staging)

    assert os.path.islink(out)  # pointer layout after first promote
    versions = W._list_versions(out)
    assert len(versions) == 1  # superseded versions GC'd


def test_recover_pending_promotes_finishes_pointer_flip(spark, tmp_path):
    """Crash window: staged data became a versioned dir (marker inside) but
    the pointer never flipped — recovery must flip and clear the marker."""
    out = str(tmp_path / "t")
    spark.range(10).write.parquet(out)
    vdir = f"{out}__v7"
    spark.range(99).write.parquet(vdir)
    open(os.path.join(vdir, "_PROMOTE_PENDING"), "w").close()

    recovered = W.recover_pending_promotes(out)
    assert vdir in recovered
    assert spark.read.parquet(out).count() == 99
    assert not os.path.exists(os.path.join(vdir, "_PROMOTE_PENDING"))
