"""Golden-fixture tests for the weather ingestion pipeline (SURVEY.md §5):
the two raw JSON shapes (README.md:545-589) → flatten → join → partitioned
write → incremental upsert. Fixtures are synthesized deterministically in
the layout the reference uses: raw/<island>/<location>/{om_*.json, vc_*.json} (shared
generators: canary_weather_etl_spark/sources/weather_fixtures.py, which
also materializes the committed driver-visible fixtures).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import urllib.parse
import uuid

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from canary_weather_etl_spark.plans import weather_sql as Q
from canary_weather_etl_spark.sources import manifest_sink as M
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

    W.upsert_clean(spark, out, batch)
    snap1 = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    W.upsert_clean(spark, out, batch)
    snap2 = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert snap1 == snap2  # running the same 31-day batch twice is a no-op
    W.upsert_clean(spark, out, batch.limit(0))  # so is an empty batch
    assert sorted(tuple(r) for r in W.read_clean(spark, out).collect()) == snap1


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
    batch = mk([("a", f"2024-01-{i:02d}", 2.0) for i in range(4, 8)], None)
    with pytest.raises(FileNotFoundError, match="not a clean table"):
        W.upsert_scd2(spark, out, batch, batch_ts="2024-03-01T00:00:00")
    W.write_clean(
        base.withColumn("effective_from", F.lit("2024-02-01").cast("timestamp"))
            .withColumn("effective_to", F.lit(None).cast("timestamp")), out)

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


# --- the manifest commit: crashes, a concurrent reader, a second writer ----

def _clean(spark, root, start_day, n_days, bias=0.0, suffix="a"):
    _write_raw(root, _dates(start_day, n_days), bias=bias, suffix=suffix)
    return W.build_clean(W.read_open_meteo(spark, f"{root}/*/*/om*.json"),
                         W.read_visual_crossing(spark, f"{root}/*/*/vc*.json"))


def _live_files(out):
    """The manifest and the files it lists."""
    with open(os.path.join(out, "_MANIFEST.json")) as f:
        return {"_MANIFEST.json", *(e["file"] for e in json.load(f)["files"])}


def _files_on_disk(out):
    return {os.path.relpath(os.path.join(d, f), out)
            for d, _, fs in os.walk(out) for f in fs}


def _which_snapshot(spark, out):
    """'old' (days 1-10 at bias 0) or 'new' (days 6-15 upserted at bias
    100 over them), after checking the table invariants: stations x days
    rows, unique (location, date), the newest delivery wins."""
    rows = W.read_clean(spark, out).select(
        "location", "date", "temperature_2m_max").collect()
    days = {r["date"].day for r in rows}
    assert days in (set(range(1, 11)), set(range(1, 16)))
    assert len(rows) == len(LOCATIONS) * len(days)
    assert len({(r["location"], r["date"]) for r in rows}) == len(rows)
    new = len(days) == 15
    for r in rows:
        assert (r["temperature_2m_max"] >= 100) == (new and r["date"].day >= 6)
    return "new" if new else "old"


class _Crash(Exception):
    pass


# (function of sources/manifest_sink.py, whether the crash comes before or
# after its first call, the snapshot a reader then sees)
_COMMIT_STEPS = {
    "after_executor_write": ("_publish_state", "before", "old"),
    "after_publish": ("_remove_files", "before", "new"),
    "after_delete": ("_remove_files", "after", "new"),
}


@pytest.mark.parametrize("step", list(_COMMIT_STEPS))
def test_upsert_crash_leaves_old_or_new_table(spark, tmp_path, monkeypatch,
                                              step):
    """A write that dies at any step of the commit leaves the old table or
    the new one; the next upsert succeeds and vacuum leaves a directory
    that holds exactly the snapshot."""
    out = str(tmp_path / "clean")
    W.write_clean(_clean(spark, str(tmp_path / "raw1"), 1, 10), out)
    batch = _clean(spark, str(tmp_path / "raw2"), 6, 10, bias=100.0,
                   suffix="b")
    attr, when, expect = _COMMIT_STEPS[step]
    real = getattr(M, attr)

    def crashing(*args):
        if when == "after":
            real(*args)
        raise _Crash(step)

    monkeypatch.setattr(M, attr, crashing)
    with pytest.raises(_Crash):
        W.upsert_clean(spark, out, batch)
    monkeypatch.undo()
    assert _which_snapshot(spark, out) == expect

    W.upsert_clean(spark, out, batch)
    assert _which_snapshot(spark, out) == "new"
    M.vacuum_manifest_dir(out)
    assert _files_on_disk(out) == _live_files(out)
    assert spark.read.parquet(out).count() == len(LOCATIONS) * 15


def test_reader_sees_whole_table_during_upsert(spark, tmp_path, monkeypatch):
    """A reader that registers the view and counts while the upsert is
    paused at its publish, its files written in place, sees every row."""
    out = str(tmp_path / "clean")
    W.write_clean(_clean(spark, str(tmp_path / "raw1"), 1, 10), out)
    batch = _clean(spark, str(tmp_path / "raw2"), 6, 5, bias=100.0,
                   suffix="b")
    real, seen = M._publish_state, []

    def paused_publish(path, state):
        assert _files_on_disk(out) - _live_files(out)
        Q.register_clean_view(spark, out)
        seen.append(spark.table(Q.VIEW).count())
        real(path, state)

    monkeypatch.setattr(M, "_publish_state", paused_publish)
    W.upsert_clean(spark, out, batch)
    monkeypatch.undo()
    assert seen and set(seen) == {30}
    assert W.read_clean(spark, out).count() == 30


def test_second_writer_fails_loudly(spark, tmp_path, monkeypatch):
    """Two upserts that read the same table version: the one that commits
    second raises ConcurrentWriteError and none of its files go live."""
    out = str(tmp_path / "clean")
    W.write_clean(_clean(spark, str(tmp_path / "raw1"), 1, 10), out)
    late = _clean(spark, str(tmp_path / "raw2"), 6, 5, bias=100.0, suffix="b")
    early = _clean(spark, str(tmp_path / "raw3"), 1, 3, bias=200.0,
                   suffix="c")
    real, late_files = M._manifest_lock, set()

    def late_lock(path):
        # the late writer has read and written its files: pause
        late_files.update(_files_on_disk(out) - _live_files(out))
        monkeypatch.setattr(M, "_manifest_lock", real)
        W.upsert_clean(spark, out, early)
        return real(path)

    monkeypatch.setattr(M, "_manifest_lock", late_lock)
    with pytest.raises(M.ConcurrentWriteError, match="version"):
        W.upsert_clean(spark, out, late)
    monkeypatch.undo()

    assert late_files and not set(late_files) & _live_files(out)
    assert _files_on_disk(out) == _live_files(out)
    rows = W.read_clean(spark, out).collect()
    assert len(rows) == 30
    for r in rows:
        assert (r["temperature_2m_max"] >= 200) == (r["date"].day <= 3)


def _scd2_frame(spark, rows, effective_from):
    """SCD2-shaped rows (location, ISO date, metric) of one location."""
    return (spark.createDataFrame(rows, ["location", "date", "metric"])
            .withColumn("date", F.to_date("date"))
            .withColumn("island", F.lit("isl"))
            .withColumn("location_name", F.lit("L"))
            .withColumn("year", F.year("date"))
            .withColumn("month", F.month("date"))
            .withColumn("effective_from",
                        F.lit(effective_from).cast("timestamp"))
            .withColumn("effective_to", F.lit(None).cast("timestamp")))


def test_every_writer_leaves_only_the_snapshot(spark, tmp_path):
    """After each of the four table writers the directory holds the
    manifest and the files it lists: no checksum sidecar, staging
    directory or job marker."""
    out = str(tmp_path / "t")
    jan_feb = [("a", f"2024-{m:02d}-{d:02d}", 1.0)
               for m in (1, 2) for d in range(1, 6)]
    batch = _scd2_frame(spark, [("a", "2024-01-03", 2.0)], "2024-03-01")
    W.write_clean(_scd2_frame(spark, jan_feb, "2024-02-01"), out)
    assert _files_on_disk(out) == _live_files(out)
    W.upsert_scd2(spark, out, batch.drop("effective_from", "effective_to"),
                  batch_ts="2024-03-01T00:00:00")
    assert _files_on_disk(out) == _live_files(out)
    W.upsert_clean(spark, out, batch)
    assert _files_on_disk(out) == _live_files(out)
    W.compact_partitions(spark, out)
    assert _files_on_disk(out) == _live_files(out)
    assert W.read_clean(spark, out).count() == 10
    with open(os.path.join(out, "_MANIFEST.json")) as f:
        state = json.load(f)
    assert sum(e["rows"] for e in state["files"]) == 10
    del state["schema"]  # a manifest without a schema is not read
    M._publish_state(out, state)
    with pytest.raises(ValueError, match="records no schema"):
        W.read_clean(spark, out)


def test_partition_paths_and_rows_match_spark_partitionby(spark, tmp_path):
    """Partition directory names, escaped characters and the null
    partition included, and the rows read back equal what Spark's own
    partitioned Parquet writer produces."""
    names = ["a b", "c=d", "e%f", "g:h"]
    df = spark.createDataFrame(
        [("isl", n, None if i == 1 else 2024, 1, float(i))
         for i, n in enumerate(names)],
        "island string, location_name string, year int, month int, v double")
    spark_out, out = str(tmp_path / "spark"), str(tmp_path / "table")
    df.write.partitionBy(*W.PARTITION_COLS).parquet(spark_out)
    W.write_clean(df, out)

    def partitions(root):
        return sorted(os.path.relpath(d, root) for d, _, fs in os.walk(root)
                      if any(f.endswith(".parquet") for f in fs))

    assert partitions(out) == partitions(spark_out)
    assert "island=isl/location_name=c%3Dd/year=__HIVE_DEFAULT_PARTITION__" \
        "/month=1" in partitions(out)
    want = spark.read.parquet(spark_out)
    got = W.read_clean(spark, out)
    assert got.schema == want.schema
    assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)


_ESCAPED_NAMES = ["a b", "c=d", "e%f", "g:h"]


def _escaped_rows(spark, days, v):
    """One row per day in January 2024 for each of four stations whose
    partition directory names need escaping; the second station's year is
    null, so its rows go to the default partition."""
    return spark.createDataFrame(
        [(f"isl/{n}", dt.date(2024, 1, d), "isl", n,
          None if i == 1 else 2024, 1, v)
         for d in days for i, n in enumerate(_ESCAPED_NAMES)],
        "location string, date date, island string, location_name string, "
        "year int, month int, v double")


def test_upsert_keeps_survivors_of_escaped_and_null_partitions(spark,
                                                               tmp_path):
    """An upsert into partitions whose names are escaped, and into the
    null-year partition, keeps every old row whose key the batch does not
    redeliver: the driver finds each partition's files under the name the
    writer gave them, and a partition it missed would lose its survivors
    when the rewrite replaces it."""
    out = str(tmp_path / "t")
    W.write_clean(_escaped_rows(spark, [1, 2], 0.0), out)
    W.upsert_clean(spark, out, _escaped_rows(spark, [2, 3], 1.0))
    got = sorted((r["location_name"], r["date"].day, r["v"])
                 for r in W.read_clean(spark, out).collect())
    assert got == sorted((n, d, 0.0 if d == 1 else 1.0)
                         for n in _ESCAPED_NAMES for d in (1, 2, 3))


def test_partition_writer_ships_by_value(tmp_path):
    """The executor writer unpickles and runs in a Python that cannot
    import this package, and names its partition directories with the
    same `_partition_dir` the driver looks the manifest up with."""
    from pyspark import cloudpickle

    table = str(tmp_path / "t")
    writer = W._partition_writer(table, "w", ["v"])
    key = ("isl", "c=d", None, 1)
    batch = {"island": [key[0]], "location_name": [key[1]],
             "year": [key[2]], "month": [key[3]], "v": [1.0]}
    script = (
        "import pickle, sys\n"
        "import pyarrow as pa\n"
        "try:\n"
        "    import canary_weather_etl_spark\n"
        "    sys.exit('the package is importable here')\n"
        "except ImportError:\n"
        "    pass\n"
        "writer, batch = pickle.loads(sys.stdin.buffer.read())\n"
        "batch = pa.RecordBatch.from_pydict(batch)\n"
        "for out in writer(iter([batch])):\n"
        "    print(out.column(0)[0].as_py())\n")
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, capture_output=True,
        input=cloudpickle.dumps((writer, batch)),
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert done.returncode == 0, done.stderr.decode()
    part = done.stdout.decode().strip()
    assert part == W._partition_dir(key)
    assert os.listdir(os.path.join(table, part))


def _commit_inputs(monkeypatch, out):
    """The table files, relative to ``out``, read by each frame handed to
    `_commit`."""
    reads, real = [], W._commit

    def spy(df, *args, **kwargs):
        root = os.path.realpath(out)
        paths = (os.path.realpath(urllib.parse.urlparse(f).path)
                 for f in df.inputFiles())
        reads.append({os.path.relpath(p, root) for p in paths
                      if p.startswith(root + os.sep)})
        real(df, *args, **kwargs)

    monkeypatch.setattr(W, "_commit", spy)
    return reads


def _day_rows(spark, days, metric, scd2=False):
    """Rows of one location on ``days`` ((month, day) pairs of 2024), in
    the SCD2 shape or without its two validity columns."""
    df = _scd2_frame(spark, [("a", f"2024-{m:02d}-{d:02d}", metric)
                             for m, d in days], "2024-01-01")
    return df if scd2 else df.drop("effective_from", "effective_to")


def test_upsert_reads_only_the_partitions_it_touches(spark, tmp_path,
                                                     monkeypatch):
    """The rewrite reads the manifest files of the partitions the batch
    touches and no other table file; a batch of only new partitions reads
    none."""
    out = str(tmp_path / "clean")
    for month in (1, 2, 3):
        W.write_clean(_day_rows(spark, [(month, d) for d in (1, 2)], 1.0),
                      out)
    with open(os.path.join(out, "_MANIFEST.json")) as f:
        state = json.load(f)
    jan = {e["file"] for p, es in state["batches"].items()
           if p.endswith("/month=1") for e in es}
    assert jan and len(jan) < len(state["files"])

    reads = _commit_inputs(monkeypatch, out)
    W.upsert_clean(spark, out, _day_rows(spark, [(1, 2), (1, 3)], 2.0))
    W.upsert_clean(spark, out, _day_rows(spark, [(4, 1)], 2.0))
    assert reads == [jan, set()]
    got = {(r["date"].month, r["date"].day): r["metric"]
           for r in W.read_clean(spark, out).collect()}
    assert got == {(1, 1): 1.0, (1, 2): 2.0, (1, 3): 2.0, (2, 1): 1.0,
                   (2, 2): 1.0, (3, 1): 1.0, (3, 2): 1.0, (4, 1): 2.0}


@pytest.mark.parametrize("scd2", [False, True], ids=["clean", "scd2"])
def test_upsert_computes_the_batch_once(spark, tmp_path, scd2):
    """The batch is computed once per upsert, although the rewrite needs
    its partitions, its keys and its rows: a Python filter in the batch
    sees each row once."""
    out = str(tmp_path / "t")
    W.write_clean(_day_rows(spark, [(1, d) for d in range(1, 6)], 1.0,
                            scd2), out)
    seen = spark.sparkContext.accumulator(0)

    def counted(_):
        seen.add(1)
        return True

    batch = (_day_rows(spark, [(1, d) for d in range(4, 8)], 2.0)
             .filter(F.udf(counted, "boolean")("location")))
    (W.upsert_scd2 if scd2 else W.upsert_clean)(spark, out, batch)
    assert seen.value == 4
    current = W.read_clean(spark, out)
    if scd2:
        current = current.filter(F.col("effective_to").isNull())
    assert {r["date"].day: r["metric"] for r in current.collect()} == \
        {1: 1.0, 2: 1.0, 3: 1.0, 4: 2.0, 5: 2.0, 6: 2.0, 7: 2.0}


def test_schema_round_trips(spark, tmp_path):
    """The date, long, double, string and SCD2 timestamp columns read back
    with their types and values."""
    df = (_scd2_frame(spark, [("a", "2024-01-01", 1.5), ("b", "2024-01-02",
                                                        None)], "2024-02-01")
          .withColumn("code", F.col("year").cast("long") * 100))
    out = str(tmp_path / "t")
    W.write_clean(df, out)
    back = W.read_clean(spark, out)
    assert {f.name: f.dataType for f in back.schema} == \
        {f.name: f.dataType for f in df.schema}
    assert sorted(back.select(*df.columns).collect()) == sorted(df.collect())


def test_manifest_publish_is_durable(tmp_path, monkeypatch):
    """The manifest's temp file is synced before the rename that publishes
    it, and the directory after."""
    calls = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        calls.append("fsync")
        real_fsync(fd)

    def replace(src, dst):
        calls.append("replace")
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    M._publish_state(str(tmp_path), {"batches": {"0": [
        {"file": "part-0.jsonl", "rows": 1, "bytes": 2}]}})
    assert calls == ["fsync", "replace", "fsync"]


def test_register_clean_view_runs_no_job(spark, tmp_path):
    """The view over a manifest of more than 32 files (Spark's default
    parallel-listing threshold) runs no job: the manifest records the
    schema, so no file footer is read."""
    out = str(tmp_path / "clean")
    loc = F.concat(F.lit("L"), F.col("id").cast("string"))
    W.write_clean(spark.range(40).select(
        F.concat(F.lit("isl/"), loc).alias("location"),
        F.lit("isl").alias("island"), loc.alias("location_name"),
        F.to_date(F.lit("2024-01-01")).alias("date"),
        F.lit(2024).alias("year"), F.lit(1).alias("month")), out)
    with open(os.path.join(out, "_MANIFEST.json")) as f:
        assert len(json.load(f)["files"]) > 32
    sc = spark.sparkContext
    group = f"register-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "register_clean_view")
    try:
        Q.register_clean_view(spark, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert spark.table(Q.VIEW).count() == 40
