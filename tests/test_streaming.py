"""Structured Streaming tests: the streaming twins must produce the same
results as their batch plans once the backlog is fully processed
(Trigger.AvailableNow + append/complete to memory sink)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from canary_weather_etl_spark.plans.registry import load
from canary_weather_etl_spark.streaming import jobs as J


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Materialize the events fixture as a micro-batched directory (3 file
    drops) so the file-source stream has a real backlog to chew through.

    The drops are event-time thirds, each written by its own job in time
    order, so the file source (which orders files by modification time)
    replays them as a landing stream would. Drops that each spanned the
    whole month let the watermark set by one drop discard the next drop's
    rows as late, so a watermarked append-mode query only matched its
    batch twin when the file order happened to keep two data drops
    adjacent."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    ev = load(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min(F.unix_micros("ts")),
                    F.max(F.unix_micros("ts"))).first()
    third = (F.unix_micros("ts") - F.lit(lo)) * 3 / F.lit(hi - lo + 1)
    for k in range(3):
        ev.filter(F.floor(third) == k).coalesce(1) \
          .write.mode("append").parquet(out)
    return out


def _run_to_memory(stream_df, name: str, mode: str) -> None:
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    # J.drain: awaitTermination(timeout) returns False WITHOUT raising when
    # the backlog hasn't drained — the test would then read a partial memory
    # table and fail with an opaque set mismatch (observed once under a
    # fully loaded machine). Surface stream errors, assert the drain.
    J.drain(q, 300)


def test_stream_tumbling_equals_batch(spark, events_dir, sf_dir):
    ev_batch = load(spark, sf_dir, "events")
    schema = spark.read.parquet(events_dir).schema
    stream = J.read_events_stream(spark, events_dir, schema,
                                  max_files_per_trigger=1)
    _run_to_memory(J.stream_tumbling_agg(stream), "tumb", "complete")

    got = {tuple(r) for r in spark.sql("SELECT * FROM tumb").collect()}
    exp = {tuple(r) for r in (
        ev_batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(28,2)")).cast("double")
             .alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n",
                "sum_value")
    ).collect()}
    assert got == exp


def test_stream_dedupe_drops_resends(spark, tmp_path):
    # craft a drop dir where the same (user_id, ts) batch lands twice
    base = load(spark, "/root/testdata/sf0.001", "events").limit(200).cache()
    d = str(tmp_path / "dups")
    base.write.mode("overwrite").parquet(d)
    base.write.mode("append").parquet(d)  # resend of the whole batch
    assert spark.read.parquet(d).count() == 400

    schema = base.schema
    stream = J.read_events_stream(spark, d, schema)
    _run_to_memory(J.stream_dedupe(stream, ["event_id"]), "dedup", "append")
    assert spark.sql("SELECT count(*) c FROM dedup").collect()[0]["c"] == 200


def test_stream_upsert_sink_matches_batch_upsert(spark, tmp_path):
    """foreachBatch upsert: stream two overlapping weather-like batches;
    final table must equal new-wins-on-key semantics."""
    rows1 = [("loc_a", f"2024-01-{i:02d}", 1.0) for i in range(1, 11)]
    rows2 = [("loc_a", f"2024-01-{i:02d}", 2.0) for i in range(6, 16)]

    def mk(rows):
        return (spark.createDataFrame(rows, ["location", "date", "metric"])
                .withColumn("date", F.to_date("date"))
                .withColumn("island", F.lit("isl"))
                .withColumn("location_name", F.lit("loc_a"))
                .withColumn("year", F.year("date"))
                .withColumn("month", F.month("date")))

    drops = str(tmp_path / "drops")
    mk(rows1).coalesce(1).write.mode("overwrite").parquet(drops)

    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(drops).schema
    stream = spark.readStream.schema(schema).parquet(drops)
    J.drain(J.stream_upsert_sink(stream, table, ckpt,
                                 keys=("location", "date")))

    mk(rows2).coalesce(1).write.mode("append").parquet(drops)
    stream = spark.readStream.schema(schema).parquet(drops)
    J.drain(J.stream_upsert_sink(stream, table, ckpt,
                                 keys=("location", "date")))

    final = spark.read.parquet(table)
    assert final.count() == 15
    assert final.select("location", "date").distinct().count() == 15
    overlap = final.filter(F.col("date") == F.lit("2024-01-08").cast("date")).collect()
    assert overlap[0]["metric"] == 2.0  # new batch won
    early = final.filter(F.col("date") == F.lit("2024-01-02").cast("date")).collect()
    assert early[0]["metric"] == 1.0  # pre-overlap survived


def test_stream_weather_ingest_matches_batch(spark, tmp_path):
    """Streaming JSON ingestion must produce the same flattened rows as the
    batch reader over the same raw files."""
    import json as _json

    from canary_weather_etl_spark.sources import weather as W
    from canary_weather_etl_spark.streaming.jobs import stream_weather_ingest

    raw = str(tmp_path / "raw")
    dates = [f"2024-05-{i:02d}" for i in range(1, 8)]
    for island, loc in [("Tenerife", "Vilaflor"), ("El_Hierro", "Valverde")]:
        d = f"{raw}/{island}/{loc}"
        import os as _os
        _os.makedirs(d)
        daily = {"date": dates}
        for i, (name, typ) in enumerate(W.OPEN_METEO_DAILY_VARS.items()):
            if typ.__name__ == "StringType":
                daily[name] = [f"{x}T07:00" for x in dates]
            elif typ.__name__ == "LongType":
                daily[name] = list(range(len(dates)))
            else:
                daily[name] = [i + j * 0.5 for j in range(len(dates))]
        doc = {"location": f"{island}/{loc}", "latitude": 28.0,
               "longitude": -16.0, "elevation": 100.0,
               "timezone": "Atlantic/Canary", "daily": daily}
        with open(f"{d}/2024.json", "w") as f:
            _json.dump(doc, f)

    out = str(tmp_path / "clean")
    q = stream_weather_ingest(spark, f"{raw}/*/*/2*.json", out,
                              str(tmp_path / "ckpt"))
    J.drain(q)

    got = W.read_clean(spark, out)
    assert got.count() == 2 * 7
    batch = W.read_open_meteo(spark, f"{raw}/*/*/2*.json")
    assert batch.count() == got.count()
    g = got.filter((F.col("location") == "Tenerife/Vilaflor")
                   & (F.col("date") == F.lit("2024-05-03").cast("date"))).collect()[0]
    assert g["temperature_2m_max"] == 1 + 2 * 0.5
    assert g["island"] == "Tenerife" and g["month"] == 5


def test_stream_weather_redelivery_keeps_one_row_per_key(spark, tmp_path):
    """A second raw drop that re-delivers days of the first, with shifted
    values, replaces them: the streamed table keeps one row per
    (location, date), the newest delivery wins, and it reads back through
    the table's manifest."""
    from canary_weather_etl_spark.sources import weather as W
    from canary_weather_etl_spark.sources import weather_fixtures as WF

    raw, out, ckpt = (str(tmp_path / d) for d in ("raw", "clean", "ckpt"))
    WF.write_raw(raw, WF.dates(1, 10), suffix="a")
    J.drain(J.stream_weather_ingest(spark, f"{raw}/*/*/om_*.json", out, ckpt))
    WF.write_raw(raw, WF.dates(6, 10), bias=100.0, suffix="b")
    J.drain(J.stream_weather_ingest(spark, f"{raw}/*/*/om_*.json", out, ckpt))

    rows = W.read_clean(spark, out).select(
        "location", "date", "temperature_2m_max").collect()
    assert len(rows) == len(WF.LOCATIONS) * 15
    assert len({(r["location"], r["date"]) for r in rows}) == len(rows)
    for r in rows:
        assert (r["temperature_2m_max"] >= 100) == (r["date"].day >= 6)


def test_stream_sliding_equals_batch(spark, events_dir, sf_dir):
    ev_batch = load(spark, sf_dir, "events")
    schema = spark.read.parquet(events_dir).schema
    stream = J.read_events_stream(spark, events_dir, schema)
    _run_to_memory(J.stream_tumbling_agg(stream, slide="30 minutes"),
                   "slide", "complete")
    got = {tuple(r) for r in spark.sql("SELECT * FROM slide").collect()}
    exp = {tuple(r) for r in (
        ev_batch.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"),
                         "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             (F.sum(F.round(F.col("value") * 100).cast("long"))
              .cast("double") / 100).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n",
                "sum_value")
    ).collect()}
    assert got == exp


def test_stream_stream_join_equals_batch(spark, events_dir, sf_dir):
    """Watermarked stream-stream interval join (purchase ← preceding
    clicks within 30 min per user) must equal the batch join with the
    identical condition once the backlog drains."""
    schema = spark.read.parquet(events_dir).schema

    def split(df):
        return (df.filter(F.col("event_type") == "purchase"),
                df.filter(F.col("event_type") == "click"))

    sl, sr = split(J.read_events_stream(spark, events_dir, schema,
                                        max_files_per_trigger=1))
    _run_to_memory(J.stream_stream_join(sl, sr), "ssjoin", "append")
    got = {tuple(r) for r in spark.sql("SELECT * FROM ssjoin").collect()}

    bl, br = split(load(spark, sf_dir, "events"))
    exp = {tuple(r) for r in
           J.stream_stream_join(bl, br).collect()}  # batch frames: same fn
    assert len(exp) > 0, "fixture produced no attribution pairs"
    assert got == exp


def test_stream_corpus_dedupe_by_fingerprint(spark, tmp_path):
    """Streaming corpus curation: exact-dup documents arriving across
    micro-batches are dropped on the content fingerprint within the
    watermark horizon — stream_dedupe over a derived dedup key."""
    from canary_weather_etl_spark.operators.text import fingerprint_hash

    docs = load(spark, "/root/testdata/sf0.001", "documents").limit(50)
    with_ts = docs.select(
        "doc_id", "text",
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(mins=F.col("doc_id").cast("int"))).alias("ts"))
    dups = with_ts.withColumn("doc_id", F.col("doc_id") + 10000)
    d = str(tmp_path / "docs_stream")
    with_ts.write.mode("overwrite").parquet(d)
    dups.write.mode("append").parquet(d)  # same texts, new ids, resent

    schema = spark.read.parquet(d).schema
    stream = (spark.readStream.schema(schema).parquet(d)
              .withColumn("fp", fingerprint_hash("text")))
    q = (stream.withWatermark("ts", "1 hour").dropDuplicates(["fp"])
         .writeStream.format("memory").queryName("corpus_dedup")
         .outputMode("append").trigger(availableNow=True).start())
    J.drain(q)
    out = spark.sql("SELECT * FROM corpus_dedup")
    # one survivor per distinct fingerprint — NOTE: fewer than 50, because
    # the bag-of-words fingerprint also collapses same-words-different-order
    # docs (that's its purpose); expected count computed batch-side
    expected = (with_ts.withColumn("fp", fingerprint_hash("text"))
                .select("fp").distinct().count())
    assert expected < 50  # fixture does contain reordered-word docs
    assert out.count() == expected
    assert out.select("fp").distinct().count() == expected


def test_stream_checkpoint_restart_exactly_once(spark, tmp_path):
    """Checkpointed file-source stream survives a stop/restart without
    reprocessing: batch A lands, stream (with checkpointLocation) drains
    it to a parquet sink via foreachBatch upsert; after stop, batch B
    lands AND batch A is still present; the restarted query must process
    only B — counts equal batch-mode distinct over A∪B, not A+A∪B."""
    base = load(spark, "/root/testdata/sf0.001", "events").cache()
    a = base.filter(F.col("event_id") % 2 == 0)
    b = base.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    a.write.mode("overwrite").parquet(src)

    def drain():
        stream = J.read_events_stream(spark, src, base.schema)
        J.drain(stream.writeStream.format("parquet")
                .option("path", table)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True).start())

    drain()
    n_after_a = spark.read.parquet(table).count()
    assert n_after_a == a.count()

    b.write.mode("append").parquet(src)   # batch A files still in place
    drain()                               # restart from the same checkpoint
    out = spark.read.parquet(table)
    assert out.count() == base.count()    # A exactly once + B
    assert out.select("event_id").distinct().count() == base.count()


def test_stream_dedupe_within_watermark_tolerates_restamped_resends(
        spark, tmp_path):
    """Resends re-stamped with +5 s jitter: same event_id, different
    event time. Plain dropDuplicates over (event_id, ts) keeps both
    copies; dropDuplicatesWithinWatermark(event_id) emits exactly one."""
    base = load(spark, "/root/testdata/sf0.001", "events").limit(200).cache()
    d = str(tmp_path / "jitter_dups")
    base.write.mode("overwrite").parquet(d)
    (base.withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 SECONDS"))
     .write.mode("append").parquet(d))  # restamped resend of every record
    assert spark.read.parquet(d).count() == 400

    schema = base.schema
    stream = J.read_events_stream(spark, d, schema)
    _run_to_memory(
        J.stream_dedupe_within_watermark(stream, ["event_id"]),
        "dedup_wwm", "append")
    assert spark.sql(
        "SELECT count(*) c FROM dedup_wwm").collect()[0]["c"] == 200
    # the jittered twin is NOT deduped by the ts-inclusive variant —
    # pins that the two operators differ exactly on the restamped case
    stream2 = J.read_events_stream(spark, d, schema)
    _run_to_memory(
        J.stream_dedupe(stream2, ["event_id", "ts"]), "dedup_tsk", "append")
    assert spark.sql(
        "SELECT count(*) c FROM dedup_tsk").collect()[0]["c"] == 400


def test_stream_static_enrichment_equals_batch(spark, events_dir, sf_dir):
    """Stream-static broadcast enrichment (events x customer segment) must
    equal the batch twin after the backlog drains, keep the broadcast on
    the dim side (plan-asserted on the identical batch join), and retain
    profile-less events in a NULL segment instead of dropping them."""
    ev_batch = load(spark, sf_dir, "events")
    dim = load(spark, sf_dir, "customer")
    schema = spark.read.parquet(events_dir).schema
    stream = J.read_events_stream(spark, events_dir, schema,
                                  max_files_per_trigger=1)
    _run_to_memory(J.stream_enrich_static(stream, dim), "enrich", "complete")

    got = {tuple(r) for r in spark.sql("SELECT * FROM enrich").collect()}
    batch_plan = (
        ev_batch.join(
            F.broadcast(dim.select(F.col("c_custkey").alias("user_id"),
                                   "c_mktsegment")),
            "user_id", "left")
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(28,2)")).cast("double")
             .alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "c_mktsegment",
                "n", "sum_value")
    )
    exp = {tuple(r) for r in batch_plan.collect()}
    assert got == exp and got
    # the dim side broadcasts (stateless per micro-batch; the windowed agg
    # is the only stateful shuffle)
    assert "BroadcastHashJoin" in batch_plan._jdf.queryExecution().executedPlan().toString()


def test_stream_stream_left_outer_emits_unmatched(spark, sf_dir, tmp_path):
    """Watermarked stream-stream LEFT OUTER join: purchases with no prior
    click within the interval must emit with a null right side — but only
    after the watermark passes their eviction point, so the stream ends
    with a far-future flush event (on both sides: multipleWatermarkPolicy
    is min) that drags the watermark past every real row's horizon. The
    result must equal the batch left-outer with the identical condition."""
    from datetime import timedelta

    ev = (load(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("purchase", "click")))
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    flush_ts = max_ts + timedelta(days=30)
    d = str(tmp_path / "ev_outer")
    ev.coalesce(2).write.mode("overwrite").parquet(d)
    before = {f for f in os.listdir(d) if f.endswith(".parquet")}
    spark.createDataFrame(
        [(10**9, flush_ts, -1, "purchase", 0.0, "{}"),
         (10**9 + 1, flush_ts, -1, "click", 0.0, "{}")],
        ev.schema).write.mode("append").parquet(d)
    # file source orders by mtime: the flush files must sort LAST.
    # Explicit utime, not sleep — coarse-mtime filesystems otherwise race.
    max_m = max(os.path.getmtime(os.path.join(d, f)) for f in before)
    for f in os.listdir(d):
        if f.endswith(".parquet") and f not in before:
            os.utime(os.path.join(d, f), (max_m + 2, max_m + 2))

    schema = spark.read.parquet(d).schema

    def split(df):
        return (df.filter(F.col("event_type") == "purchase"),
                df.filter(F.col("event_type") == "click"))

    sl, sr = split(J.read_events_stream(spark, d, schema,
                                        max_files_per_trigger=1))
    _run_to_memory(J.stream_stream_join(sl, sr, how="leftOuter"),
                   "ssouter", "append")
    got = {tuple(r) for r in spark.sql(
        "SELECT * FROM ssouter WHERE user_id <> -1").collect()}

    bl, br = split(spark.read.parquet(d).filter(F.col("user_id") != -1))
    exp = {tuple(r) for r in
           J.stream_stream_join(bl, br, how="leftOuter").collect()}
    assert got == exp
    unmatched = {t for t in exp if t[3] is None}  # null right_event_id
    assert len(unmatched) > 0, "fixture has no unattributed purchases"
    inner = {t for t in exp if t[3] is not None}
    assert inner and inner < exp


def _drain_sequence_stream(spark, name, checkpoint, end, batch,
                           stop_at=None, timeout_s=60):
    """Start the sequence stream into a memory sink and poll until the
    table holds `stop_at` (default `end`) rows, then stop the query."""
    import time as _time

    from canary_weather_etl_spark.sources.sequence_source import (
        make_sequence_source,
    )
    spark.dataSource.register(make_sequence_source())
    df = (spark.readStream.format("sequence_stream")
          .option("end", str(end)).option("batch", str(batch)).load())
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode("append").option("checkpointLocation", checkpoint)
         .trigger(processingTime="50 milliseconds").start())
    target = stop_at if stop_at is not None else end
    deadline = _time.time() + timeout_s
    while _time.time() < deadline:
        if spark.sql(f"SELECT COUNT(*) AS n FROM {name}").collect()[0]["n"] \
                >= target:
            break
        _time.sleep(0.2)
    q.stop()
    J.drain(q, 30)


def test_sequence_stream_reader_drains_exactly_once(spark, tmp_path):
    """Streaming Python DataSource READER (SimpleDataSourceStreamReader):
    offset-cursored micro-batches drain the bounded sequence exactly
    once — every n in [0,60) present exactly once with sq = n²."""
    _drain_sequence_stream(spark, "seqdrain", str(tmp_path / "ckpt"),
                           end=60, batch=17)
    rows = spark.sql("SELECT n, sq FROM seqdrain").collect()
    got = sorted((int(r["n"]), int(r["sq"])) for r in rows)
    assert got == [(n, n * n) for n in range(60)]


def test_sequence_stream_reader_checkpoint_restart(spark, tmp_path):
    """Stop mid-stream, restart from the SAME checkpoint into the SAME
    file sink (the memory sink is not fault-tolerant, so recovery needs
    a real sink): the offset log + readBetweenOffsets replay must hand
    back the uncommitted span and continue — exactly-once across the
    restart (no dup, no gap)."""
    import time as _time

    from canary_weather_etl_spark.sources.sequence_source import (
        make_sequence_source,
    )
    spark.dataSource.register(make_sequence_source())
    ckpt = str(tmp_path / "ckpt2")
    out = str(tmp_path / "seq_out")

    def run(stop_at: int, timeout_s: int = 60) -> None:
        df = (spark.readStream.format("sequence_stream")
              .option("end", "80").option("batch", "11").load())
        q = (df.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(processingTime="50 milliseconds").start())
        deadline = _time.time() + timeout_s
        while _time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= stop_at:
                    break
            except Exception:
                pass  # sink dir not created yet
            _time.sleep(0.2)
        q.stop()
        J.drain(q, 30)

    run(stop_at=20)
    n1 = spark.read.parquet(out).count()
    assert 20 <= n1 < 80  # genuinely mid-stream
    run(stop_at=80)
    got = sorted((int(r["n"]), int(r["sq"]))
                 for r in spark.read.parquet(out).collect())
    assert got == [(n, n * n) for n in range(80)], \
        "restart must neither duplicate nor drop offset ranges"


def test_rocksdb_state_store_dedupe(spark, tmp_path):
    """RocksDB state store provider (built into Spark 4): the state
    backend for 100 TB-class stateful streaming — state spills to local
    disk instead of living on the JVM heap, so watermark-bounded state
    can exceed executor memory. Same dropDuplicates stream as the HDFS
    (default) provider, same result, and the checkpoint's state dir must
    show RocksDB's zip-snapshot layout (proof the provider was active,
    not silently defaulted)."""
    import os

    from pyspark.sql import functions as F

    base = load(spark, "/root/testdata/sf0.001", "events").limit(150).cache()
    d = str(tmp_path / "in")
    base.write.mode("overwrite").parquet(d)
    base.write.mode("append").parquet(d)  # resend → 300 rows, 150 distinct

    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
                         None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        schema = base.schema
        stream = spark.readStream.schema(schema).parquet(d)
        ckpt = str(tmp_path / "ckpt")
        q = (stream.withWatermark("ts", "1 hour")
             .dropDuplicates(["event_id"])
             .writeStream.format("memory").queryName("rocksdedup")
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        J.drain(q)
        n = spark.sql("SELECT COUNT(*) AS n FROM rocksdedup") \
            .collect()[0]["n"]
        assert n == 150
        # RocksDB layout: versioned .zip snapshots (HDFS provider writes
        # .delta/.snapshot files)
        zips = [f for root, _, files in os.walk(os.path.join(ckpt, "state"))
                for f in files if f.endswith(".zip")]
        assert zips, "state dir shows no RocksDB zip snapshots"
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old)
