"""Streaming jobs: the batch plans from plans/windows.py, run as Structured
Streaming queries. The aggregation expressions are identical — only the
source (``readStream``) and the sink/trigger differ, which is the point:
one logical plan, two execution modes.

Scale notes:
- Watermarks bound state: a 1-hour-window agg with a 2-hour watermark keeps
  ~3 windows of state per key, regardless of stream length.
- ``dropDuplicates`` after ``withWatermark`` is the streaming analogue of
  the reference's anti-join upsert dedupe (README.md:1517-1529): late
  re-sends of the same key are discarded while inside the watermark.
- ``Trigger.AvailableNow`` processes the backlog then stops — the exact
  semantics of the reference's EventBridge-scheduled monthly catch-up.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import exact_sum


def drain(q, timeout: int = 120) -> None:
    """Block until streaming query ``q`` terminates; fail LOUDLY otherwise.

    ``awaitTermination(timeout)`` returns False WITHOUT raising when the
    query is still running — a silent timeout lets the caller read a
    partial sink, or start a second query against the same checkpoint
    while the first still holds it (observed once as an opaque
    set-mismatch flake under full machine load). Every drain in this repo
    routes through here: surface ``q.exception()`` first, then assert the
    True return, and always stop the query before raising so the
    checkpoint is released for whatever runs next.

    ``awaitTermination`` itself RAISES StreamingQueryException when the
    query already failed (ADVICE r9) — the try/finally keeps the
    stop-before-raising contract on that path too: a failed query still
    gets stopped (releasing its checkpoint) and the original error
    propagates.
    """
    try:
        finished = q.awaitTermination(timeout)
        exc = q.exception()
        if exc is not None:
            raise exc
        if not finished:
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not finish in "
                f"{timeout}s")
    except BaseException:
        # the cleanup stop can itself raise on an already-failed/closed
        # query — never let it replace the root-cause error (ADVICE r10)
        with contextlib.suppress(Exception):
            q.stop()
        raise


def read_events_stream(spark: SparkSession, path: str,
                       schema, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over parquet/json event drops (the reference's
    `updates/` staging prefix, README.md:919)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_tumbling_agg(events: DataFrame,
                        window: str = "1 hour",
                        watermark: str = "2 hours",
                        slide: str | None = None) -> DataFrame:
    """Watermarked tumbling (or, with `slide`, sliding) window aggregate
    per event_type — the streaming twin of q_events_tumbling/_sliding
    (same expressions)."""
    win = (F.window("ts", window, slide) if slide
           else F.window("ts", window))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             exact_sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "event_type",
                "n", "sum_value")
    )


def stream_session_agg(events: DataFrame,
                       gap: str = "30 minutes",
                       watermark: str = "2 hours") -> DataFrame:
    """Watermarked session windows per user — streaming twin of
    q_events_session."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"),
             exact_sum("value").alias("sum_value"))
        .select("user_id", F.col("w.start").alias("session_start"),
                "n", "sum_value")
    )


def stream_stream_join(left: DataFrame, right: DataFrame,
                       key: str = "user_id",
                       watermark: str = "2 hours",
                       max_delay: str = "30 minutes",
                       how: str = "inner") -> DataFrame:
    """Watermarked stream-stream join: a left event joins right events of
    the same ``key`` whose timestamp falls within [l.ts − max_delay, l.ts]
    — the attribution shape (purchase ← clicks that preceded it within
    the window; the batch twin is q_attribution_last_touch).

    Both sides carry watermarks AND the join condition bounds event-time
    distance, so Spark can evict buffered rows once the watermark passes
    ts + max_delay: state is O(events inside the horizon) per key, not
    O(stream). Without the time bound a stream-stream join would buffer
    forever — the condition is load-bearing, not a filter.

    ``how='leftOuter'`` keeps unmatched left rows (purchases with NO
    prior click — the rows last-touch attribution marks unattributed):
    Spark emits them with a null right side only once the watermark
    passes their eviction point, i.e. outer results arrive LATE by up to
    (watermark + max_delay) — the test proves this with a flush event
    that drags the watermark past the horizon.
    """
    l = left.alias("l").withWatermark("ts", watermark)
    r = right.alias("r").withWatermark("ts", watermark)
    cond = F.expr(
        f"l.{key} = r.{key} AND r.ts >= l.ts - interval {max_delay} "
        f"AND r.ts <= l.ts")
    return l.join(r, cond, how).select(
        F.col(f"l.{key}").alias(key),
        F.col("l.event_id").alias("left_event_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.event_id").alias("right_event_id"),
        F.col("r.ts").alias("right_ts"),
    )


def stream_enrich_static(events: DataFrame, dim: DataFrame,
                         stream_key: str = "user_id",
                         dim_key: str = "c_custkey",
                         dim_cols: tuple[str, ...] = ("c_mktsegment",),
                         window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Stream-STATIC enrichment join + windowed rollup: each micro-batch
    joins arriving events against a static dimension (user profile /
    customer segment) and aggregates per (window, segment).

    The static side is explicitly broadcast: stream-static joins are
    STATELESS (the dimension is re-resolved per micro-batch, so a dim
    table refreshed between batches is picked up automatically), and
    broadcasting keeps every micro-batch shuffle-free on the join — the
    only stateful shuffle is the windowed aggregate. This is the 100 TB
    enrichment shape: dims broadcast, facts stream, state = open
    windows per segment only. Left join, not inner: events without a
    profile row land in a NULL segment rather than being silently
    dropped (the quality-gate discipline of SURVEY §4.3).
    """
    d = F.broadcast(
        dim.select(F.col(dim_key).alias(stream_key),
                   *[F.col(c) for c in dim_cols]))
    return (
        events.withWatermark("ts", watermark)
        .join(d, stream_key, "left")
        .groupBy(F.window("ts", window).alias("w"),
                 *[F.col(c) for c in dim_cols])
        .agg(F.count(F.lit(1)).alias("n"),
             exact_sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("win_start"),
                *[F.col(c) for c in dim_cols], "n", "sum_value")
    )


def stream_dedupe(events: DataFrame, keys: list[str],
                  watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedupe on ``keys`` within the watermark horizon —
    the streaming analogue of the upsert anti-join (new arrivals of an
    already-seen key are dropped)."""
    return events.withWatermark("ts", watermark).dropDuplicates(keys)


def stream_dedupe_within_watermark(events: DataFrame, keys: list[str],
                                   watermark: str = "2 hours") -> DataFrame:
    """Streaming dedupe for records whose EVENT TIME differs between
    retries (Spark 3.5+, SPARK-42931): at-least-once senders re-stamp on
    resend, so the same logical record arrives with a slightly different
    ``ts`` — `dropDuplicates([*keys, "ts"])` would keep both copies, and
    `dropDuplicates(keys)` without ts would keep state for every key
    forever (nothing bounds it). `dropDuplicatesWithinWatermark` dedups on
    ``keys`` alone while evicting a key's state once the watermark passes
    its first-seen time + delta — bounded state AND jitter-tolerant
    dedup, the right default for 100 TB ingest where exact resend
    timestamps are not controlled."""
    return (events.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys))


def stream_upsert_sink(stream: DataFrame, table_path: str,
                       checkpoint: str,
                       keys: tuple[str, ...] = ("location", "date")):
    """foreachBatch sink running the SAME writers as the batch path
    (sources.weather): each micro-batch is a '31-day window re-fetch'
    and lands with new-wins-on-key, partition-scoped-rewrite semantics.
    The first micro-batch creates the table (`write_clean`); a later one
    upserts into it (`upsert_clean`). Either way it commits a new
    version of the table's manifest, so `read_clean` reads the result,
    a crash mid-batch leaves the previous version, and the batch's replay
    replaces its own rows. Returns the StreamingQuery."""
    from ..sources.weather import table_exists, upsert_clean, write_clean

    def apply(batch: DataFrame, batch_id: int) -> None:
        if table_exists(table_path):
            upsert_clean(batch.sparkSession, table_path, batch, keys=keys)
        else:
            write_clean(batch, table_path)

    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_weather_ingest(spark: SparkSession, raw_glob: str,
                          table_path: str, checkpoint: str):
    """Streaming twin of the batch Open-Meteo ingestion: readStream over the
    raw struct-of-arrays JSON drops, the SAME flatten and length check
    (sources.weather.flatten_open_meteo), committed by `stream_upsert_sink`.

    New raw files landing under the glob are flattened and upserted per
    micro-batch — the reference's 'crawler notices new files monthly'
    loop as a continuous query. A drop that re-delivers days replaces
    them (new wins on (location, date)), so the table keeps one row per
    key. Returns the StreamingQuery."""
    from ..sources.weather import (
        OPEN_METEO_SCHEMA,
        flatten_open_meteo,
        lineage_from_path,
    )

    raw = (spark.readStream.schema(OPEN_METEO_SCHEMA)
           .option("multiLine", "true").json(raw_glob))
    flat = (
        flatten_open_meteo(lineage_from_path(raw))
        .withColumn("date", F.to_date("date", "yyyy-MM-dd"))
        .withColumn("year", F.year("date"))
        .withColumn("month", F.month("date"))
    )
    return stream_upsert_sink(flat, table_path, checkpoint)
