"""Weather ingestion: the reference pipeline, fully distributed.

The reference (Glue job B3, README.md:595-760) reads two raw JSON shapes,
flattens them, joins per location in a *driver-side sequential loop*, and
writes 4-level Hive-partitioned parquet. Its struct-of-arrays flatten
collect()s every array to the driver and zips in Python (README.md:694-725)
— O(data) through one process. This module re-expresses the whole job as a
single declarative plan:

- struct-of-arrays (Open-Meteo shape) → one ``inline`` over
  ``arrays_zip`` whose CASE raises on unequal lengths (one narrow stage,
  never leaves the executors)
- array-of-structs (Visual Crossing shape) → ``inline`` of the day structs
- per-location loop → one global read; lineage recovered from file paths
  with ``input_file_name`` + ``regexp_extract`` (README.md:622-623)
- each read, flatten and join is one SQL-text ``selectExpr`` (the
  functions/litexpr.py discipline): building a delivery's plan ships a
  few strings over py4j, not a ``Column`` call per column
- per-partition upsert loop (B6, README.md:1488-1545) → the batch computed
  once, the old rows read only from the manifest files of the partitions
  it touches, left_anti + unionByName, one write committed as a new
  version of the table's file manifest (`_commit`, through the commit
  routine of sources/manifest_sink.py)
- Spark's Hadoop Parquet writer → one ``mapInArrow`` pass in which each
  task writes its partitions' files with pyarrow straight into place: no
  staging directory, no renames, no checksum sidecars. The manifest alone
  makes them visible, so the executors and the driver must share the
  table's file system (the deployment note of sources/manifest_sink.py)

Schemas are explicit ``StructType``s (no inference — at 100 TB schema
inference is an extra full scan per read, SURVEY.md §1.3). The clean
table's schema lives in its manifest, so reading it opens no file footer.
"""

from __future__ import annotations

import os
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.litexpr import string_literal_sql
from ..session import materialize
from .manifest_sink import _MANIFEST, _commit_manifest, _load_state
from .schema_guard import check_batch_compatible

# The 20 daily variables (README.md:174-181) + the parallel date array.
OPEN_METEO_DAILY_VARS: dict[str, type] = {
    "weather_code": LongType,
    "temperature_2m_max": DoubleType,
    "temperature_2m_min": DoubleType,
    "temperature_2m_mean": DoubleType,
    "apparent_temperature_max": DoubleType,
    "apparent_temperature_min": DoubleType,
    "apparent_temperature_mean": DoubleType,
    "sunrise": StringType,
    "sunset": StringType,
    "daylight_duration": DoubleType,
    "sunshine_duration": DoubleType,
    "precipitation_sum": DoubleType,
    "rain_sum": DoubleType,
    "snowfall_sum": DoubleType,
    "precipitation_hours": DoubleType,
    "wind_speed_10m_max": DoubleType,
    "wind_gusts_10m_max": DoubleType,
    "wind_direction_10m_dominant": DoubleType,
    "shortwave_radiation_sum": DoubleType,
    "et0_fao_evapotranspiration": DoubleType,
}

# Struct-of-arrays document (README.md:545-551): parallel arrays under
# `daily`, indexed by day.
OPEN_METEO_SCHEMA = StructType([
    StructField("location", StringType()),
    StructField("latitude", DoubleType()),
    StructField("longitude", DoubleType()),
    StructField("elevation", DoubleType()),
    StructField("timezone", StringType()),
    StructField("daily", StructType(
        [StructField("date", ArrayType(StringType()))]
        + [StructField(name, ArrayType(typ())) for name, typ in
           OPEN_METEO_DAILY_VARS.items()]
    )),
])

# Array-of-structs document (README.md:553-589): one struct per day.
VISUAL_CROSSING_DAY_FIELDS: dict[str, type] = {
    "cloudcover": DoubleType,
    "visibility": DoubleType,
    "solarradiation": DoubleType,
    "solarenergy": DoubleType,
    "uvindex": DoubleType,
    "moonphase": DoubleType,
    "conditions": StringType,
    "description": StringType,
    "icon": StringType,
}

VISUAL_CROSSING_SCHEMA = StructType([
    StructField("queryCost", DoubleType()),
    StructField("latitude", DoubleType()),
    StructField("longitude", DoubleType()),
    StructField("resolvedAddress", StringType()),
    StructField("address", StringType()),
    StructField("timezone", StringType()),
    StructField("tzoffset", DoubleType()),
    StructField("days", ArrayType(StructType(
        [StructField("datetime", StringType())]
        + [StructField(name, typ()) for name, typ in
           VISUAL_CROSSING_DAY_FIELDS.items()]
    ))),
])

# Raw-layer key scheme: .../<island>/<location>/<file>.json (README.md:232).
_PATH_PATTERN = r".*/([^/]+)/([^/]+)/[^/]+\.json$"
_PATH_SQL = string_literal_sql(_PATH_PATTERN)


def lineage_from_path(df: DataFrame) -> DataFrame:
    """Attach island / location_name columns parsed from the source file
    path (README.md:622-623's input_file_name + regexp_extract), with the
    reference's null/empty guard (README.md:1306-1311).

    Prefers the `_metadata.file_path` hidden column (Spark ≥3.4): it's
    resolved per-file at scan planning rather than evaluated per-row at
    runtime, and it survives into sources where `input_file_name()` is
    undefined. Falls back to `input_file_name()` when the source doesn't
    expose file metadata."""
    def with_lineage(src: str) -> DataFrame:
        return df.selectExpr(
            "*", f"regexp_extract({src}, {_PATH_SQL}, 1) AS island",
            f"regexp_extract({src}, {_PATH_SQL}, 2) AS location_name")

    try:
        src = with_lineage("_metadata.file_path")
    except AnalysisException:
        src = with_lineage("input_file_name()")
    return src.where("length(island) > 0 AND length(location_name) > 0")


def read_open_meteo(spark: SparkSession, path: str) -> DataFrame:
    """Read + flatten the struct-of-arrays shape, one row per (location, date).

    Replaces README.md:694-728 (per-field collect() + Python zip loop +
    crossJoin metadata re-attach): ``arrays_zip`` pairs the parallel arrays
    positionally *within each row*, which is exactly the per-file alignment
    invariant the reference asserts manually; metadata columns simply ride
    along — no crossJoin, no driver round-trip.
    """
    raw = (spark.read.schema(OPEN_METEO_SCHEMA)
           .option("multiLine", "true").json(path))
    return flatten_open_meteo(lineage_from_path(raw))


_UNEQUAL_SQL = string_literal_sql(
    "parallel daily arrays have unequal lengths for location='%s'")
# One generator over the zipped parallel arrays: a row per day, its
# fields named after the arrays. The reference treats unequal lengths as
# fatal (README.md:699-704); a NULL size comparison passes, as a filter
# would let it.
_OPEN_METEO_DAYS_SQL = (
    "inline(CASE WHEN NOT ("
    + " AND ".join(f"size(daily.{f}) = size(daily.date)"
                   for f in OPEN_METEO_DAILY_VARS)
    + f") THEN raise_error(format_string({_UNEQUAL_SQL}, location))"
    + " ELSE arrays_zip(daily.date, "
    + ", ".join(f"daily.{f}" for f in OPEN_METEO_DAILY_VARS) + ") END)")


def flatten_open_meteo(raw: DataFrame) -> DataFrame:
    """The flatten behind `read_open_meteo`, for batch and streaming reads:
    one projection whose generator zips the parallel arrays and checks
    their lengths, so a row whose arrays differ raises at the first
    action and the raw JSON is parsed once."""
    return raw.selectExpr("location", "latitude", "longitude", "elevation",
                          "timezone", "island", "location_name",
                          _OPEN_METEO_DAYS_SQL)


def read_visual_crossing(spark: SparkSession, path: str) -> DataFrame:
    """Read + flatten the array-of-structs shape (README.md:640-666):
    project scalars, explode ``days``, flatten the 10 per-day struct fields.
    """
    raw = (spark.read.schema(VISUAL_CROSSING_SCHEMA)
           .option("multiLine", "true").json(path))
    return lineage_from_path(raw).selectExpr(
        "address AS location", "latitude", "longitude", "island",
        "location_name",
        f"inline(days) AS (date, {', '.join(VISUAL_CROSSING_DAY_FIELDS)})")


def build_clean(om: DataFrame, vc: DataFrame) -> DataFrame:
    """Merge the two flattened frames into the wide clean-layer fact table,
    one row per (location, date) — README.md:737-745.

    Join keys: (location, date) plus the lineage columns. The reference also
    keys on raw float latitude/longitude (README.md:737); we deliberately
    don't — float equality as a join key is fragile (the two APIs echo the
    coordinates at different precisions at the first divergence), and the
    pair (location, date) is already the declared grain.
    """
    keys = ["location", "date", "island", "location_name"]
    vc_metrics = vc.selectExpr(*keys, *VISUAL_CROSSING_DAY_FIELDS)
    day = "to_date(date, 'yyyy-MM-dd')"
    return om.join(vc_metrics, on=keys, how="inner").selectExpr(
        "location", f"{day} AS date", "island", "location_name",
        *[c for c in om.columns if c not in keys],
        *VISUAL_CROSSING_DAY_FIELDS, f"year({day}) AS year",
        f"month({day}) AS month")


PARTITION_COLS = ("island", "location_name", "year", "month")


def table_exists(table_path: str) -> bool:
    """Whether ``table_path`` holds a committed clean table (a manifest)."""
    return os.path.exists(os.path.join(table_path, _MANIFEST))


def read_clean(spark: SparkSession, table_path: str) -> DataFrame:
    """The table's current snapshot: exactly the files its manifest lists,
    partition columns parsed from their paths under ``basePath``. Nothing
    is listed, so the unlisted files of a crashed write are never read."""
    state = _table_state(table_path)
    return _read_files(spark, table_path, state,
                       [e["file"] for e in state["files"]])


def _table_state(table_path: str) -> dict:
    """The table's manifest: its version, its files by partition path and
    its schema."""
    if not table_exists(table_path):
        raise FileNotFoundError(
            f"{table_path} is not a clean table: it has no {_MANIFEST} "
            "(create the table with write_clean)")
    state = _load_state(table_path)
    if not state["files"]:
        raise ValueError(f"clean table {table_path} lists no data files")
    if "schema" not in state:
        raise ValueError(f"the {_MANIFEST} of clean table {table_path} "
                         "records no schema")
    return state


def _read_files(spark: SparkSession, table_path: str, state: dict,
                files: list[str]) -> DataFrame:
    """A frame over ``files`` (paths relative to the table), read with the
    schema the manifest records. Its columns are the data columns, then
    `PARTITION_COLS`, in the order `_read_columns` gives."""
    return (spark.read.schema(StructType.fromJson(state["schema"]))
            .option("basePath", table_path)
            .parquet(*[os.path.join(table_path, f) for f in files]))


def _read_columns(state: dict) -> list[str]:
    """The column order of a read of the table: a Parquet read puts the
    partition columns, parsed from the paths, after the data columns."""
    names = [f["name"] for f in state["schema"]["fields"]]
    return [c for c in names if c not in PARTITION_COLS] + [*PARTITION_COLS]


def write_clean(df: DataFrame, out: str) -> None:
    """Hive-partitioned parquet sink (README.md:750-752): 4-level layout so
    partition pruning replaces Athena's scan-cost cut (14x claim at
    README.md:801). `_commit` sorts each file's rows by ``date`` so
    parquet row-group min/max statistics prune date-range scans inside a
    month partition too (free at write time, pays on every range query).
    Each write task writes one file per partition its rows hold.

    Creates the table at ``out``, or adds the frame's files to it: rows
    already in a partition stay (`upsert_clean` replaces them)."""
    if not table_exists(out) and os.path.isdir(out) and os.listdir(out):
        raise FileExistsError(
            f"{out} holds files but no {_MANIFEST}: not a clean table")
    version = _load_state(out).get("version", 0)
    _commit(df, out, version, replace=False)


def upsert_clean(spark: SparkSession, table_path: str, new_batch: DataFrame,
                 keys: tuple[str, ...] = ("location", "date")) -> None:
    """Partition-level upsert: new batch wins on ``keys``; only partitions
    present in the batch are rewritten, all others stay byte-identical.

    Replaces B6's per-partition driver loop (README.md:1485-1545:
    distinct().collect() of affected partitions, then per partition a SQL
    NOT EXISTS read and a hand-built overwrite path) with one write:

    1. The batch is computed once (`_touched`, by `materialize`): the
       rewrite reads it twice (its keys, its rows), and the raw delivery
       behind it is parsed only once. The same pass observes its
       distinct partition keys.
    2. Those keys pick, from the manifest already loaded, the files of
       the partitions the batch touches; only those files are read, with
       the manifest's schema.
    3. survivors = their rows whose key is NOT in the batch (left_anti,
       Catalyst's own rewrite of NOT EXISTS); output = survivors ∪ batch.
    4. ONE partitioned write, committed by `_commit`: its files replace
       the files of the partitions it writes.

    Step 1 brings the partition keys to the driver as B6's collect did,
    but not to loop over them: they are the file pruning a table format
    does from its metadata (stations × months of keys, not rows), and
    they replace a broadcast semi-join over a scan of the whole snapshot.
    The rows are still read, merged and written by one plan, not by a
    Spark job per partition.

    A batch whose schema drifted from the table's fails before anything is
    written (B6's schema introspection, README.md:1248-1262).
    """
    state = _table_state(table_path)
    check_batch_compatible(new_batch,
                           StructType.fromJson(state["schema"]))
    batch, old = _touched(spark, table_path, state,
                          new_batch.select(*_read_columns(state)))
    if old is not None:
        batch = old.join(batch.select(*keys), on=list(keys),
                         how="left_anti").unionByName(batch)
    _commit(batch, table_path, state["version"], replace=True)


def _touched(spark: SparkSession, table_path: str, state: dict,
             batch: DataFrame) -> tuple[DataFrame, DataFrame | None]:
    """(``batch``, computed once by `materialize`; the rows the table
    holds in the partitions the batch touches, or None where it touches
    only new ones). The batch's distinct partition keys are observed on
    the materializing pass itself (no job of their own). The old rows are
    read from the files the manifest lists for those partitions, looked
    up by the writer's own partition naming (`_partition_dir`), so no
    other file of the table is opened."""
    seen = Observation()
    batch = materialize(batch.observe(
        seen, F.collect_set(F.struct(*PARTITION_COLS)).alias("parts")))
    parts = {_partition_dir(tuple(r)) for r in seen.get["parts"]}
    files = [e["file"] for p in sorted(parts)
             for e in state["batches"].get(p, [])]
    return batch, (_read_files(spark, table_path, state, files)
                   if files else None)


# parquet-mr's default row group size (parquet.block.size)
_ROW_GROUP_BYTES = 128 << 20
_WRITTEN_FILE = "partition string, file string, rows bigint, bytes bigint"


def _partition_naming():
    """``partition_dir(key)``: the directory, relative to the table, of
    the partition whose `PARTITION_COLS` values are ``key``, named as
    Spark's ``partitionBy`` names it: characters that
    ExternalCatalogUtils.escapePathName escapes (ASCII controls, DEL and
    "#%'*/:=?\\{[]^) become %XX, and a null or empty value is the
    default partition.

    The executor writer names its files with it and the driver looks the
    manifest up with it, so the two cannot disagree. It is built in
    function scope so that cloudpickle ships it by value inside
    `_partition_writer`."""
    escaped = frozenset(
        [*map(chr, range(0x01, 0x20)), *"\"#%'*/:=?\\\x7f{[]^"])

    def value(v) -> str:
        if v is None or v == "":
            return "__HIVE_DEFAULT_PARTITION__"
        return "".join(f"%{ord(c):02X}" if c in escaped else c
                       for c in str(v))

    def partition_dir(key) -> str:
        return "/".join(f"{c}={value(v)}"
                        for c, v in zip(PARTITION_COLS, key))

    return partition_dir


_partition_dir = _partition_naming()


def _partition_writer(table_path: str, write_id: str, data_cols: list[str]):
    """The executor side of `_commit`, run by ``mapInArrow`` over a frame
    sorted within each task by `PARTITION_COLS`. Each run of equal
    partition keys streams into one Parquet file, written under a unique
    name straight into its partition directory, named as Spark's
    ``partitionBy`` names it. The task returns one row per file:
    (partition, file, rows, bytes).

    Self-contained (imports and helpers inside): cloudpickle then ships it
    by value, so Spark's Python workers need not import this package."""

    def write(batches):
        import itertools
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        def runs():
            """(partition key, data-column slice), in input order."""
            for batch in batches:
                data, start = batch.select(data_cols), 0
                keys = zip(*(batch.column(c).to_pylist()
                             for c in PARTITION_COLS))
                for key, same in itertools.groupby(keys):
                    n = sum(1 for _ in same)
                    yield key, data.slice(start, n)
                    start += n

        def row_groups(run):
            """A run's slices merged into tables of about _ROW_GROUP_BYTES."""
            chunk, size = [], 0
            for _key, piece in run:
                chunk.append(piece)
                size += piece.nbytes
                if size >= _ROW_GROUP_BYTES:
                    yield pa.Table.from_batches(chunk)
                    chunk, size = [], 0
            if chunk:
                yield pa.Table.from_batches(chunk)

        task, written = uuid.uuid4().hex, []
        for n, (key, run) in enumerate(
                itertools.groupby(runs(), key=lambda r: r[0])):
            part = _partition_dir(key)
            rel = f"{part}/part-{write_id}-{task}-{n}.parquet"
            path = os.path.join(table_path, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tables = row_groups(run)
            first = next(tables)
            # Dictionaries for strings only: parquet-mr drops a column
            # chunk's dictionary when it does not pay, as for the
            # distinct doubles of a month partition; pyarrow keeps it.
            strings = [f.name for f in first.schema
                       if pa.types.is_string(f.type)]
            rows = 0
            with pq.ParquetWriter(path, first.schema, store_schema=False,
                                  use_dictionary=strings) as out:
                for table in itertools.chain([first], tables):
                    out.write_table(table)
                    rows += table.num_rows
            written.append((part, rel, rows, os.path.getsize(path)))
        if written:
            yield pa.RecordBatch.from_arrays(
                [pa.array(c) for c in zip(*written)],
                names=["partition", "file", "rows", "bytes"])

    return write


def _commit(df: DataFrame, table_path: str, version: int,
            replace: bool) -> None:
    """Write ``df`` as the table's next version. The manifest lists the
    live files of each partition path, with their rows and bytes, and
    the table's schema (the design table formats build on, Delta Lake,
    Armbrust et al., VLDB 2020).

    1. The executors write ``df``, sorted within each task by partition
       then ``date``: each task writes one Parquet file per partition its
       rows hold, under a name unique to this write and task, straight
       into the partition directory (`_partition_writer`), and reports it.
    2. One call to the commit routine every manifest writer shares
       (`manifest_sink._commit_manifest`): if the manifest is still at
       ``version`` (the one the write read), it publishes the reported
       files and ``df``'s schema, then deletes the superseded files. With
       ``replace`` each written partition's files replace its old ones,
       else they are added. If not, it removes the reported files and
       raises `ConcurrentWriteError`.

    Readers see the old snapshot until the publish and the new one after
    it. A write that fails or crashes before the publish leaves files no
    manifest lists: no reader opens them and `vacuum_manifest_dir`
    reclaims them. At rest the directory holds exactly the snapshot.
    """
    order = [*PARTITION_COLS, *(["date"] if "date" in df.columns else [])]
    data_cols = [c for c in df.columns if c not in PARTITION_COLS]
    writer = _partition_writer(table_path, uuid.uuid4().hex, data_cols)
    written: dict[str, list[dict]] = {}
    for r in (df.sortWithinPartitions(*order)
              .mapInArrow(writer, _WRITTEN_FILE).collect()):
        written.setdefault(r["partition"], []).append(
            {"file": r["file"], "rows": r["rows"], "bytes": r["bytes"]})
    if written:  # an empty frame changes no partition
        _commit_manifest(table_path, written, "replace" if replace else "add",
                         version, df.schema.jsonValue())


def compact_partitions(spark: SparkSession, table_path: str,
                       partitions_predicate=None,
                       target_files_per_partition: int = 1) -> None:
    """Small-file compaction for the clean layer (the 100 TB housekeeping
    the reference never needed at 14 locations): monthly upserts leave each
    rewritten partition with as many files as write tasks; read-heavy
    tables want few large files per partition.

    Rewrites (optionally predicate-selected) partitions through `_commit`,
    replacing their files — untouched partitions stay byte-identical, same
    guarantee as `upsert_clean`. At production scale this runs
    per-partition-group on a schedule, not table-wide.
    """
    state = _table_state(table_path)
    df = _read_files(spark, table_path, state,
                     [e["file"] for e in state["files"]])
    if partitions_predicate is not None:
        df = df.filter(partitions_predicate)
    _commit(df.repartition(target_files_per_partition, *PARTITION_COLS),
            table_path, state["version"], replace=True)


def upsert_scd2(spark: SparkSession, table_path: str, new_batch: DataFrame,
                keys: tuple[str, ...] = ("location", "date"),
                batch_ts: str = "1970-01-01T00:00:00") -> None:
    """History-preserving (SCD-type-2) upsert: instead of discarding
    overwritten rows (the reference's new-wins semantics,
    README.md:1517-1529), close them out.

    Table contract: payload columns + `effective_from` timestamp +
    `effective_to` timestamp (null = current). On each batch:
    - rows whose key is re-delivered get `effective_to = batch_ts`
    - the new versions land with `effective_from = batch_ts`, open-ended
    - unaffected rows/partitions stay untouched (the same partition-
      replacing `_commit` as `upsert_clean`)

    As in `upsert_clean`, the batch is computed once and the old rows are
    read only from the manifest files of the partitions it touches
    (`_touched`).

    `batch_ts` is passed explicitly (ISO string) — deterministic reruns,
    no wall-clock in the data path. The current view is
    ``WHERE effective_to IS NULL``; a time-travel view is
    ``WHERE effective_from <= t AND (effective_to > t OR effective_to IS NULL)``.
    """
    ts = F.lit(batch_ts).cast("timestamp")
    state = _table_state(table_path)
    batch = (new_batch
             .withColumn("effective_from", ts)
             .withColumn("effective_to", F.lit(None).cast("timestamp")))
    cols, table_cols = batch.columns, sorted(_read_columns(state))
    if sorted(cols) != table_cols:
        raise ValueError(
            "table is not SCD2-shaped; expected columns "
            f"{sorted(cols)}, found {table_cols}")

    batch, old = _touched(spark, table_path, state, batch)
    if old is not None:
        redelivered = batch.select(*keys).distinct()
        # close out still-open rows for re-delivered keys; history rows
        # pass as-is
        open_rows = old.filter(F.col("effective_to").isNull())
        closed_now = (open_rows.join(redelivered, on=list(keys),
                                     how="left_semi")
                      .withColumn("effective_to", ts))
        untouched_open = open_rows.join(redelivered, on=list(keys),
                                        how="left_anti")
        history = old.filter(F.col("effective_to").isNotNull())
        batch = (history.select(*cols)
                 .unionByName(closed_now.select(*cols))
                 .unionByName(untouched_open.select(*cols))
                 .unionByName(batch))
    _commit(batch, table_path, state["version"], replace=True)
