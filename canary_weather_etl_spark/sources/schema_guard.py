"""Schema-drift defenses (reference B6, README.md:1248-1282, 1453-1476):
the reference reads back the clean table's schema, detects duplicate column
names, renames collisions, and bootstraps a minimal empty table when the
clean layer doesn't exist yet. The checks hold here, DataFrame-native; the
bootstrap has no counterpart, as the first `sources.weather.write_clean`
creates the table and its manifest records the schema:

- duplicate-name detection is case-insensitive (Spark's resolver default)
- collision repair renames right-side duplicates with a suffix instead of
  the reference's positional `_1/_2` scheme (README.md:1462-1476), which
  depends on column order — exactly the fragility its own repair code
  fights
- batch-vs-table compatibility check runs BEFORE a write, so a drifted
  upstream fails loudly instead of appending mixed-schema files
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def duplicate_columns(df: DataFrame) -> list[str]:
    """Case-insensitive duplicate column names (README.md:1259-1262)."""
    counts = Counter(c.lower() for c in df.columns)
    return sorted({c for c in df.columns if counts[c.lower()] > 1})


def repair_duplicate_columns(df: DataFrame, suffix: str = "_dup") -> DataFrame:
    """Deterministically rename later occurrences of duplicated names
    (README.md:1440, 1453-1476 — but keyed on name occurrence order, not
    fragile positional `_1/_2` suffixing of every column)."""
    seen: Counter = Counter()
    new_names = []
    for c in df.columns:
        key = c.lower()
        seen[key] += 1
        new_names.append(c if seen[key] == 1 else f"{c}{suffix}{seen[key] - 1}")
    return df.toDF(*new_names)


def repair_duplicate_columns_positional(df: DataFrame) -> DataFrame:
    """The reference's literal repair scheme (README.md:1462-1476): EVERY
    occurrence of a duplicated name gets a positional `_<k>` suffix, k
    counting occurrences left-to-right from 1 — so a duplicated `temp`
    becomes `temp_1`, `temp_2` (the first keeps no bare name). Shipped for
    drop-in parity; prefer `repair_duplicate_columns`, which keeps the
    first occurrence stable and doesn't depend on column order."""
    counts = Counter(c.lower() for c in df.columns)
    seen: Counter = Counter()
    new_names = []
    for c in df.columns:
        key = c.lower()
        if counts[key] > 1:
            seen[key] += 1
            new_names.append(f"{c}_{seen[key]}")
        else:
            new_names.append(c)
    return df.toDF(*new_names)


def check_batch_compatible(batch: DataFrame, table_schema: StructType,
                           allow_new_columns: bool = False) -> None:
    """Pre-write drift gate: every table column must exist in the batch
    with a compatible type; unexpected batch columns fail unless
    explicitly allowed (they'd silently widen the table on append)."""
    batch_fields = {f.name.lower(): f for f in batch.schema.fields}
    problems = []
    for f in table_schema.fields:
        bf = batch_fields.get(f.name.lower())
        if bf is None:
            problems.append(f"missing column: {f.name}")
        elif bf.dataType.simpleString() != f.dataType.simpleString():
            problems.append(
                f"type drift on {f.name}: table={f.dataType.simpleString()} "
                f"batch={bf.dataType.simpleString()}")
    if not allow_new_columns:
        table_names = {f.name.lower() for f in table_schema.fields}
        extra = [f.name for f in batch.schema.fields
                 if f.name.lower() not in table_names]
        if extra:
            problems.append(f"unexpected new columns: {extra}")
    if problems:
        raise ValueError("batch incompatible with table schema: "
                         + "; ".join(problems))


def append_evolved(spark: SparkSession, path: str,
                   batch: DataFrame) -> list[str]:
    """Column-ADD upsert semantics — the general form of the reference's
    drift defenses (README.md:1256-1276): a batch may CARRY NEW COLUMNS
    (they evolve the table; old files simply lack them), but must still
    pass the hard gate for everything else — a missing or type-drifted
    existing column fails loudly before any file lands, because that is
    corruption, not evolution.

    Appends the batch and returns the sorted list of newly added column
    names. Readers see the union schema via `read_evolved` (parquet
    mergeSchema): rows from pre-evolution files read NULL for the new
    columns — the standard add-a-nullable-column contract every ACID
    table format (Iceberg/Delta ADD COLUMN) formalizes, expressed on raw
    parquet. At 100 TB the same code holds: evolution costs one footer
    per file at read planning, no rewrite of existing data."""
    # validate against the mergeSchema UNION, not a plain read: a plain
    # read samples one footer, so after the first evolution the gate
    # would nondeterministically miss evolved columns — letting a
    # type-conflicting re-add land (corrupting every future read) or
    # spuriously failing a batch that legitimately lacks only them
    table_schema = read_evolved(spark, path).schema
    check_batch_compatible(batch, table_schema, allow_new_columns=True)
    table_names = {f.name.lower() for f in table_schema.fields}
    added = sorted(f.name for f in batch.schema.fields
                   if f.name.lower() not in table_names)
    batch.write.mode("append").parquet(path)
    return added


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table whose files span schema versions: mergeSchema
    unions every file footer's schema (plain reads sample ONE footer, so
    whether a post-evolution column appears would depend on which file
    gets sampled — a silently nondeterministic schema). Columns absent
    from a file read as NULL for its rows."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_jsonl_quarantine(spark: SparkSession, path: str,
                          schema: StructType):
    """Malformed-record quarantine for JSONL scans: returns
    ``(good, bad)`` — rows that parsed under ``schema``, and the RAW text
    of rows that did not (unparseable JSON, or JSON whose types conflict
    with the schema).

    PERMISSIVE mode with ``columnNameOfCorruptRecord``: a bad line lands
    with every schema column NULL and the raw line preserved in the
    corrupt column — nothing is silently dropped (DROPMALFORMED) and one
    poison line cannot kill a 100 TB ingest (FAILFAST). Quarantined raw
    text is the re-ingestion path after the upstream bug is fixed — the
    same dead-letter discipline as the manifest sink's orphan isolation.

    The input is cached before splitting: Spark (2.3+) refuses a query
    that references ONLY the internal corrupt-record column of a bare
    JSON scan (the parser would have to re-run per query with
    inconsistent results); materializing first is the documented
    contract. At scale, quarantine counts are metric-sized — cache the
    narrow projection, write `bad` to a dead-letter path, and unpersist.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField

    corrupt = "_corrupt_record"
    if corrupt in schema.fieldNames():
        raise ValueError(f"schema already has a {corrupt} column")
    aug = StructType(list(schema.fields)
                     + [StructField(corrupt, StringType(), True)])
    df = (spark.read.schema(aug)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", corrupt)
          .json(path)
          .cache())
    good = df.filter(F.col(corrupt).isNull()).drop(corrupt)
    bad = (df.filter(F.col(corrupt).isNotNull())
           .select(F.col(corrupt).alias("raw")))
    return good, bad
