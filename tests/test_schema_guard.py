"""Schema-drift defense tests (reference B6 behaviors, README.md:1248-1282,
1453-1476)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from canary_weather_etl_spark.sources import schema_guard as G


def test_duplicate_detection_and_repair(spark):
    df = spark.range(3).select(
        F.col("id").alias("x"),
        F.lit(1).alias("Temp"),
        F.lit(2).alias("temp"),   # case-insensitive collision
        F.lit(3).alias("y"),
        F.lit(4).alias("y"),      # exact collision
    )
    assert G.duplicate_columns(df) == ["Temp", "temp", "y"]
    fixed = G.repair_duplicate_columns(df)
    assert fixed.columns == ["x", "Temp", "temp_dup1", "y", "y_dup1"]
    assert G.duplicate_columns(fixed) == []
    row = fixed.collect()[0]
    assert (row["Temp"], row["temp_dup1"], row["y"], row["y_dup1"]) == (1, 2, 3, 4)


def test_positional_repair_reference_parity(spark):
    """The reference's literal `_1/_2` scheme (README.md:1462-1476): every
    occurrence of a duplicated name is suffixed positionally; unique
    columns keep their names."""
    df = spark.range(3).select(
        F.col("id").alias("x"),
        F.lit(1).alias("Temp"),
        F.lit(2).alias("temp"),
        F.lit(3).alias("y"),
        F.lit(4).alias("y"),
    )
    fixed = G.repair_duplicate_columns_positional(df)
    assert fixed.columns == ["x", "Temp_1", "temp_2", "y_1", "y_2"]
    assert G.duplicate_columns(fixed) == []
    row = fixed.collect()[0]
    assert (row["Temp_1"], row["temp_2"], row["y_1"], row["y_2"]) == (1, 2, 3, 4)


def test_batch_compatibility_gate(spark):
    table_schema = StructType([
        StructField("location", StringType()),
        StructField("date", DateType()),
        StructField("uv", DoubleType()),
    ])
    good = spark.createDataFrame(
        [("a", "2024-01-01", 1.0)], ["location", "date", "uv"]
    ).withColumn("date", F.to_date("date"))
    G.check_batch_compatible(good, table_schema)  # no raise

    missing = good.drop("uv")
    with pytest.raises(ValueError, match="missing column: uv"):
        G.check_batch_compatible(missing, table_schema)

    drifted = good.withColumn("uv", F.col("uv").cast("string"))
    with pytest.raises(ValueError, match="type drift on uv"):
        G.check_batch_compatible(drifted, table_schema)

    widened = good.withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="unexpected new columns"):
        G.check_batch_compatible(widened, table_schema)
    G.check_batch_compatible(widened, table_schema, allow_new_columns=True)


def test_append_evolved_column_add_and_merge_read(spark, tmp_path):
    """Schema evolution, the sanctioned direction: a batch ADDS a column
    (appends fine, old rows read NULL under mergeSchema) while missing /
    type-drifted existing columns still fail loudly pre-write."""
    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, payload string")
    v1.write.mode("overwrite").parquet(path)

    v2 = spark.createDataFrame(
        [(3, "c", 0.5), (4, "d", 0.9)],
        "id int, payload string, quality double")
    added = G.append_evolved(spark, path, v2)
    assert added == ["quality"]

    back = G.read_evolved(spark, path)
    assert set(back.columns) == {"id", "payload", "quality"}
    rows = {r["id"]: r for r in back.collect()}
    assert len(rows) == 4
    # pre-evolution rows read NULL for the added column; new rows carry it
    assert rows[1]["quality"] is None and rows[2]["quality"] is None
    assert rows[3]["quality"] == 0.5 and rows[4]["quality"] == 0.9

    # corruption directions still gated: dropped column / drifted type
    with pytest.raises(ValueError, match="missing column: payload"):
        G.append_evolved(spark, path, v2.drop("payload"))
    with pytest.raises(ValueError, match="type drift on id"):
        G.append_evolved(
            spark, path, v2.withColumn("id", F.col("id").cast("string")))
    # and the gate ran BEFORE any write: table still has exactly 4 rows
    assert G.read_evolved(spark, path).count() == 4


def test_plain_read_would_be_nondeterministic_after_evolution(spark, tmp_path):
    """Documents WHY read_evolved exists: a plain parquet read samples one
    footer, so post-evolution the visible schema depends on which file is
    sampled — mergeSchema is the only deterministic contract."""
    path = str(tmp_path / "evolving2")
    spark.createDataFrame([(1, "a")], "id int, payload string") \
        .write.mode("overwrite").parquet(path)
    G.append_evolved(spark, path, spark.createDataFrame(
        [(2, "b", 7)], "id int, payload string, extra int"))
    plain_cols = set(spark.read.parquet(path).columns)
    merged_cols = set(G.read_evolved(spark, path).columns)
    assert merged_cols == {"id", "payload", "extra"}
    # the plain read may or may not see `extra` (footer sampling) — the
    # guarantee worth pinning is only that merged is the full union
    assert plain_cols <= merged_cols
