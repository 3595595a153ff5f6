"""The reference's three Athena queries, verbatim, over the clean weather
table (README.md:778-809) — the literal SQL a user of the reference runs
today, running unchanged on this engine's SQL façade (modulo the catalog
name; Q3's paren typo at README.md:804 fixed per SURVEY.md §7.1.6).

These are functions over an already-built clean table (the fixture tables
don't contain weather data), exercised end-to-end by
tests/test_weather_queries.py on golden ingestion fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.weather import read_clean

VIEW = "canary_weather_clean"


def register_clean_view(spark: SparkSession, table_path: str) -> None:
    """The Glue-crawler step (README.md:762-772): expose the clean layer to
    SQL. The view reads the files of the table's current manifest;
    partition columns come from their Hive paths."""
    read_clean(spark, table_path).createOrReplaceTempView(VIEW)


def q1_sunniest_location(spark: SparkSession) -> DataFrame:
    """README.md:778-783 — avg sunshine hours per location, sunniest first."""
    return spark.sql(f"""
        SELECT location,
               ROUND((AVG(sunshine_duration) / 3600), 2) AS avg_sunshine_hours
        FROM {VIEW}
        GROUP BY location
        ORDER BY avg_sunshine_hours DESC
    """)


def q2_sunniest_month_location(spark: SparkSession) -> DataFrame:
    """README.md:790-796 — avg sunshine by (location, month), top 10."""
    return spark.sql(f"""
        SELECT location, month,
               ROUND((AVG(sunshine_duration) / 3600), 2) AS avg_sunshine_hours
        FROM {VIEW}
        GROUP BY location, month
        ORDER BY avg_sunshine_hours DESC
        LIMIT 10
    """)


def q3_best_uv_month(spark: SparkSession,
                     location_name: str = "Las_Palmas_de_Gran_Canaria") -> DataFrame:
    """README.md:803-809 — monthly avg UV at one station (partition-pruned
    scan: location_name is a partition column, the reference's 14x cut).
    The station name binds as a named parameter, never interpolated into
    SQL text (quote-safe / injection-safe)."""
    return spark.sql(f"""
        SELECT month, ROUND(AVG(uvindex), 1) AS avg_uvindex
        FROM {VIEW}
        WHERE location_name = :loc
        GROUP BY month
        ORDER BY avg_uvindex DESC
    """, args={"loc": location_name})


def q2_corrected_best_location_per_month(spark: SparkSession) -> DataFrame:
    """The question Q2 actually asks ('which location is sunniest each
    month'), answered correctly with a window rank instead of LIMIT 10
    (SURVEY.md §2.5): one row per month = that month's sunniest location."""
    return spark.sql(f"""
        SELECT month, location, avg_sunshine_hours
        FROM (
            SELECT month, location,
                   ROUND((AVG(sunshine_duration) / 3600), 2) AS avg_sunshine_hours,
                   ROW_NUMBER() OVER (
                       PARTITION BY month
                       ORDER BY AVG(sunshine_duration) DESC, location
                   ) AS rn
            FROM {VIEW}
            GROUP BY month, location
        ) WHERE rn = 1
        ORDER BY month
    """)
