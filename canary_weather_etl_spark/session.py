"""SparkSession factory with scale-oriented defaults.

The reference (README.md:609-614) builds a GlueContext per job and relies on
Glue defaults. We centralize one tuned builder: AQE on (adaptive shuffle
coalescing, broadcast conversion, skew-join splitting — important because the
reference's key domains are tiny: 14 locations, 5 event types) and Arrow
for any pandas-UDF extension operator. ``materialize`` is the one way the
engine computes an intermediate eagerly and cuts its lineage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Defaults are sized for local[32] test runs; on a real cluster these are
# expected to be overridden by spark-submit conf (shuffle.partitions ~ 2-3x
# total cores, maxPartitionBytes 128-256m for 100 TB scans).
_DEFAULT_CONF = {
    # Let AQE re-plan at runtime: coalesce post-shuffle partitions, convert
    # sort-merge joins to broadcast when a side turns out small, split skewed
    # partitions (location/event_type keys are low-cardinality → skew-prone).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Delete a reliable checkpoint's files once its frame is unreachable,
    # so a set spark.checkpoint.dir does not grow for the whole session.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    # Arrow-batched transfer for pandas_udf / mapInPandas extension ops.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Local-mode shuffle sizing; cluster deployments override.
    "spark.sql.shuffle.partitions": "32",
    # Parquet: push filters into the scan.
    "spark.sql.parquet.filterPushdown": "true",
    # List the files of a manifest read (sources/weather.read_clean) on
    # the driver. At the default threshold (32 paths) Spark lists more
    # paths with a job of one task per path. On 4 cores, register_clean_view
    # over a 224-file weather table took 1.24-1.29 s (2 jobs) at 32 and
    # 0.24-0.26 s (1 job, the schema footer read) above the file count;
    # the directory read it replaced took 0.21 s (1 job).
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "100000",
    # functions/litexpr.py splices data-derived strings into SQL text
    # assuming the DEFAULT parser escaping (backslash escapes live);
    # pin it so a deployment enabling the legacy conf cannot silently
    # change parsed literal values (ADVICE r14). This is the Spark
    # default — stated, not changed.
    "spark.sql.parser.escapedStringLiterals": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "canary-weather-etl-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Return the shared SparkSession, creating it if needed.

    One session per process: at the small scale factors the driver benches
    at, JVM/session startup dominates, so every entry point (tests, bench,
    __spark_entry__) funnels through here. ``SPARK_GRAFT_CPUS`` and
    ``SPARK_GRAFT_DRIVER_MEM`` are read here, not at import: the operator
    modules import this one, so an import-time read would miss a value a
    caller sets after importing the package.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    for k, v in _DEFAULT_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now and return it with its lineage cut. With a
    checkpoint directory (Spark's ``spark.checkpoint.dir``) the rows are
    written there and survive the loss of an executor; without one they
    stay in executor block storage (``localCheckpoint``)."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
