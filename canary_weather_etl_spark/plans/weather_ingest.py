"""Driver-visible differential for the weather ingestion path (VERDICT r1
item 4): the flatten / join / upsert operators (README.md:595-760,
1221-1555) exercised over COMMITTED golden raw JSON fixtures
(tests/fixtures/weather_raw/, generated by scripts/gen_weather_fixtures.py)
with DuckDB ``read_json`` twins as oracles — DuckDB reads the same files
and re-derives the same clean rows, so the driver's hash compare covers:

- struct-of-arrays flatten (``arrays_zip``+``explode`` vs zipped ``unnest``)
- array-of-structs flatten (``explode(days)`` vs ``unnest(days)``)
- path lineage (``input_file_name`` regex vs read_json ``filename`` regex)
- the 4-key clean join + date/year/month derivation
- the new-wins upsert through the REAL partitioned write path (batch_b
  overwrites days 08-10, survivors + untouched partitions re-read from disk)

These queries ignore ``sf_dir`` — their input is the ingestion fixture set,
not the relational tables (the reference's raw layer has no SF knob).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import weather as W
from .registry import register

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FIXTURE_ROOT = os.path.join(_REPO, "tests", "fixtures", "weather_raw")

_LINEAGE_RE = r".*/([^/]+)/([^/]+)/[^/]+\.json$"

# ---- DuckDB twins of the two explicit read schemas ------------------------

_DUCK_T = {"DoubleType": "DOUBLE", "LongType": "BIGINT", "StringType": "VARCHAR"}

_OM_DAILY_STRUCT = ", ".join(
    ["date VARCHAR[]"]
    + [f"{n} {_DUCK_T[t.__name__]}[]" for n, t in W.OPEN_METEO_DAILY_VARS.items()])
_OM_COLUMNS = ("{location:'VARCHAR', latitude:'DOUBLE', longitude:'DOUBLE', "
               "elevation:'DOUBLE', timezone:'VARCHAR', "
               f"daily:'STRUCT({_OM_DAILY_STRUCT})'}}")

_VC_DAY_STRUCT = ", ".join(
    ["datetime VARCHAR"]
    + [f"{n} {_DUCK_T[t.__name__]}" for n, t in W.VISUAL_CROSSING_DAY_FIELDS.items()])
_VC_COLUMNS = ("{queryCost:'DOUBLE', latitude:'DOUBLE', longitude:'DOUBLE', "
               "resolvedAddress:'VARCHAR', address:'VARCHAR', "
               "timezone:'VARCHAR', tzoffset:'DOUBLE', "
               f"days:'STRUCT({_VC_DAY_STRUCT})[]'}}")


def _om_flat_sql(batch: str, suffix: str) -> str:
    """Zipped multi-unnest flatten of the struct-of-arrays shape — DuckDB's
    positional unnest-zip mirrors arrays_zip exactly."""
    unnests = ",\n               ".join(
        [f"unnest(daily.date) AS date"]
        + [f"unnest(daily.{n}) AS {n}" for n in W.OPEN_METEO_DAILY_VARS])
    return f"""
        SELECT regexp_extract(filename, '{_LINEAGE_RE}', 1) AS island,
               regexp_extract(filename, '{_LINEAGE_RE}', 2) AS location_name,
               location, latitude, longitude, elevation, timezone,
               {unnests}
        FROM read_json('{FIXTURE_ROOT}/{batch}/*/*/om_{suffix}.json',
                       filename=true, columns={_OM_COLUMNS})
    """


def _vc_flat_sql(batch: str, suffix: str) -> str:
    fields = ",\n               ".join(
        [f"d.datetime AS date"]
        + [f"d.{n} AS {n}" for n in W.VISUAL_CROSSING_DAY_FIELDS])
    return f"""
        SELECT island, location_name, location, latitude, longitude,
               {fields}
        FROM (SELECT regexp_extract(filename, '{_LINEAGE_RE}', 1) AS island,
                     regexp_extract(filename, '{_LINEAGE_RE}', 2) AS location_name,
                     address AS location, latitude, longitude,
                     unnest(days) AS d
              FROM read_json('{FIXTURE_ROOT}/{batch}/*/*/vc_{suffix}.json',
                             filename=true, columns={_VC_COLUMNS}))
    """


_CLEAN_COLS = (
    ["location", "latitude", "longitude", "elevation", "timezone",
     "island", "location_name", "date"]
    + list(W.OPEN_METEO_DAILY_VARS)
    + list(W.VISUAL_CROSSING_DAY_FIELDS)
    + ["year", "month"]
)


def _clean_sql(batch: str, suffix: str) -> str:
    """The clean-layer join twin (README.md:737-745 semantics on the
    (location, date, island, location_name) grain)."""
    om_cols = ", ".join(f"om.{n}" for n in W.OPEN_METEO_DAILY_VARS)
    vc_cols = ", ".join(f"vc.{n}" for n in W.VISUAL_CROSSING_DAY_FIELDS)
    return f"""
        SELECT om.location, om.latitude, om.longitude, om.elevation,
               om.timezone, om.island, om.location_name,
               CAST(om.date AS DATE) AS date,
               {om_cols}, {vc_cols},
               CAST(year(CAST(om.date AS DATE)) AS INT) AS year,
               CAST(month(CAST(om.date AS DATE)) AS INT) AS month
        FROM ({_om_flat_sql(batch, suffix)}) om
        JOIN ({_vc_flat_sql(batch, suffix)}) vc
          ON om.location = vc.location AND om.date = vc.date
         AND om.island = vc.island AND om.location_name = vc.location_name
    """


def _read_batch(spark: SparkSession, batch: str, suffix: str):
    om = W.read_open_meteo(spark, f"{FIXTURE_ROOT}/{batch}/*/*/om_{suffix}.json")
    vc = W.read_visual_crossing(spark, f"{FIXTURE_ROOT}/{batch}/*/*/vc_{suffix}.json")
    return om, vc


@register(
    "q_weather_flatten_om",
    oracle=_om_flat_sql("batch_a", "a"),
    doc="Struct-of-arrays flatten (README.md:694-728): arrays_zip + explode "
        "+ input_file_name lineage over the committed golden raw fixtures; "
        "oracle is DuckDB's zipped multi-unnest over the same files. The "
        "distributed replacement for the reference's per-field collect() + "
        "Python zip loop.",
    tags=("weather", "ingest"),
)
def q_weather_flatten_om(spark: SparkSession, sf_dir: str) -> DataFrame:
    om = W.read_open_meteo(spark, f"{FIXTURE_ROOT}/batch_a/*/*/om_a.json")
    return om.select("island", "location_name", "location", "latitude",
                     "longitude", "elevation", "timezone", "date",
                     *W.OPEN_METEO_DAILY_VARS)


@register(
    "q_weather_flatten_vc",
    oracle=_vc_flat_sql("batch_a", "a"),
    doc="Array-of-structs flatten (README.md:640-666): explode(days) + "
        "struct-field projection + path lineage; oracle is unnest(days) "
        "over the same committed fixtures.",
    tags=("weather", "ingest"),
)
def q_weather_flatten_vc(spark: SparkSession, sf_dir: str) -> DataFrame:
    vc = W.read_visual_crossing(spark, f"{FIXTURE_ROOT}/batch_a/*/*/vc_a.json")
    return vc.select("island", "location_name", "location", "latitude",
                     "longitude", "date", *W.VISUAL_CROSSING_DAY_FIELDS)


@register(
    "q_weather_clean_build",
    oracle=_clean_sql("batch_a", "a"),
    doc="The full clean-layer build (README.md:737-745): both flattens "
        "joined on the (location, date, island, location_name) grain, "
        "date typed, year/month derived — one declarative plan replacing "
        "the reference's per-location driver loop.",
    tags=("weather", "ingest"),
)
def q_weather_clean_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    om, vc = _read_batch(spark, "batch_a", "a")
    clean = W.build_clean(om, vc)
    return clean.select(*_CLEAN_COLS)


@register(
    "q_weather_upsert_newwins",
    oracle=f"""
        WITH a AS ({_clean_sql("batch_a", "a")}),
             b AS ({_clean_sql("batch_b", "b")})
        SELECT * FROM a
        WHERE NOT EXISTS (SELECT 1 FROM b
                          WHERE b.location = a.location AND b.date = a.date)
        UNION ALL
        SELECT * FROM b
    """,
    doc="New-wins incremental upsert THROUGH THE REAL WRITE PATH "
        "(README.md:1485-1545): batch_a written as the 4-level partitioned "
        "clean table, batch_b (overlapping days 08-10, shifted values) "
        "upserted via left_anti + unionByName, its files replacing the "
        "touched partitions' in a new manifest version, result re-read "
        "from the manifest's files. Oracle: NOT EXISTS survivors "
        "∪ batch_b over the same JSON. Verifies new-wins on the overlap, "
        "survivor retention, and untouched partitions in one hash.",
    tags=("weather", "ingest", "upsert"),
)
def q_weather_upsert_newwins(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    # fresh per-invocation scratch dir (ADVICE r2: a fixed path raced
    # between concurrent driver runs and rmtree'd the other's table);
    # mkdtemp is collision-free, removal deferred to process exit because
    # the returned DataFrame reads the table lazily
    base = tempfile.mkdtemp(prefix="canary_weather_q_upsert_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    table = os.path.join(base, "clean")

    om_a, vc_a = _read_batch(spark, "batch_a", "a")
    W.write_clean(W.build_clean(om_a, vc_a), table)

    om_b, vc_b = _read_batch(spark, "batch_b", "b")
    W.upsert_clean(spark, table, W.build_clean(om_b, vc_b))

    out = W.read_clean(spark, table)
    return out.select(
        *[F.col(c).cast("int").alias(c) if c in ("year", "month") else c
          for c in _CLEAN_COLS])


@register(
    "q_api_datasource_scan",
    oracle=f"""
    SELECT location, CAST(day AS DATE) AS day, tmax, tmin, precip FROM (
        SELECT location,
               unnest(daily.date) AS day,
               unnest(daily.temperature_2m_max) AS tmax,
               unnest(daily.temperature_2m_min) AS tmin,
               unnest(daily.precipitation_sum) AS precip
        FROM read_json('{FIXTURE_ROOT}/batch_a/*/*/om_a.json',
                       columns={{location:'VARCHAR',
                                daily:'STRUCT(date VARCHAR[],
                                              temperature_2m_max DOUBLE[],
                                              temperature_2m_min DOUBLE[],
                                              precipitation_sum DOUBLE[])'}})
    )
    """,
    doc="The Spark 4 Python DataSource as a driver-checkable query "
        "(sources/weather_datasource.py): the HTTP fetch loop the "
        "reference runs sequentially on the driver (README.md:667-732) "
        "executed as a DISTRIBUTED scan — spark.read.format('weather_api') "
        "with one input partition per location, per-task retry/backoff, "
        "pinned schema. Here the per-location URLs are file:// pointers at "
        "the committed batch_a golden fixtures (urllib serves file:// and "
        "https:// identically), so the whole path runs hermetically; the "
        "oracle re-reads the same files with DuckDB read_json and the "
        "positional unnest-zip. Ignores sf_dir like the rest of the "
        "ingestion differential.",
    tags=("source", "datasource", "weather"),
)
def q_api_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import json

    from ..sources.weather_datasource import (WeatherApiDataSource,
                                              ensure_package_on_executors)

    # the DataSource class pickles by reference: executors must be able to
    # import this package regardless of the harness's cwd/sys.path
    ensure_package_on_executors(spark)
    urls = {}
    for p in sorted(glob.glob(f"{FIXTURE_ROOT}/batch_a/*/*/om_a.json")):
        with open(p) as fh:
            loc = json.load(fh)["location"]
        urls[loc] = f"file://{p}"
    spark.dataSource.register(WeatherApiDataSource)
    return (spark.read.format("weather_api")
            .option("urls", json.dumps(urls)).load())
