"""Semi-structured ingestion: the reference's two raw JSON shapes, path
lineage, partitioned parquet sinks, and the incremental upsert."""

from .weather import (  # noqa: F401
    OPEN_METEO_SCHEMA,
    VISUAL_CROSSING_SCHEMA,
    build_clean,
    lineage_from_path,
    read_clean,
    read_open_meteo,
    read_visual_crossing,
    upsert_clean,
    write_clean,
)
