from us_immigration_data_lake_spark.sources.readers import read_csv, read_parquet
from us_immigration_data_lake_spark.sources.sas_labels import (
    I94_VISA_CATEGORIES,
    parse_sas_format_blocks,
    read_sas_labels,
)
from us_immigration_data_lake_spark.sources.sas import (
    register_sas_datasource,
    sas_schema,
)
from us_immigration_data_lake_spark.sources.sas7bdat_writer import write_sas7bdat
from us_immigration_data_lake_spark.sources.events import (
    load_events,
    read_event_stream,
)
from us_immigration_data_lake_spark.sources.writers import write_parquet
from us_immigration_data_lake_spark.sources.catalog import Catalog, TESTDATA_TABLES
from us_immigration_data_lake_spark.sources.replay_stream import (
    drain_replay,
    register_replay_stream,
)
from us_immigration_data_lake_spark.sources.manifest_sink import (
    read_manifest,
    register_manifest_sink,
)

__all__ = [
    "read_csv",
    "read_parquet",
    "write_parquet",
    "sas_schema",
    "write_sas7bdat",
    "register_sas_datasource",
    "load_events",
    "read_event_stream",
    "read_sas_labels",
    "parse_sas_format_blocks",
    "I94_VISA_CATEGORIES",
    "Catalog",
    "TESTDATA_TABLES",
    "drain_replay",
    "register_replay_stream",
    "read_manifest",
    "register_manifest_sink",
]
