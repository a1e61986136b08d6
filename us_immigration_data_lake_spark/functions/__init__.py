from us_immigration_data_lake_spark.functions.dates import (
    sas_to_date,
    sas_to_iso_string,
    date_diff_days,
    date_parts,
    season_expr,
)
from us_immigration_data_lake_spark.functions.cleaning import (
    cast_types,
    recode,
    recode_via_broadcast_map,
    coalesce_fallback,
)
from us_immigration_data_lake_spark.functions.text import (
    title_case,
    token_count,
    tokens,
    normalized_text,
)

__all__ = [
    "sas_to_date",
    "sas_to_iso_string",
    "date_diff_days",
    "date_parts",
    "season_expr",
    "cast_types",
    "recode",
    "recode_via_broadcast_map",
    "coalesce_fallback",
    "title_case",
    "token_count",
    "tokens",
    "normalized_text",
]
