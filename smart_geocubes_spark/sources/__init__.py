from smart_geocubes_spark.sources.local import local_frame
from smart_geocubes_spark.sources.synth import (
    CUBE_TIME_EPOCHS,
    GRID,
    catalog_df,
    ensure_base_views,
    pages_df,
    pages_sql,
    patches_sql,
)

__all__ = [
    "GRID",
    "CUBE_TIME_EPOCHS",
    "pages_df",
    "catalog_df",
    "pages_sql",
    "patches_sql",
    "ensure_base_views",
    "local_frame",
]
