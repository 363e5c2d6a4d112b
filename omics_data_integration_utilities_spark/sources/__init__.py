from .readers import (  # noqa: F401
    local_frame,
    read_csv,
    read_tsv_with_comments,
    read_parquet_table,
    rename_by_position,
)
from .writers import write_bucketed_table  # noqa: F401
from .layout import read_table, write_clustered, write_partitioned  # noqa: F401
