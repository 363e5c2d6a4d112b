from .readers import (  # noqa: F401
    read_csv,
    read_tsv_with_comments,
    read_parquet_table,
    rename_by_position,
)
from .writers import (  # noqa: F401
    write_parquet,
    write_bucketed_table,
)
from .layout import read_table, write_clustered, write_partitioned  # noqa: F401
