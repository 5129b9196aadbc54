from hdfs_mapreduce_spark.sources.catalog import (
    TABLES,
    load_table,
    spread,
    write_bucketed,
    write_table,
)

__all__ = [
    "TABLES",
    "load_table",
    "spread",
    "write_bucketed",
    "write_table",
]
