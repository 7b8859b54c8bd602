from promi_spark.io.ingest import load_table, load_tables, load_event_log, read_parquet
from promi_spark.io.xes import (
    read_xes,
    read_xes_distributed,
    write_xes,
    log_counts,
    XesParseError,
    XesWriteError,
)

__all__ = [
    "load_table",
    "load_tables",
    "load_event_log",
    "read_parquet",
    "read_xes",
    "read_xes_distributed",
    "write_xes",
    "log_counts",
    "XesParseError",
    "XesWriteError",
]
