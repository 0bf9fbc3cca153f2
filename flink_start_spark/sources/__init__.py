"""Sources: batch + streaming ingest (SURVEY §2 O1-O4, declared connectors)."""

from flink_start_spark.sources.catalog import load_table, load_tables
from flink_start_spark.sources.json_activity import (
    read_user_activity_json,
    user_activity_fixture,
)

__all__ = [
    "load_table",
    "load_tables",
    "read_user_activity_json",
    "user_activity_fixture",
]
