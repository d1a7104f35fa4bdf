from cassandra_analytics_example_spark.sources.options import (
    CONTROL_KEYS,
    cassandra_options,
)
from cassandra_analytics_example_spark.sources.registry import (
    apply_write_discipline,
    get_reader,
    get_writer,
    read,
    write,
)
from cassandra_analytics_example_spark.sources.snapshot import (
    create_snapshot,
    read_snapshot,
)

__all__ = [
    "CONTROL_KEYS",
    "apply_write_discipline",
    "cassandra_options",
    "create_snapshot",
    "get_reader",
    "get_writer",
    "read",
    "read_snapshot",
    "write",
]
