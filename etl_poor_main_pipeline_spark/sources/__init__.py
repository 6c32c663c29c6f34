from .read import load_table, read_events, read_partition, read_table  # noqa: F401
