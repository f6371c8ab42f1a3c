from .writers import clickhouse_writer

__all__ = ["clickhouse_writer"]
