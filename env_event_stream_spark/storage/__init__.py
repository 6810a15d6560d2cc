"""Storage backends: the system-of-record event table and the DLQ.

The reference ships three row-oriented backends (in-memory / one JSON
file per event / Postgres — reference src/persistence.ts:8,100,240).
Here the system of record is a columnar Parquet table partitioned by
topic; an in-memory backend remains for unit tests and a JDBC-gated
backend mirrors the Postgres one. Driver-held rows reach parquet
through ``append_rows`` (pyarrow on the driver, no Spark job).
"""

from env_event_stream_spark.storage.parquet_rows import append_rows  # noqa: F401
from env_event_stream_spark.storage.event_store import (  # noqa: F401
    EVENT_SCHEMA,
    InMemoryEventStore,
    ParquetEventStore,
)
from env_event_stream_spark.storage.dlq_store import (  # noqa: F401
    DLQ_SCHEMA,
    InMemoryDeadLetterQueue,
    ParquetDeadLetterQueue,
)
