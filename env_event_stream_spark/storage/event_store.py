"""Event stores: the table behind every topic.

Reference parity (SURVEY.md §2.1):
- ``save_event``/``save_events`` = InMemory/File/Postgres ``saveEvent``
  (reference src/persistence.ts:14-23, :141-145, :299-322) — here one
  columnar append for a whole batch (the reference loops one event at
  a time). Rows the driver holds are written by the driver
  (``parquet_rows.append_rows``: pyarrow, no Spark job), one parquet
  file per topic per call; a DataFrame is written by Spark's
  ``partitionBy`` writer.
- ``get_events``            = ``getEvents``  (src/persistence.ts:28-69)
- ``delete_events``         = ``deleteEvents`` retention
  (src/persistence.ts:74-93) — implemented as partition-pruned rewrite
  (anti-filter) since plain parquet has no row-level delete.

Canonical Event schema (reference src/types.ts:4-39; FIXTURES.md §A1):
``id, type, topic, timestamp, schemaVersion, payload(JSON string),
metadata(map<string,string>)``. Payload stays a JSON string —
schema-on-read via from_json per event type (SURVEY.md §1.4).

Scale: partitioned by ``topic`` (the reference's per-topic arrays/dirs/
indexes are all this layout, src/persistence.ts:9,126,283-288); topic
equality prunes partitions; ts predicates hit parquet row-group stats.
At 100 TB add a date bucket column (``p_date = date(timestamp)``) as a
second partition level so retention drops whole partitions.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from env_event_stream_spark.operators.event_queries import get_events as _get_events_df
from env_event_stream_spark.storage.parquet_rows import append_rows, partition_dir

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("topic", T.StringType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("schemaVersion", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# what a topic partition's files hold: the partition value lives in
# the directory name
_FILE_SCHEMA = T.StructType([f for f in EVENT_SCHEMA.fields if f.name != "topic"])

__all__ = ["EVENT_SCHEMA", "make_event", "InMemoryEventStore", "ParquetEventStore"]

_counter = 0


def generate_id() -> str:
    """Unique event id. Reference format is
    ``<ts base36>-<11 hex>-<6-digit counter>`` (src/utils.ts:13-40);
    we keep the sortable-ts prefix + uuid entropy + process counter."""
    global _counter
    _counter += 1
    ts36 = _base36(int(time.time() * 1000))
    return f"{ts36}-{uuid.uuid4().hex[:11]}-{_counter % 1_000_000:06d}"


def _base36(n: int) -> str:
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    out = ""
    while n:
        n, r = divmod(n, 36)
        out = digits[r] + out
    return out or "0"


def make_event(
    topic: str,
    event_type: str,
    payload: str | None = None,
    metadata: dict[str, str] | None = None,
    *,
    timestamp: Any = None,
    schema_version: str = "1.0",
    event_id: str | None = None,
) -> Row:
    """Construct an Event row exactly as broker.publish does
    (reference src/broker.ts:100-108): generated id, now() timestamp,
    schemaVersion default "1.0"."""
    import datetime as _dt

    return Row(
        id=event_id or generate_id(),
        type=event_type,
        topic=topic,
        timestamp=timestamp or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None),
        schemaVersion=schema_version,
        payload=payload,
        metadata=metadata,
    )


class InMemoryEventStore:
    """Test/dev backend (reference src/persistence.ts:8-94): events in
    a per-process list, queried by converting to a DataFrame on read.
    Keeps the same semantics; only suitable for small data."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._rows: list[Row] = []

    def save_event(self, event: Row) -> None:
        self._rows.append(event)

    def save_events(self, events: Sequence[Row]) -> None:
        self._rows.extend(events)

    def to_df(self) -> DataFrame:
        return self.spark.createDataFrame(self._rows or [], schema=EVENT_SCHEMA)

    def get_events(self, topic: str, **kwargs) -> DataFrame:
        return _get_events_df(
            self.to_df(), topic=topic, ts_col="timestamp", type_col="type",
            tiebreak_col="id", **kwargs,
        )

    def delete_events(self, topic: str, before_ts) -> int:
        import datetime as _dt

        if isinstance(before_ts, str):
            before_ts = _dt.datetime.fromisoformat(before_ts)
        n0 = len(self._rows)
        self._rows = [
            r for r in self._rows if not (r.topic == topic and r.timestamp < before_ts)
        ]
        return n0 - len(self._rows)

    def delete_topic(self, topic: str) -> int:
        """Drop every event of a topic (broker deleteTopic,
        reference src/broker.ts:55-57). Returns rows removed."""
        n0 = len(self._rows)
        self._rows = [r for r in self._rows if r.topic != topic]
        return n0 - len(self._rows)

    def delete_matching(self, topic: str, predicate) -> int:
        """Erase rows of a topic matching a Column predicate (the
        right-to-erasure primitive; see ParquetEventStore twin)."""
        if not self._rows:
            return 0
        doomed = {
            r.id
            for r in self.to_df()
            .where(F.col("topic") == topic)
            .where(predicate)
            .select("id")
            .collect()
        }
        if not doomed:
            return 0
        n0 = len(self._rows)
        self._rows = [
            r for r in self._rows
            if not (r.topic == topic and r.id in doomed)
        ]
        return n0 - len(self._rows)


class ParquetEventStore:
    """System-of-record backend: parquet partitioned by topic.

    Append = columnar write: driver-held rows are written by the
    driver (``append_rows``, no Spark job), one parquet file per topic
    per call; a DataFrame by Spark's ``partitionBy`` writer into the
    same directories. Scan = pruned parquet read. Retention delete =
    partition-local rewrite keeping ``ts >= cutoff``
    (the parquet analog of the Postgres ``DELETE WHERE topic=$1 AND
    timestamp<$2``, reference src/persistence.ts:407-425)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def initialize(self) -> None:
        """DDL bootstrap (reference src/persistence.ts:260-294): create
        the table directory; readers treat a directory without parquet
        files as the empty table. Indexes have no parquet analog —
        partitioning + min/max stats play that role."""
        os.makedirs(self.path, exist_ok=True)

    def partition_dir(self, topic: str) -> str:
        """The topic's partition directory, escaped as Spark names it."""
        return partition_dir(self.path, "topic", topic)

    def _exists(self) -> bool:
        if not os.path.isdir(self.path):
            return False
        for root, _dirs, files in os.walk(self.path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def save_events(self, events: Sequence[Row] | DataFrame) -> int:
        if isinstance(events, DataFrame):
            n = events.count()
            events.write.mode("append").partitionBy("topic").parquet(self.path)
            return n
        return append_rows(self.path, events, EVENT_SCHEMA, partition="topic")

    def save_event(self, event: Row) -> None:
        self.save_events([event])

    def to_df(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], schema=EVENT_SCHEMA)
        # partitioned reads append the partition column last; re-select
        # to the canonical field order so collected Rows align with
        # EVENT_SCHEMA everywhere downstream (DLQ nesting relies on it)
        return (
            self.spark.read.schema(EVENT_SCHEMA)
            .option("basePath", self.path)
            .parquet(self.path)
            .select(*EVENT_SCHEMA.fieldNames())
        )

    def get_events(self, topic: str, **kwargs) -> DataFrame:
        return _get_events_df(
            self.to_df(), topic=topic, ts_col="timestamp", type_col="type",
            tiebreak_col="id", **kwargs,
        )

    def stream_topic(self, topic: str) -> DataFrame:
        """Streaming read of one topic, in EVENT_SCHEMA order. It
        watches the topic's own directory (created if absent) and adds
        ``topic`` back as a literal: a file source over the whole table
        started before the topic's first write has no ``topic``
        partition column, and its first batch then fails plan
        validation; it would also list every other topic's files."""
        part_dir = self.partition_dir(topic)
        os.makedirs(part_dir, exist_ok=True)
        return (
            self.spark.readStream.schema(_FILE_SCHEMA)
            .parquet(part_dir)
            .withColumn("topic", F.lit(topic))
            .select(*EVENT_SCHEMA.fieldNames())
        )

    def compact(self, topic: str, target_files: int = 1) -> int:
        """Rewrite a topic partition into ``target_files`` files.

        Every append writes one file per topic it touches, so
        high-frequency single-event publishes accumulate one file per
        event — the same small-files pathology as the reference's
        one-JSON-per-event store (src/persistence.ts:141-145), which
        at 100 TB destroys scan throughput (footer reads dominate).
        Run periodically alongside retention. Returns files removed."""
        part_dir = self.partition_dir(topic)
        if not os.path.isdir(part_dir):
            return 0
        before = sum(
            1 for f in os.listdir(part_dir) if f.endswith(".parquet")
        )
        if before <= target_files:
            return 0
        full = self.to_df().where(F.col("topic") == topic)
        tmp = part_dir + ".tmp"
        full.drop("topic").coalesce(target_files).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(part_dir)
        os.rename(tmp, part_dir)
        after = sum(1 for f in os.listdir(part_dir) if f.endswith(".parquet"))
        return before - after

    def delete_topic(self, topic: str) -> int:
        """Drop a topic's whole partition directory — O(1) metadata
        delete, no scan of other topics (reference src/broker.ts:55-57
        only forgets the Topic object; dropping its stored rows is the
        documented upgrade)."""
        part_dir = self.partition_dir(topic)
        if not os.path.isdir(part_dir):
            return 0
        n = self.to_df().where(F.col("topic") == topic).count()
        shutil.rmtree(part_dir)
        return n

    def delete_matching(self, topic: str, predicate) -> int:
        """Erase rows of a topic matching a Column predicate —
        partition-local rewrite (_erase_matching_parquet)."""
        return _erase_matching_parquet(self, topic, predicate)

    def delete_events(self, topic: str, before_ts) -> int:
        """Retention: rewrite only the affected topic partition."""
        part_dir = self.partition_dir(topic)
        if not os.path.isdir(part_dir):
            return 0
        full = self.to_df().where(F.col("topic") == topic).cache()
        try:
            total = full.count()
            keep = full.where(~(F.col("timestamp") < F.lit(before_ts)))
            kept = keep.count()
            tmp = part_dir + ".tmp"
            keep.drop("topic").write.mode("overwrite").parquet(tmp)
            shutil.rmtree(part_dir)
            os.rename(tmp, part_dir)
            return total - kept
        finally:
            full.unpersist()


def _erase_matching_parquet(store: "ParquetEventStore", topic: str,
                            predicate) -> int:
    """Partition-local erase: rewrite one topic partition keeping rows
    NOT matching ``predicate`` (a Column over the event schema). The
    GDPR/right-to-erasure primitive — same rewrite shape as retention
    delete_events, arbitrary predicate."""
    part_dir = store.partition_dir(topic)
    if not os.path.isdir(part_dir):
        return 0
    full = store.to_df().where(F.col("topic") == topic).cache()
    try:
        total = full.count()
        # NULL-predicate rows (e.g. payloads lacking the probed JSON
        # field) must be KEPT: where(~NULL) would silently drop them —
        # the one data-loss trap a generic erase primitive must close
        keep = full.where(~F.coalesce(predicate, F.lit(False)))
        kept = keep.count()
        if kept == total:
            return 0
        tmp = part_dir + ".tmp"
        keep.drop("topic").write.mode("overwrite").parquet(tmp)
        shutil.rmtree(part_dir)
        os.rename(tmp, part_dir)
        return total - kept
    finally:
        full.unpersist()
