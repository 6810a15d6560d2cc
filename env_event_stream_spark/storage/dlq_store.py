"""Dead-letter queues (reference src/deadletter.ts).

Entry shape (reference src/types.ts:151-176; FIXTURES.md §A2):
``event STRUCT<...>, error STRING, subscription STRING,
timestamp TIMESTAMP, attempts INT``.

Semantics ported:
- ``add_event``    — append failed event (attempts starts at 1,
  reference src/deadletter.ts:19-34).
- ``get_events``   — filter topic/type, ORDER BY timestamp DESC, LIMIT
  (src/deadletter.ts:39-72).
- ``retry_event``  — re-run handler; success removes the entry, failure
  increments ``attempts`` and records the new error
  (src/deadletter.ts:78-103). The Postgres backend's
  ``ON CONFLICT ... attempts+1`` upsert (src/deadletter.ts:320-327)
  becomes a keyed overwrite here.
- ``remove_event`` — delete by event id (src/deadletter.ts:108-112).
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from env_event_stream_spark.storage.event_store import EVENT_SCHEMA
from env_event_stream_spark.storage.parquet_rows import append_rows

DLQ_SCHEMA = T.StructType(
    [
        T.StructField("event", EVENT_SCHEMA, False),
        T.StructField("error", T.StringType(), True),
        T.StructField("subscription", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("attempts", T.IntegerType(), False),
    ]
)

__all__ = ["DLQ_SCHEMA", "InMemoryDeadLetterQueue", "ParquetDeadLetterQueue"]


def _now() -> _dt.datetime:
    return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)


def _event_tuple(event: Row) -> tuple:
    """Normalize an event Row to EVENT_SCHEMA field order by NAME —
    rows collected from partitioned reads can carry a different
    positional order (partition column last)."""
    return tuple(event[f] for f in EVENT_SCHEMA.fieldNames())


def _filter_sort_limit(
    df: DataFrame,
    topic: str | None,
    event_type: str | None,
    limit: int | None,
) -> DataFrame:
    if topic is not None:
        df = df.where(F.col("event.topic") == topic)
    if event_type is not None:
        df = df.where(F.col("event.type") == event_type)
    df = df.orderBy(F.col("timestamp").desc(), F.col("event.id").desc())
    # limit <= 0 = no limit (reference src/deadletter.ts:66 is an
    # explicit `options.limit > 0` guard)
    if limit is not None and limit > 0:
        df = df.limit(limit)
    return df


class InMemoryDeadLetterQueue:
    """In-memory backend (reference src/deadletter.ts:13-113): a dict
    keyed by event.id, exactly the reference's ``Map`` (:14) — keyed
    upsert on add, O(1) retry/remove, insertion order preserved
    (Python dicts and JS Maps both keep first-insertion position on
    re-set)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._entries: dict[str, dict[str, Any]] = {}

    def add_event(self, event: Row, error: str, subscription: str) -> None:
        """Keyed UPSERT, not append (src/deadletter.ts:25-31) —
        re-adding the same event REPLACES the existing entry
        (attempts reset to 1, fresh error/timestamp)."""
        self._entries[event.id] = {
            "event": event,
            "error": error,
            "subscription": subscription,
            "timestamp": _now(),
            "attempts": 1,
        }

    def to_df(self) -> DataFrame:
        rows = [
            (
                _event_tuple(r["event"]),
                r["error"],
                r["subscription"],
                r["timestamp"],
                r["attempts"],
            )
            for r in self._entries.values()
        ]
        return self.spark.createDataFrame(rows or [], schema=DLQ_SCHEMA)

    def get_events(
        self,
        topic: str | None = None,
        event_type: str | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        return _filter_sort_limit(self.to_df(), topic, event_type, limit)

    def size(self) -> int:
        return len(self._entries)

    def retry_event(self, event_id: str, handler: Callable[[Row], Any]) -> bool:
        """Re-deliver; delete on success, failure increments
        ``attempts`` and refreshes ``timestamp`` (reference
        src/deadletter.ts:78-103). The reference's callback contract
        is boolean: an explicit ``False`` return is a SOFT failure
        (error text unchanged, src/deadletter.ts:92-96); a raised
        exception is a HARD failure that also replaces the error
        message (:97-102). A None-returning handler that doesn't
        raise counts as success."""
        r = self._entries.get(event_id)
        if r is None:
            return False
        try:
            ok = handler(r["event"])
        except Exception as exc:  # hard failure: new error
            r["attempts"] += 1
            r["error"] = str(exc)
            r["timestamp"] = _now()
            return False
        if ok is False:  # soft failure: error unchanged
            r["attempts"] += 1
            r["timestamp"] = _now()
            return False
        # delete by id, as the reference does (entries.delete after the
        # callback) — if the handler re-dead-lettered the event, that
        # fresh entry is removed too
        self._entries.pop(event_id, None)
        return True

    def remove_event(self, event_id: str) -> bool:
        return self._entries.pop(event_id, None) is not None

    def delete_topic(self, topic: str) -> int:
        """Drop all dead letters for a topic (broker deleteTopic)."""
        doomed = [
            k for k, r in self._entries.items() if r["event"].topic == topic
        ]
        for k in doomed:
            del self._entries[k]
        return len(doomed)


class ParquetDeadLetterQueue:
    """Durable DLQ on parquet. At scale this is an append-only table
    compacted by a MERGE-style rewrite keyed on ``event.id`` — we keep
    the latest attempt per id (the upsert of the Postgres backend,
    reference src/deadletter.ts:320-327) by versioning rows and taking
    max(attempts) per id at read time, with an explicit ``compact()``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        if not os.path.isdir(self.path):
            return False
        for _root, _dirs, files in os.walk(self.path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def _append(self, rows: list[tuple]) -> None:
        """Append entry versions as one parquet file, written from the
        driver (``append_rows``: checked like ``createDataFrame``, no
        Spark job) — dead letters are driver-held rows by
        construction."""
        append_rows(self.path, rows, DLQ_SCHEMA)

    def add_event(self, event: Row, error: str, subscription: str) -> None:
        self.add_events([(event, error, subscription)])

    def add_events(self, triples: list[tuple[Row, str, str]]) -> None:
        self._append(
            [
                (_event_tuple(e), err, sub, _now(), 1)
                for (e, err, sub) in triples
            ]
        )

    def _raw(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], schema=DLQ_SCHEMA)
        return self.spark.read.schema(DLQ_SCHEMA).parquet(self.path)

    def to_df(self) -> DataFrame:
        """Latest row per event id (append-log → current state).
        row_number over (id ORDER BY timestamp DESC) = last-write-wins,
        i.e. the reference's Map.set / ON CONFLICT upsert
        (src/deadletter.ts:25-31, :320-327): a fresh add_event after
        earlier retry failures RESETS the visible entry (attempts=1),
        exactly as Map.set replaces. attempts DESC is only the
        tie-break for same-timestamp retry appends."""
        from pyspark.sql import Window as W

        w = W.partitionBy("event.id").orderBy(
            F.col("timestamp").desc(), F.col("attempts").desc()
        )
        return (
            self._raw()
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def get_events(
        self,
        topic: str | None = None,
        event_type: str | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        return _filter_sort_limit(self.to_df(), topic, event_type, limit)

    def retry_event(self, event_id: str, handler: Callable[[Row], Any]) -> bool:
        """Boolean callback contract as the in-memory twin: ``False``
        return = soft failure (attempts+1, error text kept), raise =
        hard failure (attempts+1, error replaced); both refresh the
        timestamp via the versioned append (reference
        src/deadletter.ts:78-103)."""
        cur = self.to_df().where(F.col("event.id") == event_id).collect()
        if not cur:
            return False
        entry = cur[0]
        try:
            ok = handler(entry.event)
        except Exception as exc:
            self._append(
                [
                    (
                        _event_tuple(entry.event),
                        str(exc),
                        entry.subscription,
                        _now(),
                        entry.attempts + 1,
                    )
                ]
            )
            return False
        if ok is False:
            self._append(
                [
                    (
                        _event_tuple(entry.event),
                        entry.error,
                        entry.subscription,
                        _now(),
                        entry.attempts + 1,
                    )
                ]
            )
            return False
        self.remove_event(event_id)
        return True

    def remove_event(self, event_id: str) -> bool:
        cur = self.to_df()
        if cur.where(F.col("event.id") == event_id).limit(1).count() == 0:
            return False
        self._rewrite(cur.where(F.col("event.id") != event_id))
        return True

    def delete_topic(self, topic: str) -> int:
        """Drop all dead letters for a topic (broker deleteTopic)."""
        cur = self.to_df().cache()
        try:
            n = cur.where(F.col("event.topic") == topic).count()
            if n:
                self._rewrite(cur.where(F.col("event.topic") != topic))
            return n
        finally:
            cur.unpersist()

    def compact(self) -> None:
        """Collapse the append log to current state (VACUUM analog)."""
        self._rewrite(self.to_df())

    def _rewrite(self, df: DataFrame) -> None:
        tmp = self.path + ".tmp"
        df.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(self.path):
            shutil.rmtree(self.path)
        os.rename(tmp, self.path)
