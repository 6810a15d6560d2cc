"""EventBroker: topics, publish, subscribe, replay, DLQ redrive,
retention — the reference's public API (src/broker.ts) on Spark.

Semantics ported 1:1 (and documented divergences):
- publish constructs the Event (generated id, now() ts, schemaVersion
  "1.0" — src/broker.ts:100-108), validates against the topic's
  schema registry (failure → {success: False, error},
  src/broker.ts:117-124), persists BEFORE fan-out (store is the
  source of truth, src/topic.ts:113-143), then delivers to matching
  subscriptions; per-subscription failures are isolated.
- subscription delivery: active gate → type filter → handler with
  retry (max_retries, retry_delay) → dead-letter on final failure
  (src/subscription.ts:78-107).
- paused subscriptions DROP events (src/subscription.ts:79-81) in
  direct mode; streaming mode upgrades to stop/restart-from-
  checkpoint (no loss) — both offered, per SURVEY.md T8.
- retention: delete events older than retention_period; maxEvents is
  declared-but-dead in the reference (SURVEY.md T7) — here
  ``max_events`` is ENFORCED as count-based retention (upgrade).

Scale: publish batches (``publish_many``) append columnar; per-event
python handlers exist for parity but the scale path is
``subscribe_streaming`` + a vectorized batch handler (DataFrame in,
no row loop).
"""

from __future__ import annotations

import datetime as _dt
import json
import threading
import time
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from env_event_stream_spark.schema_registry import SchemaRegistry
from env_event_stream_spark.storage.dlq_store import InMemoryDeadLetterQueue
from env_event_stream_spark.storage.event_store import (
    InMemoryEventStore,
    ParquetEventStore,
    make_event,
)

EventHandler = Callable[[Row], None]

__all__ = [
    "PublishResult",
    "SubscriptionOptions",
    "EventBroker",
    "default_broker",
]


@dataclass
class PublishResult:
    """src/types.ts:126-146."""

    success: bool
    event_id: str | None = None
    receiver_count: int = 0
    error: str | None = None


@dataclass
class SubscriptionOptions:
    """src/types.ts:51-70 + subscription defaults src/subscription.ts:26-30."""

    name: str | None = None
    event_types: Sequence[str] | None = None
    max_retries: int = 3
    retry_delay: float = 1.0
    receive_historical: bool = False


@dataclass
class _Subscription:
    id: str
    topic: str
    handler: EventHandler
    options: SubscriptionOptions
    active: bool = True
    query: Any = None  # StreamingQuery when in streaming mode
    restart: Any = None  # zero-arg () -> StreamingQuery for streaming subs

    def matches(self, event_type: str) -> bool:
        types = self.options.event_types
        return not types or event_type in types


@dataclass
class _TopicMeta:
    """src/topic.ts:30-35 defaults."""

    name: str
    persistent: bool = True
    retention_period: float | None = None  # seconds; None or <= 0 = keep forever (ts:31,40)
    max_events: int | None = None
    registry: SchemaRegistry | None = None


class EventBroker:
    """Topic hub (src/broker.ts:19-27). ``path=None`` uses the
    in-memory store (unit tests); a path makes parquet the system of
    record and enables streaming subscriptions."""

    def __init__(self, spark: SparkSession, path: str | None = None):
        self.spark = spark
        self.path = path
        if path is None:
            self.store = InMemoryEventStore(spark)
            self.dlq = InMemoryDeadLetterQueue(spark)
        else:
            self.store = ParquetEventStore(spark, f"{path}/events")
            self.store.initialize()
            from env_event_stream_spark.storage.dlq_store import (
                ParquetDeadLetterQueue,
            )

            self.dlq = ParquetDeadLetterQueue(spark, f"{path}/dlq")
        self.topics: dict[str, _TopicMeta] = {}
        self.subscriptions: dict[str, _Subscription] = {}

    # -- topics ------------------------------------------------------------

    def create_topic(
        self,
        name: str,
        *,
        persistent: bool = True,
        retention_period: float | None = None,
        max_events: int | None = None,
        registry: SchemaRegistry | None = None,
    ) -> _TopicMeta:
        """Explicit create (auto-create on publish/subscribe mirrors
        src/broker.ts:94-98). Creating an EXISTING topic returns it
        UNCHANGED (src/broker.ts:32-35) — a second create_topic with
        different options must not silently reset the registry,
        retention, or persistence of a live topic."""
        if name in self.topics:
            return self.topics[name]
        meta = _TopicMeta(name, persistent, retention_period, max_events, registry)
        self.topics[name] = meta
        return meta

    def _topic(self, name: str) -> _TopicMeta:
        if name not in self.topics:
            self.create_topic(name)
        return self.topics[name]

    def list_topics(self) -> list[str]:
        return sorted(self.topics)

    def get_topic(self, name: str) -> _TopicMeta | None:
        """src/broker.ts:48-50 — metadata lookup, no auto-create."""
        return self.topics.get(name)

    def delete_topic(self, name: str) -> bool:
        """src/broker.ts:55-57. The reference only forgets the Topic
        object; here delete also drops the topic's stored events, its
        DLQ entries, and its subscriptions (documented upgrade — a
        deleted topic should not leave orphaned data)."""
        if name not in self.topics:
            return False
        for sub_id in [
            sid for sid, s in self.subscriptions.items() if s.topic == name
        ]:
            self.unsubscribe(sub_id)
        self.store.delete_topic(name)
        self.dlq.delete_topic(name)
        del self.topics[name]
        return True

    # -- publish -----------------------------------------------------------

    def publish(
        self,
        topic: str,
        event_type: str,
        payload: Any = None,
        metadata: dict[str, str] | None = None,
    ) -> PublishResult:
        """src/broker.ts:88-125. Payload may be any JSON-serializable
        value; stored as a JSON string (schema-on-read, SURVEY §1.4)."""
        meta = self._topic(topic)
        payload_json = None if payload is None else json.dumps(payload)
        event = make_event(topic, event_type, payload_json, metadata)

        if meta.registry is not None:
            err = self._validate(meta.registry, event_type, payload_json)
            if err:
                return PublishResult(success=False, error=err)

        if meta.persistent:
            self.store.save_event(event)  # persist BEFORE fan-out

        receivers = 0
        for sub in list(self.subscriptions.values()):
            if sub.topic != topic or sub.query is not None:
                continue  # streaming subs consume from the table
            if not sub.matches(event_type):
                continue
            receivers += 1
            self._deliver(sub, event)  # failures isolated (topic.ts:133-139)
        return PublishResult(True, event.id, receivers)

    def publish_many(
        self, topic: str, events: Sequence[tuple[str, Any, dict | None]]
    ) -> int:
        """Batch publish — ONE columnar append for the whole batch
        (the reference loops saveEvent per event; this is the scale
        path). Direct-mode fan-out still per event."""
        meta = self._topic(topic)
        rows = [
            make_event(topic, t, None if p is None else json.dumps(p), m)
            for (t, p, m) in events
        ]
        if meta.persistent:
            self.store.save_events(rows)
        for r in rows:
            for sub in list(self.subscriptions.values()):
                if (
                    sub.topic == topic
                    and sub.query is None
                    and sub.matches(r.type)
                ):
                    self._deliver(sub, r)
        return len(rows)

    def _validate(
        self, registry: SchemaRegistry, event_type: str, payload_json: str | None
    ) -> str | None:
        """Publish-time validation. Driver-side single-row check using
        the same StructType the ingest path uses; returns an error
        string on failure (broker returns success:false,
        src/broker.ts:117-124)."""
        entry = registry.get(event_type)
        if entry is None:
            return None
        if payload_json is None:
            return f"payload required for schema-validated type '{event_type}'"
        try:
            obj = json.loads(payload_json)
        except (TypeError, ValueError) as exc:
            return f"invalid JSON payload: {exc}"
        return self._check(obj, entry.schema, path="$")

    def _check(self, obj: Any, schema: dict, path: str) -> str | None:
        jtype = schema.get("type")
        checkers = {
            "string": lambda o: isinstance(o, str),
            "number": lambda o: isinstance(o, (int, float)) and not isinstance(o, bool),
            "integer": lambda o: isinstance(o, int) and not isinstance(o, bool),
            "boolean": lambda o: isinstance(o, bool),
            "array": lambda o: isinstance(o, list),
            "object": lambda o: isinstance(o, dict),
            "null": lambda o: o is None,
        }
        if jtype in checkers and not checkers[jtype](obj):
            return f"{path}: expected {jtype}"
        if jtype == "object" or "properties" in schema:
            for req in schema.get("required", []):
                if not isinstance(obj, dict) or req not in obj:
                    return f"{path}.{req}: required property missing"
            for name, sub in schema.get("properties", {}).items():
                if isinstance(obj, dict) and name in obj:
                    err = self._check(obj[name], sub, f"{path}.{name}")
                    if err:
                        return err
        if jtype == "array" and "items" in schema:
            for i, item in enumerate(obj):
                err = self._check(item, schema["items"], f"{path}[{i}]")
                if err:
                    return err
        return None

    # -- delivery (direct mode) --------------------------------------------

    def _deliver(self, sub: _Subscription, event: Row) -> None:
        """src/subscription.ts:78-107: active gate → type filter →
        handler → retry with fixed delay → DLQ on final failure.
        Exactly max_retries total attempts. Divergence: the reference's
        ``maxRetries || 3`` treats 0 as 3 (JS falsy); here 0 means one
        attempt then straight to DLQ."""
        if not sub.active:
            return  # paused = dropped (T8 faithful mode)
        if not sub.matches(event.type):
            return
        attempts = 0
        while True:
            try:
                sub.handler(event)
                return
            except Exception as exc:
                attempts += 1
                # exactly max_retries TOTAL attempts, matching the
                # reference (src/subscription.ts:95: retry while
                # attempt < maxRetries, first call is attempt 1)
                if attempts >= sub.options.max_retries:
                    self.dlq.add_event(event, str(exc), sub.id)
                    return
                if sub.options.retry_delay > 0:
                    time.sleep(sub.options.retry_delay)

    # -- subscribe ---------------------------------------------------------

    def subscribe(
        self,
        topic: str,
        handler: EventHandler,
        options: SubscriptionOptions | None = None,
    ) -> str:
        """Direct-mode subscription (reference semantics). Named
        subscriptions are the durable identity DLQ redrive keys on
        (src/broker.ts:173-177)."""
        options = options or SubscriptionOptions()
        self._topic(topic)
        sub_id = options.name or f"sub-{uuid.uuid4().hex[:8]}"
        sub = _Subscription(sub_id, topic, handler, options)
        self.subscriptions[sub_id] = sub
        if options.receive_historical:
            # backlog delivery (src/topic.ts:71-86): type-filtered, not
            # time-filtered. Table-backed: no backlog/live race.
            for row in self.store.get_events(
                topic, event_types=options.event_types
            ).collect():
                self._deliver(sub, row)
        return sub_id

    def subscribe_streaming(
        self,
        topic: str,
        batch_handler: Callable[[DataFrame, int], None] | None = None,
        options: SubscriptionOptions | None = None,
        *,
        checkpoint: str,
        handler: EventHandler | None = None,
        trigger_once: bool = True,
    ) -> str:
        """Streaming subscription: a checkpointed StreamingQuery over
        the events table (backlog + live unified — upgrade over the
        reference's racy catch-up, SURVEY §3.2).

        ``batch_handler(df, epoch)`` is the scale path (vectorized).
        ``handler`` wraps per-row parity semantics (retry→DLQ) around
        each micro-batch. Pause/resume = stop()/restart from the same
        checkpoint (no loss; T8 upgrade mode)."""
        if self.path is None:
            raise ValueError("streaming subscriptions need a parquet-backed broker")
        options = options or SubscriptionOptions()
        sub_id = options.name or f"sub-{uuid.uuid4().hex[:8]}"
        sub = _Subscription(sub_id, topic, handler or (lambda r: None), options)

        def process(df: DataFrame, epoch_id: int) -> None:
            if batch_handler is not None:
                batch_handler(df, epoch_id)
            if handler is not None:
                for row in df.collect():
                    self._deliver(sub, row)

        def _start():
            # build a FRESH plan per (re)start — reusing one streaming
            # DataFrame across runs trips PLAN_VALIDATION_FAILED
            stream = self.store.stream_topic(topic)
            if options.event_types:
                stream = stream.where(
                    F.col("type").isin(list(options.event_types))
                )
            writer = (
                stream.writeStream.foreachBatch(process)
                .queryName(sub_id)
                .option("checkpointLocation", checkpoint)
            )
            if trigger_once:
                writer = writer.trigger(availableNow=True)
            return writer.start()

        sub.restart = _start
        sub.query = _start()
        self.subscriptions[sub_id] = sub
        return sub_id

    def unsubscribe(self, sub_id: str) -> bool:
        sub = self.subscriptions.pop(sub_id, None)
        if sub is None:
            return False
        if sub.query is not None:
            sub.query.stop()
        return True

    def pause(self, sub_id: str) -> None:
        """Direct mode: events during pause are DROPPED (faithful,
        src/subscription.ts:79-81). Streaming mode: query stopped;
        restart resumes from checkpoint (documented upgrade)."""
        sub = self.subscriptions[sub_id]
        sub.active = False
        if sub.query is not None:
            sub.query.stop()

    def resume(self, sub_id: str) -> None:
        """Direct mode: future events delivered again. Streaming mode:
        RESTART the query from its checkpoint (pause() stopped it) —
        without this the subscription would silently never consume
        again despite the documented stop/restart semantics."""
        sub = self.subscriptions[sub_id]
        sub.active = True
        if sub.restart is not None and (
            sub.query is None or not sub.query.isActive
        ):
            sub.query = sub.restart()

    # -- replay / DLQ / retention ------------------------------------------

    def replay_events(
        self,
        topic: str,
        handler: EventHandler,
        *,
        from_ts=None,
        to_ts=None,
        event_types: Sequence[str] | None = None,
        limit: int | None = None,
    ) -> int:
        """Bounded batch re-drive (src/broker.ts:144-161). Iterates
        with toLocalIterator — bounded driver memory even for large
        replays."""
        df = self.store.get_events(
            topic,
            from_ts=from_ts,
            to_ts=to_ts,
            event_types=event_types,
            limit=limit,
        )
        n = 0
        for row in df.toLocalIterator():
            handler(row)
            n += 1
        return n

    def retry_dlq_event(self, event_id: str) -> bool:
        """Manual redrive (src/broker.ts:166-183): find the stored
        entry, re-deliver through the SAME gating as live delivery
        (the reference routes redrive through subscription.deliver,
        src/broker.ts:178 → src/subscription.ts:78-107) — a paused or
        type-filtered subscription is a gated NO-OP that still counts
        as success (deliver() returns without calling the handler, so
        the callback resolves true and the entry is removed). A
        missing topic (src/broker.ts:168-171) or missing subscription
        (src/broker.ts:173-177) RAISES inside the retry callback — the
        DLQ records it as a hard failure (error replaced, attempts+1),
        not a silent no-op.

        Documented divergence (MIGRATION.md): when the handler ITSELF
        still fails, the reference's deliver() swallows the error,
        re-adds a FRESH dead letter (attempts reset to 1), and the
        success branch then deletes that fresh entry by id — a
        still-failing event silently VANISHES from the reference DLQ.
        We treat a handler raise during redrive as a recorded hard
        failure instead (attempts+1, error replaced, entry kept):
        strictly more conservative, no silent data loss."""
        entries = self.dlq.get_events().where(
            F.col("event.id") == event_id
        ).collect()
        if not entries:
            return False
        sub_id = entries[0].subscription

        def _redeliver(event) -> bool:
            if event.topic not in self.topics:
                raise RuntimeError(
                    f"Topic {event.topic} not found for retry of "
                    f"event {event_id}"
                )
            sub = self.subscriptions.get(sub_id)
            if sub is None:
                raise RuntimeError(
                    f"Subscription {sub_id} not found for retry of "
                    f"event {event_id}"
                )
            # deliver()'s gates (src/subscription.ts:79-89): inactive
            # or type-filtered = no-op, resolves as success.
            if not sub.active or not sub.matches(event.type):
                return True
            sub.handler(event)
            return True

        return self.dlq.retry_event(event_id, _redeliver)

    def forget_subject(self, field: str, value) -> dict:
        """Right to erasure (GDPR Art. 17) — the operational primitive
        an event-sourced system must add on top of retention: erase
        every event whose JSON payload has ``field == value`` from ALL
        topics and the DLQ, without touching anyone else's history
        (the reference has no analog; contract-side completeness for
        running the engine on user data). Event-store removal is a
        partition-local rewrite per affected topic (delete_matching);
        DLQ removal goes through the backend's per-id remove (DLQs
        are small by construction — they hold failures). Snapshot
        tables must be filtered by the caller
        (sourcing.forget_key_in_snapshot): they hold FOLDED per-
        subject state, so erasing history alone leaves a derived
        copy. Returns per-surface removal counts."""
        if value is None:
            # eqNullSafe(NULL) would be TRUE for every event that
            # merely LACKS the field — a mass erase. A null subject id
            # is always a caller bug; fail loudly.
            raise ValueError("forget_subject: subject value must not be None")
        pred = F.get_json_object(
            F.col("payload"), f"$.{field}"
        ).eqNullSafe(F.lit(value).cast("string"))
        removed_events = 0
        for name in self.list_topics():
            removed_events += self.store.delete_matching(name, pred)
        doomed = [
            r.id
            for r in self.dlq.to_df()
            .where(
                F.get_json_object(F.col("event.payload"), f"$.{field}")
                == F.lit(value).cast("string")
            )
            .select(F.col("event.id").alias("id"))
            .collect()
        ]
        removed_dlq = sum(1 for i in doomed if self.dlq.remove_event(i))
        return {"events": removed_events, "dlq": removed_dlq}

    def apply_retention(self, topic: str, *, now: _dt.datetime | None = None) -> int:
        """Time + count retention sweep (reference runs a 60 s timer,
        src/topic.ts:39-42; here it's an explicit job — schedule it
        externally). Returns rows deleted.

        ``retention_period=0`` (or negative) means KEEP FOREVER, not
        "older than now": the reference's own default is
        ``retentionPeriod: 0`` and BOTH its guards are strictly
        ``> 0`` (src/topic.ts:31-32,40,157-160) — a port passing the
        reference's default through must not mass-delete the topic."""
        meta = self._topic(topic)
        deleted = 0
        if meta.retention_period is not None and meta.retention_period > 0:
            now = now or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
            cutoff = now - _dt.timedelta(seconds=meta.retention_period)
            deleted += self.store.delete_events(topic, cutoff)
        # same falsy contract as retention_period and the stores'
        # limit: max_events <= 0 means the count cap is DISABLED
        # (enforcing a literal 0 would delete everything but the
        # newest row — the mass-deletion class of bug again)
        if meta.max_events is not None and meta.max_events > 0:
            deleted += self._enforce_max_events(meta)
        return deleted

    def _enforce_max_events(self, meta: _TopicMeta) -> int:
        """Count-based retention: keep the newest max_events rows.
        (maxEvents is declared but never enforced in the reference —
        SURVEY.md T7; enforcing it is a documented upgrade.)"""
        df = self.store.get_events(meta.name)
        total = df.count()
        overflow = total - meta.max_events
        if overflow <= 0:
            return 0
        # cutoff = timestamp of the (overflow+1)-th oldest row, computed
        # distributed: TakeOrdered(overflow+1) then re-sort the bounded
        # set descending and take 1 — exactly ONE row reaches the
        # driver, never O(overflow) (a 100M-row overflow would
        # otherwise collect 100M rows).
        cutoff_row = (
            df.orderBy(F.col("timestamp").asc(), F.col("id").asc())
            .limit(overflow + 1)
            .orderBy(F.col("timestamp").desc(), F.col("id").desc())
            .limit(1)
            .collect()[0]
        )
        return self.store.delete_events(meta.name, cutoff_row.timestamp)


# -- module-level default broker (mod.ts export parity) --------------------

_default_broker: EventBroker | None = None
_default_broker_lock = threading.Lock()


def _session_stopped(spark: SparkSession) -> bool:
    """True when the session's SparkContext is gone — a broker bound
    to it can only raise. Internal-API probe, so any failure reads as
    stopped (recreating on a live session is harmless; returning a
    dead broker is not)."""
    try:
        return spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return True


def default_broker(spark: SparkSession) -> EventBroker:
    """The reference's module-level singleton (src/broker.ts:187:
    ``export const defaultBroker = new EventBroker()``), lazified:
    Python can't construct one at import time because a broker needs
    a SparkSession. The first call creates it (in-memory store + DLQ,
    exactly the reference's no-arg constructor); every later call
    returns the SAME instance — per-process, like the reference's
    module scope. Two departures the JVM lifecycle forces: creation
    is lock-guarded (a module ``const`` can't race; a lazy factory
    can), and a singleton bound to a STOPPED session is replaced with
    one bound to the caller's live session instead of handing back a
    broker whose every call raises 'SparkContext was shut down'
    (the in-memory state of the dead instance is unrecoverable
    either way — its rows lived in that context's process state)."""
    global _default_broker
    with _default_broker_lock:
        if _default_broker is None or _session_stopped(_default_broker.spark):
            _default_broker = EventBroker(spark)
        return _default_broker
