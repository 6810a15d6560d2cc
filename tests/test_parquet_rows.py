"""Driver-side row appends (storage.parquet_rows): the files they write
read back exactly as Spark's own writer's do, partition directories
are named as Spark names them, and publishing runs no Spark job."""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid

import pytest

from pyspark.errors import PySparkValueError
from pyspark.sql import functions as F

from env_event_stream_spark.storage import (
    DLQ_SCHEMA,
    EVENT_SCHEMA,
    ParquetEventStore,
    append_rows,
)
from env_event_stream_spark.storage.dlq_store import _event_tuple
from env_event_stream_spark.storage.event_store import make_event
from env_event_stream_spark.storage.parquet_rows import escape_path_name
from env_event_stream_spark.streaming import EventBroker, SubscriptionOptions

T0 = dt.datetime(2024, 3, 1, 12, 0, 0, 123456)  # naive = UTC

ESCAPED_TOPICS = ["a/b", "x:y", "k=v", "50%", "aggregate.order.o-1"]


def _events() -> list:
    return [
        make_event("t", "a", None, None, timestamp=T0, event_id="e0"),
        make_event("t", "b", json.dumps({"x": 1}), {"k": "v", "none": None},
                   timestamp=T0 + dt.timedelta(seconds=1), event_id="e1"),
        make_event("u", "c", json.dumps("s"), {},
                   timestamp=T0 + dt.timedelta(minutes=5), event_id="e2",
                   schema_version=None),
    ]


def _dlq_entries() -> list[tuple]:
    return [
        (_event_tuple(e), err, "sub-1", e.timestamp + dt.timedelta(seconds=9), n)
        for e, err, n in zip(_events(), ["boom", None, "again"], [1, 2, 3])
    ]


def _parquet_files(path) -> list[str]:
    return [f for _r, _d, files in os.walk(path) for f in files if f.endswith(".parquet")]


def test_escape_path_name_matches_spark(spark):
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    sample = "".join(map(chr, range(1, 256))) + "中\U0001f600"
    assert escape_path_name(sample) == utils.escapePathName(sample)


def test_event_rows_read_back_like_dataframe_writes(spark, tmp_path):
    via_df = ParquetEventStore(spark, str(tmp_path / "df"))
    via_rows = ParquetEventStore(spark, str(tmp_path / "rows"))
    assert via_df.save_events(spark.createDataFrame(_events(), EVENT_SCHEMA)) == 3
    assert via_rows.save_events(_events()) == 3

    want = sorted(via_df.to_df().collect(), key=lambda r: r.id)
    got = sorted(via_rows.to_df().collect(), key=lambda r: r.id)
    assert got == want
    assert [r.timestamp for r in got] == [e.timestamp for e in _events()]
    assert got[1].metadata == {"k": "v", "none": None}
    assert got[0].payload is None and got[0].metadata is None

    lo, hi = T0 + dt.timedelta(microseconds=1), T0 + dt.timedelta(minutes=5)
    for store in (via_df, via_rows):
        in_range = store.to_df().where(
            (F.col("timestamp") >= F.lit(lo)) & (F.col("timestamp") <= F.lit(hi))
        )
        assert in_range.count() == 2
    # one file per topic per append
    assert len(_parquet_files(via_rows.path)) == 2


def test_dlq_rows_read_back_like_dataframe_writes(spark, tmp_path):
    spark.createDataFrame(_dlq_entries(), DLQ_SCHEMA).write.parquet(str(tmp_path / "df"))
    assert append_rows(str(tmp_path / "rows"), _dlq_entries(), DLQ_SCHEMA) == 3

    def read(name):
        df = spark.read.schema(DLQ_SCHEMA).parquet(str(tmp_path / name))
        return df, sorted(df.collect(), key=lambda r: r.event.id)

    (df_a, want), (df_b, got) = read("df"), read("rows")
    assert got == want
    assert got[1].event.metadata == {"k": "v", "none": None} and got[1].error is None
    cut = F.col("event.timestamp") < F.lit(T0 + dt.timedelta(minutes=1))
    assert df_a.where(cut).count() == df_b.where(cut).count() == 2


def test_null_in_required_field_raises_before_any_file(spark, tmp_path):
    good = make_event("t", "a", timestamp=T0, event_id="ok")
    bad = (None, "a", "u", T0, "1.0", None, None)  # no id; another topic
    path = tmp_path / "events"
    with pytest.raises(PySparkValueError) as from_df:
        spark.createDataFrame([good, bad], EVENT_SCHEMA)
    with pytest.raises(PySparkValueError) as from_rows:
        append_rows(str(path), [good, bad], EVENT_SCHEMA, partition="topic")
    assert from_rows.value.getCondition() == from_df.value.getCondition()
    assert not path.exists() or not _parquet_files(path)


def test_topics_needing_escapes_share_spark_partition_dirs(spark, tmp_path):
    broker = EventBroker(spark, str(tmp_path / "broker"))
    store = broker.store
    via_df = [make_event(t, "df", json.dumps({"i": i})) for i, t in enumerate(ESCAPED_TOPICS)]
    via_rows = [make_event(t, "rows", json.dumps({"i": i})) for i, t in enumerate(ESCAPED_TOPICS)]
    store.save_events(spark.createDataFrame(via_df, EVENT_SCHEMA))
    store.save_events(via_rows)

    dirs = sorted(d for d in os.listdir(store.path) if os.path.isdir(os.path.join(store.path, d)))
    assert dirs == sorted(os.path.basename(store.partition_dir(t)) for t in ESCAPED_TOPICS)
    for i, topic in enumerate(ESCAPED_TOPICS):
        want = sorted([via_df[i].id, via_rows[i].id])
        got = store.get_events(topic).collect()
        assert sorted(r.id for r in got) == want
        assert {r.topic for r in got} == {topic}

        seen = []
        sid = broker.subscribe_streaming(
            topic,
            lambda df, _e: seen.extend(df.select("id", "topic").collect()),
            checkpoint=str(tmp_path / f"ckpt-{i}"),
        )
        broker.subscriptions[sid].query.awaitTermination(60)
        assert sorted(r.id for r in seen) == want
        assert {r.topic for r in seen} == {topic}


def test_publish_runs_no_spark_job(spark, tmp_path):
    """Publishing, batch publishing and dead-lettering append from the
    driver: no Spark job runs in the caller's job group. Counts, not
    clocks, so load on the machine cannot flake it."""
    broker = EventBroker(spark, str(tmp_path / "broker"))

    def always_fails(_event):
        raise RuntimeError("down")

    broker.subscribe("orders", always_fails,
                     SubscriptionOptions(name="fails", max_retries=1, retry_delay=0))
    sc = spark.sparkContext
    group = f"publish-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "publish must not run Spark jobs")
    try:
        assert broker.publish("orders", "created", {"n": 0}).success
        batch = [("created", {"n": i}, {"src": "test"}) for i in range(1, 101)]
        assert broker.publish_many("orders", batch) == 100
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the guard can see jobs: reading the results back runs some
        assert broker.store.get_events("orders").count() == 101
        assert broker.dlq.get_events().count() == 101
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
