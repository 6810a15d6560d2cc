"""The ephemeral-checkpoint filesystem (r17, VERDICT r16 item 5).

Without libhadoop, RawLocalFileSystem forks /bin/chmod per
permission-carrying file create; jars/spark-graft-nochmodfs.jar
(source: jvm/src) registers `nochmod://` — a RawLocalFileSystem whose
setPermission is a no-op — and the catalog's availableNow runner
routes its per-query ephemeral checkpoint/sink tmpdirs through it.
These tests pin (a) byte-faithful parquet round-trips through the
scheme, (b) the _ckpt_path resolution/fallback contract the streaming
family depends on. If the jar is absent (e.g. a plain driversim session), everything
must degrade to plain local paths — never fail a query."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from env_event_stream_spark import streaming_queries as SQ


def _scheme_available(spark) -> bool:
    try:
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI.create("nochmod:///"),
            spark._jsc.hadoopConfiguration(),
        )
        return fs.getScheme() == "nochmod"
    except Exception:
        return False


def test_nochmod_parquet_roundtrip_is_byte_faithful(spark):
    if not _scheme_available(spark):
        import pytest

        pytest.skip("nochmod scheme not registered in this session")
    df = spark.range(500).select(
        "id",
        (F.col("id") % 13).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    d = tempfile.mkdtemp(prefix="nochmod_rt_")
    df.write.mode("overwrite").parquet(f"nochmod://{d}")
    back = spark.read.parquet(f"nochmod://{d}")
    # parquet round-trips relax nullability; names/types must hold
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )
    # RawLocalFileSystem, not LocalFileSystem: no .crc companions
    names = os.listdir(d)
    assert not [n for n in names if n.endswith(".crc")], names


def test_ckpt_path_resolves_or_falls_back(spark):
    d = tempfile.mkdtemp(prefix="nochmod_cp_")
    got = SQ._ckpt_path(spark, d)
    if _scheme_available(spark):
        assert got == f"nochmod://{d}"
    else:
        assert got == d  # plain path: the query must still run
