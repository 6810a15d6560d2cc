"""Driver-side parquet append for rows the driver already holds.

``spark.createDataFrame(rows).write.parquet`` turns every append of a
few driver-held rows into a Spark job of ``defaultParallelism``
Python-worker tasks, most of them empty. ``append_rows`` writes the
same files from the driver with pyarrow instead:

- each row goes through pyspark's own verifier and converters, the
  checks ``createDataFrame`` runs, so a bad row raises before any
  file is written and naive datetimes get the same local-time rule
  (``TimestampType.toInternal``);
- one file per partition value per call, written under a hidden
  ``.``-prefixed name and renamed into place, so Spark's file index
  and the streaming file source (both skip ``.`` and ``_`` names)
  never see a partial file;
- partition directories are named by ``partition_dir``, which applies
  Spark's own escaping (``ExternalCatalogUtils.escapePathName``), so
  the row path and Spark's ``partitionBy`` writer share one directory
  per value.

The target is a driver-visible POSIX path, as the stores' retention
and compaction (``os.rename``/``shutil.rmtree``) already assume.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterable
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _create_converter, _make_type_verifier

__all__ = ["append_rows", "escape_path_name", "has_parquet_files", "partition_dir"]

# Spark's ExternalCatalogUtils.charToEscape (non-Windows): control
# characters 0x01-0x1F and 0x7F plus these punctuation marks
_ESCAPED = frozenset(map(chr, range(0x01, 0x20))) | frozenset("\"#%'*/:=?[\\]^{\x7f")
DEFAULT_PARTITION_NAME = "__HIVE_DEFAULT_PARTITION__"


def escape_path_name(name: str) -> str:
    """``ExternalCatalogUtils.escapePathName``: ``%XX`` for each
    escaped character, everything else (non-ASCII included) kept."""
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in name)


def partition_dir(path: str, column: str, value: str | None) -> str:
    """The directory Spark's ``partitionBy(column)`` writes the string
    ``value`` to; null and empty values go to Spark's default
    partition."""
    name = escape_path_name(value) if value else DEFAULT_PARTITION_NAME
    return os.path.join(path, f"{escape_path_name(column)}={name}")


def has_parquet_files(path: str) -> bool:
    """Whether any file under ``path`` ends in ``.parquet``. Readers
    treat a missing directory, or one with no parquet file yet, as the
    empty table."""
    return any(
        f.endswith(".parquet") for _root, _dirs, files in os.walk(path) for f in files
    )


def append_rows(
    path: str,
    rows: Iterable[Any],
    schema: T.StructType,
    partition: str | None = None,
) -> int:
    """Append ``rows`` (tuples or Rows in ``schema`` order, as
    ``createDataFrame`` takes them) as parquet under ``path``,
    partitioned by the column ``partition`` if given. Every row is
    checked before the first file is written. Returns the row count."""
    verify = _make_type_verifier(schema)
    convert = _create_converter(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(convert(row)))
    if not internal:
        return 0
    if partition is None:
        _write_file(path, internal, to_arrow_schema(schema))
        return len(internal)
    key = schema.names.index(partition)
    file_schema = T.StructType([f for f in schema.fields if f.name != partition])
    arrow_schema = to_arrow_schema(file_schema)
    groups: dict[Any, list[tuple]] = {}
    for row in internal:
        groups.setdefault(row[key], []).append(row[:key] + row[key + 1:])
    for value, group in groups.items():
        _write_file(partition_dir(path, partition, value), group, arrow_schema)
    return len(internal)


def _write_file(directory: str, rows: list[tuple], arrow_schema: pa.Schema) -> None:
    columns = [
        pa.array(values, type=field.type) for values, field in zip(zip(*rows), arrow_schema)
    ]
    os.makedirs(directory, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    hidden = os.path.join(directory, "." + name)
    pq.write_table(pa.Table.from_arrays(columns, schema=arrow_schema), hidden)
    os.rename(hidden, os.path.join(directory, name))
