"""Rename + metadata tools (SURVEY §2.7 F6-F9).

Spark-native rebuild of ``rename_and_update_metadata``
(``/root/reference/parq_tools/parq_schema_tools.py:30-99``) and the
pandas-metadata helpers (``metadata_utils.py:10-55``).

- rename: ``withColumnsRenamed`` — a pure plan rewrite; zero data
  movement, the scan itself is unchanged.
- column metadata: ``StructField.metadata`` via ``df.withMetadata`` —
  persisted by Spark's Parquet writer in its own schema blob.
- table metadata: Parquet key-value footer metadata has no Spark-side
  writer, so it is stamped on the driver with pyarrow after the write:
  every written part is read, decoded and re-encoded with the merged
  footer metadata — O(data) driver work, not a footer-only patch.
"""

from __future__ import annotations

import glob
import json
import os
from typing import Mapping, Optional

from pyspark.sql import DataFrame, SparkSession

from parq_tools_spark.sources.parquet_io import read_parquet, write_parquet

__all__ = [
    "rename_columns",
    "update_column_metadata",
    "rename_parquet",
    "set_table_metadata",
    "get_table_metadata",
    "read_pandas_metadata",
    "merge_pandas_metadata",
    "stamp_pandas_metadata",
]


def rename_columns(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    missing = sorted(set(mapping) - set(df.columns))
    if missing:
        raise ValueError(f"Cannot rename missing columns: {missing}")
    return df.withColumnsRenamed(dict(mapping))


def update_column_metadata(
    df: DataFrame, metadata: Mapping[str, Mapping]
) -> DataFrame:
    """Attach per-column metadata dicts (F8, ``parq_schema_tools.py:72-85``)."""
    for col, meta in metadata.items():
        if col not in df.columns:
            raise ValueError(f"Cannot set metadata on missing column: {col}")
        df = df.withMetadata(col, dict(meta))
    return df


def rename_parquet(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    mapping: Mapping[str, str],
    column_metadata: Optional[Mapping[str, Mapping]] = None,
    table_metadata: Optional[Mapping[str, str]] = None,
    single_file: bool = False,
) -> None:
    """File-level rename + metadata update (``parq_schema_tools.py:30-99``)."""
    df = rename_columns(read_parquet(spark, input_path), mapping)
    if column_metadata:
        df = update_column_metadata(df, column_metadata)
    write_parquet(df, output_path, single_file=single_file)
    if table_metadata:
        set_table_metadata(output_path, table_metadata)


def _part_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def set_table_metadata(path: str, metadata: Mapping[str, str]) -> None:
    """Stamp table-level key-value metadata onto Parquet footers (F7).

    Each part file is read whole into the driver (``pq.read_table``)
    and written back with the merged schema metadata
    (``pq.write_table``), so every row group is decoded and re-encoded:
    cost and driver memory grow with the data (one part at a time),
    not only with the number of parts.
    """
    import pyarrow.parquet as pq

    for part in _part_files(path):
        table = pq.read_table(part)
        existing = table.schema.metadata or {}
        merged = {
            **existing,
            **{str(k).encode(): str(v).encode() for k, v in metadata.items()},
        }
        pq.write_table(table.replace_schema_metadata(merged), part)
        # drop Hadoop's checksum sidecar — it no longer matches the
        # rewritten bytes and would fail Spark's next read
        crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def get_table_metadata(path: str) -> dict[str, str]:
    """Read table-level key-value metadata (first part file's footer)."""
    import pyarrow.parquet as pq

    parts = _part_files(path)
    if not parts:
        return {}
    meta = pq.ParquetFile(parts[0]).schema_arrow.metadata or {}
    out = {}
    for k, v in meta.items():
        try:
            out[k.decode()] = v.decode()
        except UnicodeDecodeError:
            continue
    return out


def read_pandas_metadata(path: str) -> Optional[dict]:
    """Parse the ``pandas`` schema-metadata blob (F9, ``metadata_utils.py:10-35``)."""
    raw = get_table_metadata(path).get("pandas")
    return json.loads(raw) if raw else None


def merge_pandas_metadata(paths) -> Optional[dict]:
    """Merge the ``pandas`` blobs of several inputs (F9 write side,
    ``metadata_utils.py:19-35``): first blob wins per column; column
    entries are unioned in first-seen order. Returns None if no input
    carries a blob."""
    merged: Optional[dict] = None
    seen: set[str] = set()
    for path in paths:
        blob = read_pandas_metadata(path)
        if blob is None:
            continue
        if merged is None:
            merged = {**blob, "columns": list(blob.get("columns", []))}
            seen = {c.get("name") for c in merged["columns"]}
            continue
        for col in blob.get("columns", []):
            if col.get("name") not in seen:
                merged["columns"].append(col)
                seen.add(col.get("name"))
    return merged


def stamp_pandas_metadata(output_path: str, source_paths) -> None:
    """Write a merged ``pandas`` blob onto an output's footers so pandas
    extension dtypes survive the round-trip (SURVEY §7.4 #2). Spark's
    writer cannot emit the blob; this is the documented driver-side
    footer rewrite."""
    merged = merge_pandas_metadata(source_paths)
    if merged is not None:
        set_table_metadata(output_path, {"pandas": json.dumps(merged)})
