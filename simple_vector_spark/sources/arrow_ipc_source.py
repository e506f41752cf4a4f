"""Custom Python DataSource for Arrow IPC (Feather v2) files.

The engine's second custom format after the WAL (wal_source.py): Arrow
IPC is the zero-copy interchange file every ML tooling stack emits
(feather, polars, pandas.to_feather, torch data loaders), and Spark has
no built-in reader for it — a Python DataSource closes the gap with one
InputPartition per file and the reader yielding pyarrow RecordBatches
straight off the memory-mapped file (no per-row Python, Arrow in ->
Arrow out).

Writing mirrors the WAL-segment discipline: every Spark task writes ITS
OWN ``part-<pid>.arrow`` file via mapInArrow — the distributed layout
any columnar landing zone uses, never a single-writer file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


def write_arrow_ipc(df: DataFrame, out_dir: str) -> int:
    """Distributed Arrow IPC writer: one file per non-empty partition.
    Returns the total row count written (action)."""
    os.makedirs(out_dir, exist_ok=True)

    def _write(batches):
        import pyarrow as pa
        import pyarrow.ipc as ipc

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.arrow")
        writer, n = None, 0
        for b in batches:
            if writer is None:
                writer = ipc.new_file(path, b.schema)
            writer.write_batch(b)
            n += b.num_rows
        if writer is not None:
            writer.close()
            yield pa.RecordBatch.from_arrays(
                [pa.array([path], type=pa.string()),
                 pa.array([n], type=pa.int64())],
                names=["file", "n"],
            )

    manifests = df.mapInArrow(_write, "file string, n long").collect()
    return sum(r["n"] for r in manifests)


class ArrowIpcDataSource(DataSource):
    """``spark.read.format("arrow_ipc").schema(ddl).option("path", dir)``
    — register once per session with ``loaders.data_source``.  Schema is
    explicit (the engine's never-infer stance); it must match the files'
    Arrow schema."""

    @classmethod
    def name(cls) -> str:
        return "arrow_ipc"

    def reader(self, schema) -> "ArrowIpcReader":
        return ArrowIpcReader(self.options)


class ArrowIpcReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]

    def partitions(self):
        files = sorted(
            f for f in os.listdir(self.path) if f.endswith(".arrow")
        )
        return [InputPartition(os.path.join(self.path, f)) for f in files]

    def read(self, partition):
        import pyarrow.ipc as ipc

        with ipc.open_file(partition.value) as reader:
            for i in range(reader.num_record_batches):
                # yielding RecordBatches keeps the whole path Arrow-
                # native — Spark's Python DataSource accepts them
                # directly, no per-row tuples
                yield reader.get_batch(i)
