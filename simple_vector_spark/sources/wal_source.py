"""Custom Python DataSource (pyspark.sql.datasource, Spark 4 API)
reading the reference's WAL file format.

Reference format (doc/wal.md:4-6, src/persistence.cc:50-82): each
record is an 8-byte length header followed by the payload line
``"logid|version|optype|json\\n"``.  The reference reads this serially
on one thread at boot (src/persistence.cc:84-135); here every WAL
segment file is its own InputPartition, so recovery scans segments in
parallel and the replay itself is the declarative latest-wins window
(operators/mutation.wal_replay) — recovery time O(log/partitions).

Writing mirrors how WAL segments exist in production: each Spark task
appends ITS OWN segment file (``write_wal_segments``), never a global
single-writer file.
"""

from __future__ import annotations

import os
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from .loaders import active_session, data_source

WAL_SCHEMA = "log_id bigint, version bigint, op string, doc string"
_LEN = struct.Struct("<Q")


def write_wal_segment(path: str, records) -> int:
    """Append-only segment writer: length-prefixed payload lines in the
    reference's ``logid|version|optype|json`` framing.  Returns the
    record count."""
    n = 0
    with open(path, "wb") as fh:
        for log_id, version, op, doc in records:
            payload = f"{log_id}|{version}|{op}|{doc}\n".encode("utf-8")
            fh.write(_LEN.pack(len(payload)))
            fh.write(payload)
            n += 1
    return n


def _read_segment(path: str):
    """Yield ``(log_id, version, op, doc)`` for every record of one
    segment file.

    Torn-tail policy: a segment that ends exactly at a record boundary
    is valid, and reads as the records before the cut.  A record cut
    anywhere inside itself (short header, short payload), or one whose
    payload does not parse (fewer than 4 ``|`` fields, non-integer ids,
    bad UTF-8), raises ``ValueError`` naming the segment path and the
    byte offset where the record starts.  A segment is therefore only
    readable once its writer has finished it; writers that append in
    place must publish a segment under its ``.wal`` name when it is
    complete."""
    with open(path, "rb") as fh:
        offset = 0
        while hdr := fh.read(_LEN.size):
            try:
                if len(hdr) < _LEN.size:
                    raise ValueError(f"short header ({len(hdr)} bytes)")
                (n,) = _LEN.unpack(hdr)
                payload = fh.read(n)
                if len(payload) < n:
                    raise ValueError(f"short payload ({len(payload)} of {n} bytes)")
                line = payload.decode("utf-8").rstrip("\n")
                log_id, version, op, doc = line.split("|", 3)
                record = (int(log_id), int(version), op, doc)
            except ValueError as e:
                raise ValueError(
                    f"torn or corrupt WAL record in {path} at byte {offset}: {e}"
                ) from e
            yield record
            offset += _LEN.size + n


def write_wal_segments(df: DataFrame, out_dir: str) -> None:
    """Distributed WAL writer: every partition writes its own segment
    file (``segment-<pid>.wal``) — the per-task append-only layout WAL
    segments have in any log-structured store.  ``df`` must have
    columns (log_id, version, op, doc)."""
    os.makedirs(out_dir, exist_ok=True)

    def _write(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows = [(r["log_id"], r["version"], r["op"], r["doc"]) for r in it]
        if rows:
            write_wal_segment(
                os.path.join(out_dir, f"segment-{pid:05d}.wal"), rows
            )

    df.foreachPartition(_write)


def read_wal(spark: SparkSession, path: str, stream: bool = False) -> DataFrame:
    """The WAL directory ``path`` as a ``WAL_SCHEMA`` frame: a batch scan
    of every segment, or with ``stream`` a tail that picks up new
    segments.  Registers the source once per session."""
    reader = spark.readStream if stream else spark.read
    reader = reader.format(data_source(spark, WalDataSource)).option("path", path)
    with active_session(spark):
        return reader.load()


class WalDataSource(DataSource):
    """``spark.read.format("simple_vector_wal").option("path", dir)``,
    registered by :func:`read_wal`."""

    @classmethod
    def name(cls) -> str:
        return "simple_vector_wal"

    def schema(self) -> str:
        return WAL_SCHEMA

    def reader(self, schema) -> "WalReader":
        return WalReader(self.options)

    def streamReader(self, schema) -> "WalStreamReader":
        return WalStreamReader(self.options)


class WalReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]

    def partitions(self):
        files = sorted(
            f for f in os.listdir(self.path) if f.endswith(".wal")
        )
        return [InputPartition(os.path.join(self.path, f)) for f in files]

    def read(self, partition):
        return _read_segment(partition.value)


class WalStreamReader(DataSourceStreamReader):
    """Streaming tail of a WAL directory: the offset is the count of
    consumed segment files; each microbatch covers every NEW segment
    since the last committed offset, one InputPartition per segment —
    the records are parsed in EXECUTOR tasks (round 9, guide §4/§5:
    the former SimpleDataSourceStreamReader funneled every record
    through the driver's Python process, a serial choke point that a
    100 TB tail cannot afford; the partitioned reader keeps recovery
    O(log/partitions) like the batch path).  With a checkpointed query
    this is exactly the reference's 'replay logs after lastSnapshotID'
    recovery contract (src/persistence.cc:84-135) — re-runs consume
    only the delta, never re-reading applied segments.

    OFFSET CONTRACT: segments are append-only-BY-NAME and never
    rewritten or deleted in place — every new segment must sort
    lexicographically AFTER all consumed ones (true for the
    ``segment-<pid:05d>.wal`` writer layout and any monotonic naming
    scheme).  The committed offset records the high-water segment name
    alongside the count, and microbatch planning raises loudly if the
    directory violates the contract (a segment inserted below the
    high-water mark, or a consumed segment renamed/removed) instead of
    silently skipping or re-reading data."""

    def __init__(self, options):
        self.path = options["path"]

    def _files(self):
        return sorted(f for f in os.listdir(self.path) if f.endswith(".wal"))

    def initialOffset(self):
        return {"seg": 0, "last": ""}

    def latestOffset(self):
        files = self._files()
        return {"seg": len(files), "last": files[-1] if files else ""}

    def partitions(self, start, end):
        files = self._files()
        s, e = int(start["seg"]), int(end["seg"])
        last = start.get("last")
        # contract check: the s-th consumed file must still be the
        # high-water name — otherwise a segment appeared out of
        # lexicographic order (it would be silently skipped) or a
        # consumed segment was rewritten/removed (silent re-read).
        # ``last`` is absent only for pre-contract checkpoints.
        if s > 0 and last:
            if len(files) < s or files[s - 1] != last:
                raise RuntimeError(
                    "WAL offset contract violated: committed offset has "
                    f"{s} segments up to {last!r}, but the directory now "
                    f"has {files[s - 1] if len(files) >= s else None!r} at "
                    "that position. Segments must be append-only-by-name "
                    "(new names sort after all consumed ones) and never "
                    "rewritten or deleted."
                )
        return [
            InputPartition(os.path.join(self.path, f)) for f in files[s:e]
        ]

    def read(self, partition):
        return _read_segment(partition.value)

    def commit(self, end):
        pass
