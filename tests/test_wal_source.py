"""Wave-37: custom Python DataSource for the reference's WAL framing
(8-byte length header + 'logid|version|optype|json\\n' payload,
doc/wal.md:4-6)."""

from __future__ import annotations

import os
import re
import struct

import pytest

from simple_vector_spark.sources.wal_source import (
    WalDataSource,
    _read_segment,
    write_wal_segment,
    write_wal_segments,
)


def _register(spark):
    try:
        spark.dataSource.register(WalDataSource)
    except Exception:
        pass  # already registered in this session


def test_segment_framing_is_reference_format(tmp_path):
    p = str(tmp_path / "segment-00000.wal")
    write_wal_segment(p, [(1, 0, "upsert", '{"id":1}'), (2, 1, "delete", '{"id":1}')])
    raw = open(p, "rb").read()
    (n1,) = struct.unpack("<Q", raw[:8])
    line1 = raw[8 : 8 + n1]
    assert line1 == b'1|0|upsert|{"id":1}\n'
    (n2,) = struct.unpack("<Q", raw[8 + n1 : 16 + n1])
    assert raw[16 + n1 : 16 + n1 + n2] == b'2|1|delete|{"id":1}\n'


def test_torn_tail_at_every_byte_of_last_record(tmp_path):
    """A cut at a record boundary reads as the shorter segment; a cut
    anywhere inside the last record raises, naming the segment and the
    record's byte offset."""
    recs = [
        (1, 0, "upsert", '{"id":1}'),
        (2, 0, "upsert", '{"id":2,"t":"a|b"}'),
        (3, 1, "delete", '{"id":1,"t":"\u00e9"}'),
    ]
    p = tmp_path / "segment-00000.wal"
    write_wal_segment(str(p), recs[:2])
    last = p.stat().st_size
    write_wal_segment(str(p), recs)
    raw = p.read_bytes()
    for cut in range(last, len(raw) + 1):
        p.write_bytes(raw[:cut])
        if cut in (last, len(raw)):
            assert list(_read_segment(str(p))) == recs[: 2 if cut == last else 3]
        else:
            with pytest.raises(ValueError, match=rf"{re.escape(str(p))} at byte {last}:"):
                list(_read_segment(str(p)))


@pytest.mark.parametrize(
    "payload",
    [b"2|0|upsert\n", b"x|0|upsert|{}\n", b"2|y|upsert|{}\n", b"2|0|upsert|\xff\n"],
)
def test_corrupt_record_fails_by_path_and_offset(tmp_path, payload):
    p = tmp_path / "segment-00000.wal"
    write_wal_segment(str(p), [(1, 0, "upsert", "{}")])
    first = p.stat().st_size
    with open(p, "ab") as fh:
        fh.write(struct.pack("<Q", len(payload)) + payload)
    with pytest.raises(ValueError, match=rf"{re.escape(str(p))} at byte {first}:"):
        list(_read_segment(str(p)))


def test_wal_roundtrip_and_partition_per_segment(spark, tmp_path):
    _register(spark)
    d = str(tmp_path / "wal")
    os.makedirs(d)
    write_wal_segment(
        os.path.join(d, "segment-00000.wal"),
        [(i, 0, "upsert", f'{{"id":{i}}}') for i in range(5)],
    )
    write_wal_segment(
        os.path.join(d, "segment-00001.wal"),
        [(i, 1, "delete", f'{{"id":{i}}}') for i in range(5, 8)],
    )
    df = spark.read.format("simple_vector_wal").option("path", d).load()
    assert df.count() == 8
    # one InputPartition per segment file
    assert df.rdd.getNumPartitions() == 2
    rows = {r["log_id"]: r for r in df.collect()}
    assert rows[6]["op"] == "delete" and rows[6]["version"] == 1
    assert rows[2]["doc"] == '{"id":2}'


def test_distributed_writer_one_segment_per_task(spark, tmp_path):
    _register(spark)
    d = str(tmp_path / "walw")
    from pyspark.sql import functions as F

    log = spark.range(100).select(
        F.col("id").alias("log_id"),
        F.lit(0).alias("version"),
        F.lit("upsert").alias("op"),
        F.concat(F.lit('{"id":'), F.col("id"), F.lit("}")).alias("doc"),
    )
    write_wal_segments(log.repartition(3, "log_id"), d)
    segs = [f for f in os.listdir(d) if f.endswith(".wal")]
    assert 1 <= len(segs) <= 3
    back = spark.read.format("simple_vector_wal").option("path", d).load()
    assert back.count() == 100
    assert set(r["log_id"] for r in back.collect()) == set(range(100))


def test_stream_tail_consumes_only_delta(spark, tmp_path):
    """Run 1 drains 2 segments; a third lands; run 2 from the same
    checkpoint must append ONLY the new segment's records (offset =
    consumed-segment count -> no reprocessing)."""
    _register(spark)
    import os

    d = str(tmp_path / "tail")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    os.makedirs(d)
    write_wal_segment(
        os.path.join(d, "segment-00000.wal"),
        [(i, 0, "upsert", f'{{"id":{i}}}') for i in range(4)],
    )
    write_wal_segment(
        os.path.join(d, "segment-00001.wal"),
        [(10 + i, 0, "upsert", f'{{"id":{10+i}}}') for i in range(3)],
    )

    def run_once():
        wal = spark.readStream.format("simple_vector_wal").option("path", d).load()

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            wal.writeStream.foreachBatch(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = sorted(r["log_id"] for r in spark.read.parquet(out).collect())
    assert first == [0, 1, 2, 3, 10, 11, 12]
    write_wal_segment(
        os.path.join(d, "segment-00002.wal"), [(99, 1, "delete", '{"id":99}')]
    )
    run_once()
    second = sorted(r["log_id"] for r in spark.read.parquet(out).collect())
    assert second == [0, 1, 2, 3, 10, 11, 12, 99]  # delta only, no re-reads


def test_stream_tail_out_of_order_segment_fails_loudly(spark, tmp_path):
    """Offset contract (sources/wal_source.py WalStreamReader): segments
    are append-only-BY-NAME.  Plant a segment that sorts BEFORE the
    consumed high-water mark between two checkpointed runs — the tail
    must raise the contract error, not silently skip the segment."""
    _register(spark)
    import pytest

    d = str(tmp_path / "tail2")
    ck = str(tmp_path / "ck2")
    out = str(tmp_path / "out2")
    os.makedirs(d)
    write_wal_segment(
        os.path.join(d, "segment-00005.wal"),
        [(i, 0, "upsert", f'{{"id":{i}}}') for i in range(3)],
    )

    def run_once():
        wal = spark.readStream.format("simple_vector_wal").option("path", d).load()

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            wal.writeStream.foreachBatch(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert sorted(r["log_id"] for r in spark.read.parquet(out).collect()) == [0, 1, 2]
    # landed out of lexicographic order: sorts before segment-00005.wal
    write_wal_segment(
        os.path.join(d, "segment-00001.wal"), [(42, 0, "upsert", '{"id":42}')]
    )
    with pytest.raises(Exception, match="WAL offset contract violated"):
        run_once()


def test_stream_tail_in_order_segment_between_runs_is_consumed(spark, tmp_path):
    """Contract-conforming arrival: a segment landing between runs that
    sorts AFTER the high-water mark is consumed exactly once."""
    _register(spark)
    d = str(tmp_path / "tail3")
    ck = str(tmp_path / "ck3")
    out = str(tmp_path / "out3")
    os.makedirs(d)
    write_wal_segment(
        os.path.join(d, "segment-00000.wal"), [(1, 0, "upsert", '{"id":1}')]
    )

    def run_once():
        wal = spark.readStream.format("simple_vector_wal").option("path", d).load()

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            wal.writeStream.foreachBatch(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        q.awaitTermination()

    run_once()
    write_wal_segment(
        os.path.join(d, "segment-00000a.wal"), [(2, 0, "upsert", '{"id":2}')]
    )
    run_once()
    assert sorted(r["log_id"] for r in spark.read.parquet(out).collect()) == [1, 2]
