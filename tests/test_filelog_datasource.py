"""File-backed log-segment connector (sources/filelog_datasource.py): the
Kafka record-stream scan contract (presto-kafka KafkaRecordSet.java:53,
splits per topic-partition in KafkaSplitManager) demonstrated without a
broker — segment-per-split parallelism, planning-time offset pruning,
decoder composition, and deterministic streaming replay."""

from __future__ import annotations

import json
import os

from lyft_presto_spark.sources.filelog_datasource import (
    register_filelog,
    write_segments,
)
from lyft_presto_spark.sources.kafka_decoders import decode_json, decode_raw


def _topic(tmp_path, n=300, parts=3, segment_records=64) -> str:
    path = str(tmp_path / "events_topic")
    records = [
        (
            i % parts,
            f"k{i}".encode(),
            json.dumps({"event_id": i, "etype": f"t{i % 5}"}).encode(),
        )
        for i in range(n)
    ]
    write_segments(path, records, segment_records=segment_records)
    return path


def _read(spark, path, **opts):
    register_filelog(spark)
    r = spark.read.format("filelog").option("path", path)
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def test_batch_scan_yields_kafka_schema_and_all_records(spark, tmp_path):
    path = _topic(tmp_path)
    df = _read(spark, path)
    assert [f.name for f in df.schema.fields] == [
        "key", "value", "topic", "partition", "offset", "timestamp",
    ]
    rows = df.collect()
    assert len(rows) == 300
    assert {r.partition for r in rows} == {0, 1, 2}
    # per-partition offsets are dense from 0 (the segment layout contract)
    for p in range(3):
        offs = sorted(r.offset for r in rows if r.partition == p)
        assert offs == list(range(100))
    assert all(r.topic == "events_topic" for r in rows)


def test_one_split_per_segment(spark, tmp_path):
    # 3 partitions x 100 records at 64/segment = 2 segments each -> 6 splits
    path = _topic(tmp_path)
    df = _read(spark, path)
    assert df.rdd.getNumPartitions() == 6


def test_offset_pruning_happens_at_planning_time(spark, tmp_path):
    from lyft_presto_spark.sources.filelog_datasource import FileLogReader

    path = _topic(tmp_path)
    # bounds inside the second segment: the first segment of each
    # partition is never planned (pruned from file names alone)
    r = FileLogReader(path, "t", 70, 90)
    splits = [s for s in r.partitions() if s.part >= 0]
    assert len(splits) == 3  # one surviving segment per partition
    assert all(s.base == 64 for s in splits)
    got = _read(spark, path, startingOffset=70, endingOffset=90).collect()
    assert len(got) == 3 * 20
    assert all(70 <= r.offset < 90 for r in got)


def test_decoders_compose_unchanged(spark, tmp_path):
    # the presto-record-decoder layer works on this source exactly as it
    # would on spark.read.format("kafka")
    path = _topic(tmp_path)
    batch = _read(spark, path)
    typed = decode_json(batch, "event_id BIGINT, etype STRING")
    agg = sorted(
        map(tuple, typed.groupBy("etype").count().collect())
    )
    assert agg == [(f"t{i}", 60) for i in range(5)]
    raw = decode_raw(batch)
    assert raw.filter("payload LIKE '%event_id%'").count() == 300


def test_stream_drains_and_replays_deterministically(spark, tmp_path):
    """Per-partition offset tracking: availableNow-style drain lands every
    record exactly once, and a checkpoint restart resumes with no loss and
    no duplicates (readBetweenOffsets replay)."""
    path = _topic(tmp_path, n=150, parts=3, segment_records=32)
    register_filelog(spark)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def run():
        q = (
            spark.readStream.format("filelog")
            .option("path", path)
            .option("rowsPerBatch", "16")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
        return spark.read.parquet(sink).select("partition", "offset").collect()

    first = run()
    got = sorted((r.partition, r.offset) for r in first)
    assert got == sorted((p, o) for p in range(3) for o in range(50))
    # append a new segment per partition, restart from the checkpoint:
    # only the new records land (exactly-once resume)
    extra = [
        (p, f"x{p}-{i}".encode(), json.dumps({"event_id": 9000 + i}).encode())
        for p in range(3)
        for i in range(8)
    ]
    by_part: dict[int, list] = {}
    for p, k, v in extra:
        by_part.setdefault(p, []).append((k, v))
    for p, recs in by_part.items():
        with open(os.path.join(path, f"p{p}-50.log"), "wb") as f:
            for k, v in recs:
                f.write(k + b"\t" + v + b"\n")
    second = run()
    got2 = sorted((r.partition, r.offset) for r in second)
    assert got2 == sorted((p, o) for p in range(3) for o in range(58))


def test_click_topic_is_published_once_under_staging_root(monkeypatch, tmp_path):
    # The connector_filelog_clicks topic depends on no input: one durable
    # copy under the staging root, never a fresh temp dir per session.
    import tempfile

    from lyft_presto_spark.operators.staging import staging_root
    from lyft_presto_spark.queries import connector_queries as CQ
    from lyft_presto_spark.sources import filelog_datasource as FD

    monkeypatch.setenv("SPARK_GRAFT_STAGING_DIR", str(tmp_path / "staging"))
    writes = []
    real_write = FD.write_segments

    def counting_write(*args, **kwargs):
        writes.append(args[0])
        return real_write(*args, **kwargs)

    monkeypatch.setattr(FD, "write_segments", counting_write)

    def temp_topics() -> set:
        return {e for e in os.listdir(tempfile.gettempdir()) if e.startswith("filelog_clicks_")}

    before = temp_topics()
    path = CQ._flog_topic_dir()
    assert path.startswith(staging_root() + os.sep)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert CQ._flog_topic_dir() == path
    assert len(writes) == 1
    assert temp_topics() == before
