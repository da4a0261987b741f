"""Stateful streaming tests: count/timeout batch flush parity and
watermarked windows with late-data drop."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from atiesh_spark.streaming.stateful import (
    stateful_count_batcher,
    with_watermark_window,
)


def test_batcher_validation():
    with pytest.raises(ValueError, match="batch_size 1"):
        stateful_count_batcher(None, batch_size=1)
    with pytest.raises(ValueError, match="batch_size > 1 and/or timeout_ms"):
        stateful_count_batcher(None, batch_size=0, timeout_ms=0)


def _start_file_stream(spark, src, fn, ckpt, sink_name):
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
        .select(
            F.split(F.col("value"), ",").getItem(0).alias("tag"),
            F.split(F.col("value"), ",").getItem(1).alias("value"),
        )
    )
    out = fn(raw)
    return (
        out.writeStream.format("memory")
        .queryName(sink_name)
        .option("checkpointLocation", str(ckpt))
        .trigger(processingTime="1 seconds")
        .start()
    )


def test_count_flush_emits_full_batches(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "f1.txt").write_text("a,1\na,2\na,3\nb,9\n")

    q = _start_file_stream(
        spark, src,
        lambda df: stateful_count_batcher(df, batch_size=2, timeout_ms=60_000),
        tmp_path / "ck", "batches1",
    )
    try:
        deadline = time.time() + 40
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM batches1").collect()
            if rows:
                break
            time.sleep(0.5)
        # tag a: 3 values -> one size-flush of 2, one buffered leftover
        # tag b: 1 value -> buffered (timeout far away)
        assert len(rows) == 1
        r = rows[0]
        assert r["tag"] == "a" and r["n_events"] == 2 and r["flush_reason"] == "size"
        assert r["body"] == "1\n2"
    finally:
        q.stop()


def test_timeout_flush_drains_partial_batches(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "f1.txt").write_text("a,1\n")
    # a second file keeps the stream triggering so the processing-time
    # timeout has batches in which to fire
    time.sleep(0.05)
    (src / "f2.txt").write_text("b,2\n")

    q = _start_file_stream(
        spark, src,
        lambda df: stateful_count_batcher(df, batch_size=100, timeout_ms=2_000),
        tmp_path / "ck", "batches2",
    )
    try:
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM batches2").collect()
            if len(rows) >= 2:
                break
            time.sleep(0.5)
        reasons = {r["tag"]: r["flush_reason"] for r in rows}
        assert reasons == {"a": "timeout", "b": "timeout"}
    finally:
        q.stop()


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data policy per Spark's split-watermark contract
    (SPARK-24634): the late-event filter uses the PREVIOUS batch's
    eviction watermark, so a row is dropped once it arrives after the
    late watermark passed its window end — i.e. two batches behind the
    watermark-advancing event. The evicted window must not be re-emitted
    or re-opened (append-mode exactly-once per window)."""
    import os

    src = tmp_path / "in"
    src.mkdir()
    files = [
        ("f1.txt", "2024-01-01 12:00:00\n2024-01-01 11:58:00\n"),
        ("f2.txt", "2024-01-01 13:00:00\n"),    # evictWM 11:50 next batch
        ("f3.txt", "2024-01-01 13:30:00\n"),    # evicts 11:55/12:00 @ WM 12:50
        # 11:59 is now behind the LATE watermark (12:50) -> dropped
        ("f4.txt", "2024-01-01 11:59:00\n2024-01-01 13:31:00\n"),
        ("f5.txt", "2024-01-01 15:00:00\n"),    # closes the 13:xx windows
    ]
    now = time.time()
    for i, (name, content) in enumerate(files):
        p = src / name
        p.write_text(content)
        # file source orders by modification time - pin the batch order
        os.utime(p, (now - 50 + i * 10, now - 50 + i * 10))

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
        .select(F.col("value").cast("timestamp").alias("ts"))
    )
    windowed = with_watermark_window(raw, "ts", "5 minutes", "10 minutes")
    q = (
        windowed.writeStream.format("memory")
        .queryName("wm_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM wm_sink").collect()
            if sum(r["cnt"] for r in rows) >= 5:
                break
            time.sleep(0.5)
        counts = {}
        for r in rows:
            counts.setdefault(str(r["w_start"]), []).append(r["cnt"])
        # closed windows emitted exactly once; the late 11:59 neither
        # re-opened 11:55 nor duplicated its emission
        assert counts["2024-01-01 11:55:00"] == [1]   # just 11:58
        assert counts["2024-01-01 12:00:00"] == [1]
        assert counts["2024-01-01 13:00:00"] == [1]
        assert counts["2024-01-01 13:30:00"] == [2]   # 13:30 + 13:31
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        assert dropped >= 1  # the 11:59 row
    finally:
        q.stop()


def test_streaming_dedup_across_batches(spark, tmp_path):
    """Duplicate keys arriving in LATER micro-batches are dropped
    (state carries across batches within the watermark horizon)."""
    import os

    from atiesh_spark.streaming.stateful import streaming_dedup

    src = tmp_path / "in"
    src.mkdir()
    (src / "f1.txt").write_text("2024-01-01 12:00:00,k1\n2024-01-01 12:00:30,k2\n")
    (src / "f2.txt").write_text(
        "2024-01-01 12:01:00,k1\n2024-01-01 12:01:30,k3\n"  # k1 is a dup
    )
    now = time.time()
    os.utime(src / "f1.txt", (now - 10, now - 10))
    os.utime(src / "f2.txt", (now, now))

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
        .select(
            F.split("value", ",").getItem(0).cast("timestamp").alias("ts"),
            F.split("value", ",").getItem(1).alias("k"),
        )
    )
    deduped = streaming_dedup(raw, ["k"], ts_col="ts", watermark_delay="10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 40
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM dedup_sink").collect()
            if len(rows) >= 3:
                break
            time.sleep(0.5)
        keys = sorted(r["k"] for r in rows)
        assert keys == ["k1", "k2", "k3"]  # second k1 dropped
    finally:
        q.stop()
