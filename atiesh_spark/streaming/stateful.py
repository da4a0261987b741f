"""Custom stateful streaming operators (applyInPandasWithState).

stateful_count_batcher gives EXACT parity for the reference's
BatchSinkSemantics (BatchSinkSemantics.scala:25-39,155-214): per-tag
buffers flushed when they reach `batch-size` OR when `batch-timeout`
(processing-time) fires — the two flush paths the micro-batch trigger
alone cannot reproduce exactly (SURVEY.md §7.4 "count-based flush").

State per tag: the buffered values. Emitted rows: one per flushed batch,
(tag, body, n_events, flush_reason) with the newline body join of
HttpSink.scala:151-154. Like the reference, size 1 and size=0 with
timeout=0 are rejected at build time (BatchSinkSemantics.scala:135-146).
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

BATCH_OUTPUT_SCHEMA = StructType(
    [
        StructField("tag", StringType()),
        StructField("body", StringType()),
        StructField("n_events", IntegerType()),
        StructField("flush_reason", StringType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("buffered", ArrayType(StringType())), StructField("opened_at", LongType())]
)


def _make_batcher(batch_size: int, timeout_ms: int):
    def batch_fn(
        key: tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        import time as _time

        tag = key[0]
        buffered, opened_at = (
            (list(state.get[0]), state.get[1]) if state.exists else ([], None)
        )
        out: list[dict[str, Any]] = []

        if state.hasTimedOut:
            # timeout flush (BatchSinkSemantics.scala:164-171)
            if buffered:
                out.append(
                    {"tag": tag, "body": "\n".join(buffered),
                     "n_events": len(buffered), "flush_reason": "timeout"}
                )
            state.remove()
        else:
            for pdf in pdfs:
                buffered.extend(pdf["value"].astype(str).tolist())
            # size flush, possibly multiple full batches per trigger
            while batch_size > 0 and len(buffered) >= batch_size:
                chunk, buffered = buffered[:batch_size], buffered[batch_size:]
                out.append(
                    {"tag": tag, "body": "\n".join(chunk),
                     "n_events": len(chunk), "flush_reason": "size"}
                )
                opened_at = None  # a size flush closes the open buffer
            if buffered:
                now_ms = int(_time.time() * 1000)
                if opened_at is None or opened_at == 0:
                    opened_at = now_ms  # buffer (re)opened this trigger
                state.update((buffered, opened_at))
                if timeout_ms > 0:
                    # anchor to buffer-open time: re-arming happens every
                    # trigger (GroupState clears the timer on invocation),
                    # but always with the REMAINING time, so a steady
                    # trickle cannot postpone the flush forever
                    remaining = max(timeout_ms - (now_ms - opened_at), 1)
                    state.setTimeoutDuration(int(remaining))
            elif state.exists:
                state.remove()

        yield pd.DataFrame(out, columns=["tag", "body", "n_events", "flush_reason"])

    return batch_fn


def stateful_count_batcher(
    events: DataFrame,
    tag_col: str = "tag",
    value_col: str = "value",
    batch_size: int = 0,
    timeout_ms: int = 0,
) -> DataFrame:
    """Per-tag count/timeout batch assembly on a streaming DataFrame.

    Validation mirrors the reference init errors
    (BatchSinkSemantics.scala:135-146).
    """
    if batch_size == 1:
        raise ValueError("batch_size 1 is rejected (use the plain sink path)")
    if batch_size <= 0 and timeout_ms <= 0:
        raise ValueError("need batch_size > 1 and/or timeout_ms > 0")
    shaped = events.select(
        F.col(tag_col).cast("string").alias("tag"),
        F.col(value_col).cast("string").alias("value"),
    )
    return shaped.groupBy("tag").applyInPandasWithState(
        _make_batcher(batch_size, timeout_ms),
        outputStructType=BATCH_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str | None = None,
    watermark_delay: str | None = None,
) -> DataFrame:
    """Streaming exact deduplication on key columns.

    With ``ts_col`` + ``watermark_delay``, state is bounded: duplicates
    arriving within the watermark horizon are dropped and older state is
    evicted (dropDuplicatesWithinWatermark) — the only sane shape at
    100 TB. Without a watermark, state grows forever (small keyspaces
    only); offered because the reference-style pipelines may lack event
    time entirely.
    """
    if ts_col is not None and watermark_delay is not None:
        return events.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(key_cols)
    return events.dropDuplicates(key_cols)


def with_watermark_window(
    events: DataFrame,
    ts_col: str,
    window_duration: str,
    watermark_delay: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window counts — the late-data policy the
    reference never had (SURVEY.md §2.7).

    Contract (Spark split watermarks, SPARK-24634): window state is
    EVICTED and emitted (append mode) once the eviction watermark passes
    the window end; input rows are DROPPED as late against the previous
    batch's eviction watermark — so a closed window is emitted exactly
    once and never re-opened, but a row arriving in the same batch that
    closes its window still counts."""
    gcols = group_cols or []
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration).alias("w"), *gcols)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("w_start"), *gcols, "cnt")
    )
