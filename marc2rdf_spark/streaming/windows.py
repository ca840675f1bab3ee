"""Event-time windowed aggregation with a watermark — the Structured
Streaming late-data pattern over the ``events`` feed.

``windowed_event_counts`` is the canonical streaming rollup: tumbling
event-time windows, per-type counts and value sums, with
``withWatermark`` bounding how long window state waits for late rows.
In append mode a window is emitted exactly once, when the watermark
passes its end — so downstream sinks (parquet here) receive finalized
rows only, and state for closed windows is dropped instead of growing
with stream lifetime (the property that matters at 100 TB: state size
is O(open windows), not O(stream history)).

Sums are computed in DECIMAL, not DOUBLE: decimal addition is exact
and associative, so the result is independent of partitioning and
aggregation order — required for a value-level cross-engine oracle,
and the right call in production too (money-like rollups should not
drift with the shuffle plan).  The sum is emitted as integer cents:
an all-integer row has one representation in every engine and file
format, where a decimal's declared precision is engine-dependent.

Reference counterpart: the reference's scheduler tallies per-harvest
record/triple counts as it pages through OAI batches
(scheduler.rb:177-183 history log); this is that rollup lifted to
event-time semantics with bounded lateness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Tumbling event-time windows over a STREAMING events DataFrame
    (ts, event_type, value): (win_start, event_type, n, sum_cents).
    With ``watermark`` = "0 seconds" the watermark equals the max event
    time seen, so after an availableNow pass every window that ENDED at
    or before the stream's max ts is finalized and emitted; the
    still-open last window stays in state (append-mode semantics).

    Output types are pinned deliberately: ``win_start`` is epoch
    SECONDS (bigint) — a timestamp column written by the streaming
    parquet sink round-trips as a UTC-adjusted Arrow timestamp, which
    no session-naive engine reproduces bit-for-bit, while an epoch
    integer is representation-free; ``sum_cents`` is the exact sum of
    the per-row DECIMAL(12,2) values times 100, as a bigint, so the
    output carries no decimal whose declared precision depends on the
    engine's widening rule (Spark sum(decimal(12,2)) is decimal(22,2),
    ANSI SQL engines commonly widen to 38)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("long").alias("win_start"),
            "event_type",
            "n",
            (F.col("sum_value") * 100).cast("long").alias("sum_cents"),
        )
    )


def run_windowed_counts(
    spark,
    events_path: str,
    out_path: str,
    checkpoint_path: str,
    schema: str = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ),
    window: str = "1 hour",
    watermark: str = "0 seconds",
) -> None:
    """availableNow driver: roll up all unseen event files into
    finalized windows appended to ``out_path`` parquet.  The trailing
    no-data micro-batch (Spark's default) advances the watermark after
    the last data batch, which is what flushes the closed windows."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(events_path)
    )
    agg = windowed_event_counts(stream, window=window, watermark=watermark)
    (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
