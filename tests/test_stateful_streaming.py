"""Cross-micro-batch stateful streaming dedup
(streaming/stateful.py, applyInPandasWithState): re-delivered content
must be suppressed across batches AND across restarts (state lives in
the checkpoint)."""

import os

import pytest


def _write_docs(spark, path, rows, fname):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(1).write.mode("append").parquet(path)
    del fname  # parquet names its own files; arg kept for call-site clarity


@pytest.mark.usefixtures("spark")
def test_streaming_dedup_across_batches_and_restarts(spark, tmp_path):
    from marc2rdf_spark.streaming.stateful import run_streaming_dedup

    docs = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # run 1: two docs, one duplicated content within the batch
    _write_docs(
        spark,
        docs,
        [(1, "alpha beta"), (2, "gamma"), (3, "Alpha  BETA")],  # 3 dups 1
        "b1",
    )
    run_streaming_dedup(spark, docs, out, ckpt)
    got1 = {
        (r.doc_id, r.fp) for r in spark.read.parquet(out).collect()
    }
    assert {d for d, _ in got1} == {1, 2}  # first-seen wins, 3 suppressed

    # run 2 (restart): one re-delivery of run-1 content + one new doc.
    # The seen-set must survive the restart via the checkpointed state.
    _write_docs(
        spark,
        docs,
        [(4, "alpha beta"), (5, "delta")],
        "b2",
    )
    run_streaming_dedup(spark, docs, out, ckpt)
    got2 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got2 == {1, 2, 5}  # 4 suppressed by state from run 1


def test_windowed_counts_drop_late_rows(spark, tmp_path):
    """Append-mode watermark semantics: once the watermark (delay 0 =
    max ts seen) passes a window's end, the window is emitted ONCE and
    a later-arriving row for it is dropped, not re-aggregated."""
    from marc2rdf_spark.streaming.windows import run_windowed_counts

    ev = str(tmp_path / "events")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ev)

    import datetime as dt

    t = dt.datetime(2024, 1, 1, 0, 30)
    # run 1: two events in hour 0, one in hour 1 -> watermark ends at
    # the hour-1 event; hour-0 window finalizes and emits
    write(
        [
            (1, t, 1, "click", 1.0, "{}"),
            (2, t, 1, "click", 2.0, "{}"),
            (3, dt.datetime(2024, 1, 1, 1, 45), 1, "click", 4.0, "{}"),
        ]
    )
    run_windowed_counts(spark, ev, out, ckpt)
    # win_start is epoch SECONDS (bigint): the sink type is pinned so
    # the cross-engine oracle never sees tz-adjusted parquet timestamps
    h0 = int(dt.datetime(2024, 1, 1, 0, 0, tzinfo=dt.timezone.utc).timestamp())
    h1 = int(dt.datetime(2024, 1, 1, 1, 0, tzinfo=dt.timezone.utc).timestamp())
    rows1 = {
        (r.win_start, r.n, r.sum_cents)
        for r in spark.read.parquet(out).collect()
    }
    assert rows1 == {(h0, 2, 300)}

    # run 2 (restart): a LATE row for the already-finalized hour-0
    # window plus a fresh hour-2 event that closes hour 1
    write(
        [
            (4, t, 1, "click", 100.0, "{}"),  # late: dropped
            (5, dt.datetime(2024, 1, 1, 2, 5), 1, "click", 8.0, "{}"),
        ]
    )
    run_windowed_counts(spark, ev, out, ckpt)
    rows2 = {
        (r.win_start, r.n, r.sum_cents)
        for r in spark.read.parquet(out).collect()
    }
    assert rows2 == {
        (h0, 2, 300),  # NOT re-emitted/+100
        (h1, 1, 400),
    }
