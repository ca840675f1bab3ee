"""Incremental ingestion tests (SURVEY.md §2.10 / S4-S5): availableNow
streaming processes exactly the unseen files per run, resuming from the
checkpoint — the Spark-native resumption token."""

import os

from pyspark.sql import functions as F

from marc2rdf_spark.sources.synth import gen_pages
from marc2rdf_spark.streaming.incremental import run_available_now, window_batch


def _write_pages(spark, path, start, end):
    from marc2rdf_spark.schema import WEB_PAGES_SCHEMA

    rows = [r for i in range(start, end) for r in gen_pages(i, i + 1)]
    spark.createDataFrame(rows, WEB_PAGES_SCHEMA).write.mode("append").parquet(
        path
    )


def test_available_now_incremental(spark, tmp_path):
    pages = str(tmp_path / "pages")
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")

    _write_pages(spark, pages, 0, 11)
    run_available_now(spark, pages, out, ckpt, mapping="dummy")
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    subj1 = {
        r.subj for r in spark.read.parquet(out).select("subj").distinct().collect()
    }

    # second batch of NEW files only
    _write_pages(spark, pages, 11, 22)
    run_available_now(spark, pages, out, ckpt, mapping="dummy")
    df = spark.read.parquet(out)
    n2 = df.count()
    assert n2 > n1
    # old records were not reprocessed: record-subject triples appear
    # exactly once.  (Shared AUTHORITY-node triples legitimately repeat
    # across batches — global dedup is the materialize stage's job.)
    dup_records = (
        df.filter(F.col("subj").startswith("http://example.com/id_"))
        .groupBy("subj", "pred", "obj", "lang", "dtype")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup_records == 0
    assert subj1 < {
        r.subj for r in df.select("subj").distinct().collect()
    }


def test_available_now_tombstones(spark, tmp_path):
    """A later batch delivering OAI deleted-record envelopes must purge
    those subjects (incl. inbound edges) from the merge-on-read view,
    without reprocessing old files (U6 through the availableNow path)."""
    from marc2rdf_spark.schema import WEB_PAGES_SCHEMA
    from marc2rdf_spark.sources.synth import gen_tombstone_page
    from marc2rdf_spark.streaming.incremental import read_converted

    pages = str(tmp_path / "pages")
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")

    _write_pages(spark, pages, 0, 6)
    run_available_now(spark, pages, out, ckpt, mapping="dummy")
    before = read_converted(spark, out)
    doomed = "http://example.com/id_7000002"
    assert before.filter(F.col("subj") == doomed).count() > 0

    # batch 2: one deleted-record envelope for record 2
    spark.createDataFrame(
        [gen_tombstone_page(2)], WEB_PAGES_SCHEMA
    ).write.mode("append").parquet(pages)
    run_available_now(spark, pages, out, ckpt, mapping="dummy")

    after = read_converted(spark, out)
    assert after.filter(F.col("subj") == doomed).count() == 0
    assert after.filter(F.col("obj") == doomed).count() == 0
    # other subjects survive
    assert after.filter(
        F.col("subj") == "http://example.com/id_7000003"
    ).count() > 0


def test_tombstone_then_redelivery_survives(spark, tmp_path):
    """ADVICE r2: a record deleted in batch N and re-delivered
    (un-deleted) in batch N+1 must NOT be suppressed by the stale
    tombstone — the reference executes the DELETE at tombstone arrival
    (sparql_update.rb), so a later re-harvest re-inserts there."""
    from marc2rdf_spark.schema import WEB_PAGES_SCHEMA
    from marc2rdf_spark.sources.synth import gen_tombstone_page
    from marc2rdf_spark.streaming.incremental import read_converted

    pages = str(tmp_path / "pages")
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")
    doomed = "http://example.com/id_7000002"

    # batch 1: records 0..5
    _write_pages(spark, pages, 0, 6)
    run_available_now(spark, pages, out, ckpt, mapping="dummy")
    # batch 2: tombstone for record 2
    spark.createDataFrame(
        [gen_tombstone_page(2)], WEB_PAGES_SCHEMA
    ).write.mode("append").parquet(pages)
    run_available_now(spark, pages, out, ckpt, mapping="dummy")
    assert read_converted(spark, out).filter(
        F.col("subj") == doomed
    ).count() == 0
    # batch 3: record 2 re-delivered (OAI status flipped back)
    _write_pages(spark, pages, 2, 3)
    run_available_now(spark, pages, out, ckpt, mapping="dummy")
    revived = read_converted(spark, out)
    assert revived.filter(F.col("subj") == doomed).count() > 0


def test_mixed_oai_page_converts_live_and_purges_dead(spark, tmp_path):
    """A single OAI ListRecords page with a live envelope AND a deleted
    envelope (the real harvest shape) must convert the live record and
    purge the tombstoned one in the same batch — the page-level
    tombstone filter must not swallow the live record."""
    from marc2rdf_spark.schema import WEB_PAGES_SCHEMA
    from marc2rdf_spark.sources.synth import gen_oai_mixed_page
    from marc2rdf_spark.streaming.incremental import read_converted

    pages = str(tmp_path / "pages")
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: records 0..5 live
    _write_pages(spark, pages, 0, 6)
    run_available_now(spark, pages, out, ckpt, mapping="dummy")
    # batch 2: ONE page re-delivering record 8 (new) and deleting 2
    spark.createDataFrame(
        [gen_oai_mixed_page(8, 2)], WEB_PAGES_SCHEMA
    ).write.mode("append").parquet(pages)
    run_available_now(spark, pages, out, ckpt, mapping="dummy")

    after = read_converted(spark, out)
    assert after.filter(
        F.col("subj") == "http://example.com/id_7000008"
    ).count() > 0
    assert after.filter(
        F.col("subj") == "http://example.com/id_7000002"
    ).count() == 0


def test_window_batch_prunes(spark):
    import datetime as dt

    from marc2rdf_spark.schema import WEB_PAGES_SCHEMA
    from marc2rdf_spark.sources.synth import BASE_TS

    rows = [r for i in range(20) for r in gen_pages(i, i + 1)]
    pages = spark.createDataFrame(rows, WEB_PAGES_SCHEMA)
    win = window_batch(
        pages,
        from_ts=BASE_TS + dt.timedelta(seconds=5),
        until_ts=BASE_TS + dt.timedelta(seconds=10),
    )
    assert win.count() == 5
    # the predicate must be pushed to the scan for file pruning
    plan = win._jdf.queryExecution().executedPlan().toString()
    assert "warc_ts" in plan


def test_legacy_unstamped_rows_purge_deterministically(spark):
    """ADVICE r3: rows with NULL batch_id (legacy pre-stamping files in
    a mixed store) must resolve as 'before every tombstone' — purged by
    any tombstone for their subject — not read nondeterministically."""
    from marc2rdf_spark.streaming.incremental import (
        apply_tombstones_versioned,
    )

    triples = spark.createDataFrame(
        [
            ("s1", "p", "o", None),      # legacy row, tombstoned subj
            ("s2", "p", "o", None),      # legacy row, no tombstone
            ("s1", "p", "o2", 5),        # re-delivered AFTER tombstone
        ],
        "subj string, pred string, obj string, batch_id long",
    )
    tombs = spark.createDataFrame(
        [("s1", 3)], "subj string, batch_id long"
    )
    out = apply_tombstones_versioned(triples, tombs)
    rows = {(r.subj, r.obj) for r in out.collect()}
    assert rows == {("s2", "o"), ("s1", "o2")}


def test_legacy_unstamped_tombstone_still_purges(spark, tmp_path):
    """Review r4 finding: a tombstone with NULL batch_id (legacy file
    in a mixed store) must still purge the legacy triples of its
    subject — coalescing only the triple side made max(batch_id) NULL
    and the tombstone purged NOTHING, leaking the deleted record.
    read_converted applies the same rule when the tombstone files
    carry no batch_id column at all, before and after a stamped
    tombstone file joins them."""
    from marc2rdf_spark.streaming.incremental import (
        apply_tombstones_versioned,
        read_converted,
    )

    triples = spark.createDataFrame(
        [
            ("s1", "p", "o", None),   # legacy triple, legacy tombstone
            ("s1", "p", "o2", 3),     # stamped AFTER the legacy era
            ("s2", "p", "o", None),   # no tombstone
        ],
        "subj string, pred string, obj string, batch_id long",
    )
    tombs = spark.createDataFrame(
        [("s1", None)], "subj string, batch_id long"
    )
    out = apply_tombstones_versioned(triples, tombs)
    rows = {(r.subj, r.obj) for r in out.collect()}
    assert rows == {("s1", "o2"), ("s2", "o")}

    store = str(tmp_path / "store")
    triples.write.parquet(store)
    tombs.select("subj").write.parquet(store + "_tombstones")
    read = {(r.subj, r.obj) for r in read_converted(spark, store).collect()}
    assert read == rows
    spark.createDataFrame(
        [("s9", 4)], "subj string, batch_id long"
    ).write.mode("append").parquet(store + "_tombstones")
    read = {(r.subj, r.obj) for r in read_converted(spark, store).collect()}
    assert read == rows
