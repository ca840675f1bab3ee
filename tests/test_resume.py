"""Resumability test (north rule): kill/damage mid-run state, re-run
with the same run_id, assert the final triple set is identical and
deduplicated (FIXTURES.md §6)."""

import datetime as dt
import glob
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from marc2rdf_spark.plans.lineage import LineageLog
from marc2rdf_spark.plans.materialize import (
    EXTRACT_STAGE,
    FINAL_STAGE,
    RAW_STAGE,
    run_resumable,
)
from marc2rdf_spark.schema import LINEAGE_SCHEMA
from marc2rdf_spark.sources.synth import synth_web_pages

N_PAGES = 33
N_BUCKETS = 8


def _run(spark, out_dir):
    pages = synth_web_pages(spark, N_PAGES, partitions=4)
    return run_resumable(
        spark, pages, out_dir, run_id="r1", mapping="dummy",
        n_buckets=N_BUCKETS,
    )


def _tripleset(df):
    return {tuple(r) for r in df.collect()}


def test_resume_after_partial_materialize(spark, tmp_path):
    out = str(tmp_path / "kg")
    full = _tripleset(_run(spark, out))
    assert len(full) > 100

    # simulate a mid-materialize crash: drop half the final buckets'
    # data AND their lineage rows
    lineage = LineageLog(spark, f"{out}/_lineage")
    rows = lineage.read().collect()
    keep = [
        r
        for r in rows
        if not (r.stage == FINAL_STAGE and r.partition_id % 2 == 0)
    ]
    shutil.rmtree(f"{out}/_lineage")
    spark.createDataFrame(keep, lineage.read().schema).write.parquet(
        f"{out}/_lineage"
    )
    for b in range(0, N_BUCKETS, 2):
        bucket_dir = f"{out}/triples/bucket={b}"
        if os.path.exists(bucket_dir):
            shutil.rmtree(bucket_dir)

    resumed = _tripleset(_run(spark, out))
    assert resumed == full

    # exactly-once: no duplicated triples in the final table
    # (see also test_mapping_replay_reuses_raw_records for the raw
    # staging-zone replay path)
    final = spark.read.parquet(f"{out}/triples")
    total = final.count()
    distinct = final.select("subj", "pred", "obj", "lang", "dtype").distinct().count()
    assert total == distinct

    # skipped buckets were not redone (only even buckets got new rows)
    done_rows = (
        LineageLog(spark, f"{out}/_lineage")
        .read()
        .filter(F.col("stage") == FINAL_STAGE)
        .groupBy("partition_id")
        .count()
        .collect()
    )
    redone = {r.partition_id for r in done_rows if r["count"] > 1}
    assert all(b % 2 == 0 for b in redone)

    # a run on the finished directory finds every stage empty: no
    # lineage rows appended, same triple set
    n_lineage = LineageLog(spark, f"{out}/_lineage").read().count()
    assert _tripleset(_run(spark, out)) == full
    assert LineageLog(spark, f"{out}/_lineage").read().count() == n_lineage


def test_resume_skips_converted_buckets(spark, tmp_path):
    """Stage-1 outputs survive: wiping only the final stage reuses raw
    triples without re-extracting."""
    out = str(tmp_path / "kg2")
    full = _tripleset(_run(spark, out))

    shutil.rmtree(f"{out}/triples")
    lineage = LineageLog(spark, f"{out}/_lineage")
    keep = [r for r in lineage.read().collect() if r.stage != FINAL_STAGE]
    shutil.rmtree(f"{out}/_lineage")
    spark.createDataFrame(keep, lineage.read().schema).write.parquet(
        f"{out}/_lineage"
    )

    resumed = _tripleset(_run(spark, out))
    assert resumed == full


def test_mapping_replay_reuses_raw_records(spark, tmp_path):
    """S5 raw staging zone: a mapping change replays conversion from the
    staged records parquet WITHOUT re-running the Arrow extract stage
    (reference analogue: scheduler.rb:477-485 replay of db/converted
    XML dumps)."""
    from marc2rdf_spark.plans.materialize import EXTRACT_STAGE
    from marc2rdf_spark.plans.pipeline import synth_and_convert
    from marc2rdf_spark.schema import WEB_PAGES_SCHEMA

    out = str(tmp_path / "kg3")
    _run(spark, out)  # run r1 with the dummy mapping
    lineage = LineageLog(spark, f"{out}/_lineage")
    # empty url-hash buckets get no lineage row (counts are data-derived)
    n_extract = lineage.read().filter(F.col("stage") == EXTRACT_STAGE).count()
    assert n_extract >= 1

    # replay with the skeleton mapping under a NEW run_id, reusing r1's
    # raw zone; the EMPTY pages DF proves extraction cannot have re-run
    empty = spark.createDataFrame([], WEB_PAGES_SCHEMA)
    replayed = _tripleset(
        run_resumable(
            spark, empty, out, run_id="r2", mapping="skeleton",
            n_buckets=N_BUCKETS, extract_id="r1",
        )
    )
    expected = _tripleset(
        synth_and_convert(spark, N_PAGES, "skeleton").select(
            "subj", "pred", "obj", "obj_is_uri", "lang", "dtype"
        )
    )
    assert replayed == expected
    # no new extract lineage rows were appended by the replay
    assert (
        lineage.read().filter(F.col("stage") == EXTRACT_STAGE).count()
        == n_extract
    )


def test_run_reads_the_lineage_log_once(spark, tmp_path, monkeypatch):
    """run_resumable reads the done buckets of all three stages in one
    read at its start; a fresh output directory has no log, so nothing
    reads it at all."""
    reads = []
    read = LineageLog.read
    monkeypatch.setattr(
        LineageLog, "read", lambda self: reads.append(1) or read(self)
    )
    out = str(tmp_path / "kg4")
    full = _tripleset(_run(spark, out))
    assert reads == []
    assert _tripleset(_run(spark, out)) == full  # every stage done
    assert reads == [1]


def test_fresh_run_lineage_matches_committed_zones(spark, tmp_path):
    """One done row per (stage, bucket) whose counts are those of the
    bucket as committed, stamped inside the run's wall-clock window and
    written with the log's own column types."""
    out = str(tmp_path / "kg")
    t0 = dt.datetime.now()
    _run(spark, out)
    t1 = dt.datetime.now()

    def committed(stage, zone, distinct_urls):
        per_bucket = spark.read.parquet(f"{out}/{zone}").groupBy("bucket").agg(
            F.countDistinct("url") if distinct_urls
            else F.lit(None).cast("long"),
            F.count("*"),
        )
        return {("r1", stage, *r, "done") for r in per_bucket.collect()}

    expected = (
        committed(EXTRACT_STAGE, "raw_records/r1", True)
        | committed(RAW_STAGE, "raw_triples", True)
        | committed(FINAL_STAGE, "triples", False)
    )
    rows = LineageLog(spark, f"{out}/_lineage").read().collect()
    assert {
        (r.run_id, r.stage, r.partition_id, r.input_rows, r.output_triples,
         r.status)
        for r in rows
    } == expected
    assert len(rows) == len(expected)
    assert all(t0 <= r.updated_at <= t1 for r in rows)

    # the files themselves, read without the log's schema
    written = spark.read.parquet(f"{out}/_lineage").schema
    assert [(f.name, f.dataType) for f in written] == [
        (f.name, f.dataType) for f in LINEAGE_SCHEMA
    ]
    arrow = pq.read_schema(glob.glob(f"{out}/_lineage/*.parquet")[0])
    assert str(arrow.field("partition_id").type) == "int32"
    assert str(arrow.field("updated_at").type).startswith("timestamp[")
