"""Storage layout of the committed zones.

Every Parquet file a ``run_resumable`` commits is zstd-compressed (the
session's codec), and each resumable stage's bucket files hold their
rows clustered by the stage key.  The clustering rides the one Sort a
partitioned write already plans (``Sort [bucket]`` under
``WriteFiles``): the stage writer extends its key, and no second Sort
appears (``plans.materialize._overwrite_partitions``)."""

import glob
import os
import re
import shutil

import pyarrow.parquet as pq
import pytest

from marc2rdf_spark.plans.lineage import LineageLog
from marc2rdf_spark.plans.materialize import FINAL_STAGE, run_resumable
from marc2rdf_spark.plans.pipeline import TRIPLE_COLS
from marc2rdf_spark.sources.synth import synth_web_pages

N_BUCKETS = 4
ZONES = ("raw_records", "raw_triples", "triples", "_lineage")
# each stage's zone -> the key its bucket files are clustered by
STAGE_KEYS = {
    "raw_records": ["url"],
    "raw_triples": TRIPLE_COLS + ["url"],
    "triples": TRIPLE_COLS,
}


def _run(spark, out_dir):
    pages = synth_web_pages(spark, 40, partitions=4)
    run_resumable(
        spark, pages, out_dir, run_id="r1", mapping="skeleton",
        n_buckets=N_BUCKETS,
    )


def _zone_writes(spark, job) -> list[tuple[str, str]]:
    """(zone, formatted physical plan) of every Parquet insert into a
    stage zone that ``job()`` executes, read from Spark's SQL status
    store (filled with or without the UI)."""
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc.listenerBus().waitUntilEmpty()
        ex = store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    seen = {e.executionId() for e in executions()}
    job()
    writes = []
    for e in executions():
        plan = e.physicalPlanDescription()
        if e.executionId() in seen or "InsertIntoHadoopFsRelationCommand" not in plan:
            continue
        target = re.search(r"InsertIntoHadoopFsRelationCommand\n"
                           r"Input: \[\]\nArguments: (\S+),", plan).group(1)
        # raw_records is committed under raw_records/<extract_id>
        zone = next(
            (z for z in STAGE_KEYS if z in target.split("/")[-2:]), None
        )
        if zone is not None:
            writes.append((zone, plan))
    return writes


def _sorts_under_write(plan: str) -> list[list[str]]:
    """The column names of each Sort in the plan's tree below
    ``WriteFiles``, in key order."""
    tree, details = plan.split("\n\n\n", 1)
    below = tree.split("WriteFiles", 1)[1]
    ids = re.findall(r"Sort \((\d+)\)", below)
    keys = []
    for i in ids:
        args = re.search(
            rf"\({i}\) Sort[^\n]*\n(?:[^\n]*\n)*?Arguments: \[([^\]]*)\]",
            details,
        ).group(1)
        keys.append(re.findall(r"(\w+)#\d+ ASC NULLS FIRST", args))
    return keys


def _spark_key(row: tuple) -> tuple:
    """Spark's ascending order: nulls first, False < True; Python's
    code-point order on ``str`` is Spark's UTF-8 byte order."""
    return tuple((v is not None, v) for v in row)


def _assert_files_clustered(bucket_dir: str, key: list[str]) -> None:
    files = glob.glob(os.path.join(bucket_dir, "*.parquet"))
    assert files, bucket_dir
    for f in files:
        t = pq.read_table(f, columns=key)
        rows = [_spark_key(r) for r in zip(*(t.column(c).to_pylist() for c in key))]
        assert rows, f
        assert all(a <= b for a, b in zip(rows, rows[1:])), f


@pytest.fixture(scope="module")
def fresh_run(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("layout") / "kg")
    writes = _zone_writes(spark, lambda: _run(spark, out))
    return out, writes


def test_every_zone_is_zstd(fresh_run):
    out, _ = fresh_run
    for zone in ZONES:
        files = glob.glob(os.path.join(out, zone, "**", "*.parquet"), recursive=True)
        assert files, zone
        for f in files:
            meta = pq.ParquetFile(f).metadata
            codecs = {
                meta.row_group(g).column(c).compression
                for g in range(meta.num_row_groups)
                for c in range(meta.num_columns)
            }
            assert codecs == {"ZSTD"}, (f, codecs)


def test_stage_buckets_are_clustered_by_stage_key(fresh_run):
    out, _ = fresh_run
    for zone in ("raw_triples", "triples"):
        buckets = glob.glob(os.path.join(out, zone, "bucket=*"))
        assert len(buckets) == N_BUCKETS, zone
        for b in buckets:
            _assert_files_clustered(b, STAGE_KEYS[zone])


def test_each_stage_write_runs_one_sort_by_bucket_then_stage_key(fresh_run):
    _, writes = fresh_run
    assert sorted(z for z, _ in writes) == sorted(STAGE_KEYS)
    for zone, plan in writes:
        assert _sorts_under_write(plan) == [["bucket"] + STAGE_KEYS[zone]], (
            zone, plan,
        )


def test_resumed_buckets_are_clustered(spark, fresh_run, tmp_path):
    """A partial-materialize resume rewrites the damaged buckets with
    the same layout, through the same single Sort."""
    out = str(tmp_path / "kg")
    shutil.copytree(fresh_run[0], out)
    lineage = LineageLog(spark, f"{out}/_lineage")
    rows = lineage.read().collect()
    keep = [
        r for r in rows
        if not (r.stage == FINAL_STAGE and r.partition_id % 2 == 0)
    ]
    shutil.rmtree(f"{out}/_lineage")
    spark.createDataFrame(keep, lineage.read().schema).write.parquet(
        f"{out}/_lineage"
    )
    redone = range(0, N_BUCKETS, 2)
    for b in redone:
        shutil.rmtree(f"{out}/triples/bucket={b}")

    writes = _zone_writes(spark, lambda: _run(spark, out))

    assert [z for z, _ in writes] == ["triples"]
    assert _sorts_under_write(writes[0][1]) == [["bucket"] + TRIPLE_COLS]
    for b in redone:
        _assert_files_clustered(f"{out}/triples/bucket={b}", TRIPLE_COLS)
