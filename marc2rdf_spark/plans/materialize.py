"""Resumable three-stage materialization (SURVEY.md §7 step 6; raw
staging zone per S5):

 stage "extract":     pages bucketed by url-hash -> raw RECORDS
                      (url, record_xml, parsed struct) — the
                      pre-conversion replay zone (the reference stages
                      raw harvest XML to db/converted/full/*.xml and
                      replays it, scheduler.rb:477-485,
                      oaiclient.rb:112-124).  Keyed by ``extract_id`` so
                      a mapping change replays conversion WITHOUT
                      re-running the Arrow extract stage.
 stage "convert":     raw records -> raw triples, written
                      partitionBy(bucket) with dynamic partition
                      overwrite; lineage row per bucket.
 stage "materialize": raw triples re-bucketed by triple-hash (so global
                      dedup is bucket-local => exactly-once semantics),
                      dropDuplicates within bucket, written
                      partitionBy(bucket); lineage row per bucket.

Kill the job at any point and re-run with the same run_id: done buckets
are skipped, partial buckets are overwritten — the final triple set is
identical (tests/test_resume.py).

Each stage's bucket files are clustered by the stage key: raw records
by ``url``, raw triples by ``TRIPLE_COLS + url``, final triples by
``TRIPLE_COLS``.  Neighbouring rows then share prefixes and repeat
values, which the Parquet encodings and the session's zstd codec
compress (``session.py``), and a subject lookup on the final zone
(``operators.store.select_record``) can skip row groups by their
min/max.  The clustering extends the Sort that the partitioned write
already runs; see ``_overwrite_partitions`` for why it must stay there
(tests/test_storage_layout.py).  Row order is not part of any
contract."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compiler import MappingCompiler
from ..config import Library, Mapping
from ..sources.extract import extract_and_parse
from .lineage import LineageLog
from .pipeline import TRIPLE_COLS, load_mapping

EXTRACT_STAGE = "extract"
RAW_STAGE = "convert"
FINAL_STAGE = "materialize"


def _with_bucket(df: DataFrame, cols: list[str], n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")
    )


def _overwrite_partitions(df: DataFrame, path: str, key: list[str]) -> None:
    """Commit ``df``'s buckets under ``path`` by dynamic partition
    overwrite, each bucket's rows clustered by ``key`` (the stage key:
    ``url`` for raw records, ``TRIPLE_COLS + url`` for raw triples,
    ``TRIPLE_COLS`` for final triples).

    A partitioned write already sorts its input by ``bucket`` (Spark's
    planned V1 write adds ``Sort [bucket]`` under ``WriteFiles``).  A
    frame sorted within partitions by ``(bucket, *key)`` satisfies that
    ordering, so the planner keeps this one Sort with the longer key:
    the clustering costs no extra operator.  It must stay here, on the
    checkpointed frame, and not move into a stage's ``build``: a sort
    before the ``localCheckpoint`` runs inside the checkpoint, and the
    write, which does not see that order, adds its own ``Sort [bucket]``
    on top of it — two sorts, with the clustering surviving only because
    Spark's sorter happens to be stable."""
    (
        df.sortWithinPartitions("bucket", *key)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )


def _run_stage(
    lineage: LineageLog,
    done: dict[tuple[str, str], set[int]],
    run_id: str,
    stage: str,
    source: DataFrame,
    build: Callable[[DataFrame], DataFrame],
    path: str,
    key: list[str],
) -> None:
    """Run one resumable stage over the buckets of ``source`` that have
    no done lineage row for (run_id, stage) in ``done``, the log as read
    at the start of the run.

    ``source`` is the stage's bucketed input as scanned, so the
    emptiness probe reads a scan, never a shuffle.  ``build`` turns the
    pending input rows into the stage's bucketed output; it runs once,
    inside the eager checkpoint, and its buckets are committed by
    dynamic partition overwrite before their lineage rows are appended
    (a bucket is done only once its data is).  ``key`` orders the rows
    within each committed bucket (``_overwrite_partitions``)."""
    skip = done[(run_id, stage)]
    todo = source.filter(~F.col("bucket").isin(list(skip))) if skip else source
    if todo.isEmpty():
        return
    out = build(todo).localCheckpoint(eager=True)
    _overwrite_partitions(out, path, key)
    # input_rows: distinct source urls, for the stages that carry one
    input_rows = (
        F.countDistinct("url") if "url" in out.columns
        else F.lit(None).cast("long")
    )
    counts = out.groupBy("bucket").agg(
        input_rows.alias("input_rows"), F.count("*").alias("output_triples")
    ).select(
        F.col("bucket").alias("partition_id"), "input_rows", "output_triples"
    )
    lineage.append(run_id, stage, counts)


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str,
    mapping: Mapping | str = "skeleton",
    n_buckets: int = 32,
    extract_id: str | None = None,
) -> DataFrame:
    """Execute (or resume) the extract+convert+materialize stages;
    returns the final deduplicated triples DF.

    ``extract_id`` keys the raw-records staging zone (defaults to
    run_id).  To replay a mapping change without re-extraction, pass a
    NEW run_id with the ORIGINAL run's extract_id — the staged records
    parquet is reused and only convert+materialize re-run."""
    if isinstance(mapping, str):
        mapping = load_mapping(mapping)
    extract_id = extract_id or run_id
    lineage = LineageLog(spark, f"{out_dir}/_lineage")
    # one lineage read per run: a stage appends only its own rows, after
    # its own read, so what each stage would read itself is read here
    done = lineage.done_buckets(
        (extract_id, EXTRACT_STAGE), (run_id, RAW_STAGE), (run_id, FINAL_STAGE)
    )
    # staging zone keyed BY PATH per extract_id (not just in lineage):
    # two runs with different extract_ids in one out_dir must not mix
    # staged buckets (dynamic partition overwrite would leave the other
    # run's buckets in place and convert would read the union)
    records_path = f"{out_dir}/raw_records/{extract_id}"
    raw_path = f"{out_dir}/raw_triples"
    final_path = f"{out_dir}/triples"

    # ---- stage 0: extract (raw pre-conversion staging zone, S5) --------
    _run_stage(
        lineage, done, extract_id, EXTRACT_STAGE,
        _with_bucket(pages, ["url"], n_buckets),
        lambda todo: _with_bucket(
            extract_and_parse(todo.drop("bucket")), ["url"], n_buckets
        ),
        records_path, ["url"],
    )

    # ---- stage 1: convert (bucketed by url hash) -----------------------
    try:
        raw_records = spark.read.parquet(records_path)
    except AnalysisException as e:  # PATH_NOT_FOUND
        raise FileNotFoundError(
            f"no staged records for extract_id={extract_id!r} under "
            f"{out_dir}/raw_records/ — a replay must reference an "
            "extract_id whose extract stage ran in this out_dir"
        ) from e
    _run_stage(
        lineage, done, run_id, RAW_STAGE, raw_records,
        lambda todo: _with_bucket(
            MappingCompiler(mapping, Library()).convert(todo.drop("bucket")),
            ["url"], n_buckets,
        ).select(*TRIPLE_COLS, "url", "bucket"),
        raw_path, TRIPLE_COLS + ["url"],
    )

    # ---- stage 2: materialize (global dedup via triple-hash buckets) ---
    _run_stage(
        lineage, done, run_id, FINAL_STAGE,
        _with_bucket(
            spark.read.parquet(raw_path).drop("bucket"), TRIPLE_COLS,
            n_buckets,
        ),
        lambda todo: todo.dropDuplicates(TRIPLE_COLS + ["bucket"]).select(
            *TRIPLE_COLS, "bucket"
        ),
        final_path, TRIPLE_COLS,
    )

    return spark.read.parquet(final_path).select(*TRIPLE_COLS)
