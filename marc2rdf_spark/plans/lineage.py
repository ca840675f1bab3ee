"""Per-partition lineage + metrics checkpointing (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

The reference logs per-job counters to an append-only history JSON
(scheduler.rb:177-183,249-254); at cluster scale that becomes an
append-only lineage table: one row per (run_id, stage, partition/bucket)
with input/output counts and completion status.  A stage is resumable
because (a) its output is written with dynamic partition overwrite keyed
by a deterministic bucket column, so re-processing a bucket is
idempotent, and (b) the lineage row for a bucket is appended only after
the bucket's data is committed — on restart, buckets without a 'done'
row are recomputed and their partial output overwritten.

Sandbox implementation is parquet-append; on Iceberg the same contract
maps to MERGE + snapshot isolation."""

from __future__ import annotations

import datetime as dt
import operator
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import LINEAGE_SCHEMA, local_frame


class LineageLog:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return os.path.exists(self.path) and any(
            f.endswith(".parquet")
            for _, _, files in os.walk(self.path)
            for f in files
        )

    def read(self) -> DataFrame:
        """The whole log; a missing log reads as an empty frame that
        runs no Python worker task."""
        if not self._exists():
            return local_frame(self.spark, [], LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)

    def done_buckets(
        self, *keys: tuple[str, str]
    ) -> dict[tuple[str, str], set[int]]:
        """Buckets with a done row, per (run_id, stage) key, in one read.
        A missing log (every fresh run) answers without a Spark job."""
        done: dict[tuple[str, str], set[int]] = {k: set() for k in keys}
        if not self._exists():
            return done
        wanted = reduce(operator.or_, [
            (F.col("run_id") == run_id) & (F.col("stage") == stage)
            for run_id, stage in keys
        ])
        rows = (
            self.read()
            .filter(wanted & (F.col("status") == "done"))
            .select("run_id", "stage", "partition_id")
            .collect()
        )
        for r in rows:
            done[(r.run_id, r.stage)].add(r.partition_id)
        return done

    def append(self, run_id: str, stage: str, bucket_counts: DataFrame) -> None:
        """bucket_counts: (partition_id, input_rows, output_triples).

        The counts (one row per bucket) are collected and written back
        as one ``local_frame`` with the run's timestamp inside its JSON
        literal.  A string literal reaches generated code as a reference
        to a constant, but a timestamp literal (``F.lit(now)``) is
        inlined into the generated Java: every call would then produce
        a new source and compile its classes again, in every warm job."""
        now = dt.datetime.now().astimezone().isoformat()
        rows = [
            {
                "run_id": run_id,
                "stage": stage,
                "partition_id": r.partition_id,
                "input_rows": r.input_rows,
                "output_triples": r.output_triples,
                "status": "done",
                "updated_at": now,
            }
            for r in bucket_counts.collect()
        ]
        local_frame(self.spark, rows, LINEAGE_SCHEMA).write.mode(
            "append"
        ).parquet(self.path)
