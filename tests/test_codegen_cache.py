"""A warm job compiles no generated code.

Spark caches each compiled class by its generated source, so a job that
repeats an earlier one compiles nothing as long as (a) the cache holds
the pipeline's whole working set (``session.CODEGEN_CACHE_ENTRIES``) and
(b) no per-run value is inlined into a generated stage as a primitive
literal (the lineage timestamp, the streaming batch stamp).  Each test
runs the same job twice and counts janino compiles around the second."""

import os

from marc2rdf_spark.plans.materialize import run_resumable
from marc2rdf_spark.plans.pipeline import full_pipeline
from marc2rdf_spark.session import CODEGEN_CACHE_ENTRIES
from marc2rdf_spark.sources.synth import synth_web_pages
from marc2rdf_spark.streaming.incremental import run_available_now

LABEL = "http://def.bibsys.no/xmlns/radatana/1.0#catalogueName"


def _compiles(spark, job) -> int:
    """Janino compiles in the JVM while ``job()`` runs."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    job()
    return metrics.METRIC_COMPILATION_TIME().getCount() - before


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    assert CODEGEN_CACHE_ENTRIES >= 1000


def test_warm_resumable_run_compiles_nothing(spark, tmp_path):
    pages = synth_web_pages(spark, 24, partitions=2)

    def job(out):
        run_resumable(
            spark, pages, str(tmp_path / out), run_id="r1", mapping="dummy",
            n_buckets=4,
        ).count()

    job("first")
    assert _compiles(spark, lambda: job("second")) == 0


def test_warm_convert_and_link_compiles_nothing(spark, tmp_path):
    """The ``jobs/convert_job.py --link`` path: resumable convert, then
    the link tail (link, connected components, canonicalize) and its
    write.  Its working set is larger than Spark's default cache."""
    pages = synth_web_pages(spark, 24, partitions=2)
    authorities = spark.read.parquet(
        os.path.join("fixtures", "golden", "authorities.parquet")
    )

    def job(out):
        out_dir = str(tmp_path / out)
        triples = run_resumable(
            spark, pages, out_dir, run_id="r1", mapping="skeleton", n_buckets=4
        )
        full_pipeline(triples, authorities, [LABEL]).write.parquet(
            f"{out_dir}/triples_canonical"
        )
        spark.read.parquet(f"{out_dir}/triples_canonical").count()

    job("first")
    assert _compiles(spark, lambda: job("second")) == 0


def test_next_micro_batch_compiles_nothing(spark, tmp_path):
    pages = str(tmp_path / "pages")
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")

    def add_pages(start):
        synth_web_pages(spark, 6, partitions=1, start=start).write.mode(
            "append"
        ).parquet(pages)

    def job():
        run_available_now(spark, pages, out, ckpt, mapping="dummy")

    add_pages(0)
    job()
    add_pages(6)
    assert _compiles(spark, job) == 0
    assert spark.read.parquet(out).select("batch_id").distinct().count() == 2
