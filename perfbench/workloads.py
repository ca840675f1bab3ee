"""Spark side of the workloads: the timed jobs, their correctness checks,
and the traced layer sequences.  The library is driven only through its
public functions."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

import gen
from marc2rdf_spark.compiler import MappingCompiler
from marc2rdf_spark.config import Library
from marc2rdf_spark.operators.components import (
    canonicalize_triples,
    connected_components,
)
from marc2rdf_spark.operators.linking import (
    blocked,
    link_mentions,
    mention_nodes,
    sameas_edges,
)
from marc2rdf_spark.plans.lineage import LineageLog
from marc2rdf_spark.plans.materialize import FINAL_STAGE, run_resumable
from marc2rdf_spark.plans.pipeline import TRIPLE_COLS, load_mapping
from marc2rdf_spark.schema import LINEAGE_SCHEMA
from marc2rdf_spark.sources.extract import extract_and_parse

N_BUCKETS = 8
RUN_ID = "bench"


def fingerprint(df) -> tuple[int, int]:
    """Spark twin of ``gen.fingerprint`` over a committed triple table
    (not deduplicated here: duplicates must fail the gate)."""
    key = F.concat_ws(
        gen.SEP,
        *[F.coalesce(F.col(c).cast("string"), F.lit(gen.NUL)) for c in TRIPLE_COLS],
    )
    h = F.conv(F.substring(F.sha2(key, 256), 1, 15), 16, 10).cast("decimal(38,0)")
    row = df.select(h.alias("h")).agg(F.count("*"), F.sum("h")).collect()[0]
    return int(row[0]), int(row[1] or 0)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, files in os.walk(path)
        for f in files
    )


# ---------------------------------------------------------------------------
# convert / convert_unique
# ---------------------------------------------------------------------------


def convert_job(spark, pages_dir: str, out_dir: str):
    """The production job: extract -> convert -> materialize + lineage
    into a fresh output directory.  Returns the committed triples."""
    pages = spark.read.parquet(pages_dir)
    return run_resumable(
        spark, pages, out_dir, RUN_ID, mapping=gen.MAPPING, n_buckets=N_BUCKETS
    )


def _resume_dir(spark, src: str, dst: str) -> None:
    """A copy of a finished output directory with the materialize stage
    removed: extract and convert stay committed, so ``run_resumable`` on
    it runs only dedup, write and lineage (the documented resume path)."""
    shutil.copytree(src, dst)
    shutil.rmtree(os.path.join(dst, "triples"))
    lineage_dir = os.path.join(dst, "_lineage")
    keep = (
        LineageLog(spark, lineage_dir).read()
        .filter(F.col("stage") != FINAL_STAGE).collect()
    )
    shutil.rmtree(lineage_dir)
    spark.createDataFrame(keep, LINEAGE_SCHEMA).write.parquet(lineage_dir)


def traced_convert(spark, tracer, inp: gen.ConvertInputs, done_dir: str,
                   work: str) -> tuple[dict, bool]:
    """One traced pass over the convert layers.  ``done_dir`` is a
    finished output of ``convert_job`` on the same pages."""
    m: dict[str, float] = {}
    pages = spark.read.parquet(inp.pages_dir)
    with tracer.span("sources.extract.scan"):
        pages.write.format("noop").mode("overwrite").save()
    with tracer.span("sources.extract"):
        records = extract_and_parse(pages).localCheckpoint(eager=True)
    m["sources.extract.pages_in"] = pages.count()
    m["sources.extract.records_out"] = records.count()

    with tracer.span("compiler.plan_build"):
        triples = MappingCompiler(load_mapping(gen.MAPPING), Library()).convert(
            records, cache_records=True
        )
        triples._jdf.queryExecution().executedPlan()  # analysis + planning
    with tracer.span("compiler.convert"):
        raw = triples.localCheckpoint(eager=True)
    m["compiler.triples_raw"] = raw.count()

    resume = os.path.join(work, "resume")
    _resume_dir(spark, done_dir, resume)
    with tracer.wrapped(LineageLog, "done_buckets", "plans.lineage.done_buckets"), \
            tracer.wrapped(LineageLog, "append", "plans.lineage.append"), \
            tracer.wrapped(DataFrameWriter, "parquet", "plans.materialize.write",
                           unless_in=("plans.lineage.append",)):
        with tracer.span("plans.materialize"):
            committed = run_resumable(
                spark, pages, resume, RUN_ID, mapping=gen.MAPPING,
                n_buckets=N_BUCKETS,
            )
    fp = fingerprint(committed)
    n = fp[0]

    zone = spark.read.parquet(os.path.join(resume, "raw_triples"))
    n_raw = zone.count()
    per_record = zone.select("url", *TRIPLE_COLS).distinct().count()
    m["plans.materialize.distinct_ratio"] = n / n_raw
    m["plans.materialize.cross_record_dup_frac"] = (per_record - n) / n_raw
    m["plans.materialize.files_written"] = sum(
        f.endswith(".parquet")
        for _, _, files in os.walk(os.path.join(resume, "triples"))
        for f in files
    )
    m["plans.lineage.rows"] = LineageLog(
        spark, os.path.join(resume, "_lineage")
    ).read().count()
    return m, gen.gate(fp, inp.fp)


def convert_layers(spans, ev, m: dict) -> list[str]:
    """Fold span times and event-log task metrics into the convert layer
    metrics; returns the spans whose sum is the traced job time."""
    def g(group: str, key: str) -> float:
        return ev.get(group, {}).get(key, 0.0)

    m["sources.extract.scan_s"] = spans.total_s["sources.extract.scan"]
    m["sources.extract.busy_s"] = spans.total_s["sources.extract"]
    m["sources.extract.nonjvm_s"] = g("sources.extract", "nonjvm_s")
    m["sources.extract.records_per_page"] = (
        m["sources.extract.records_out"] / max(m["sources.extract.pages_in"], 1)
    )
    m["compiler.plan_build_s"] = spans.total_s["compiler.plan_build"]
    m["compiler.convert_s"] = spans.total_s["compiler.convert"]
    m["compiler.convert_cpu_s"] = g("compiler.convert", "cpu_s")
    m["compiler.convert_gc_s"] = g("compiler.convert", "gc_s")
    m["compiler.triples_per_record"] = (
        m["compiler.triples_raw"] / max(m["sources.extract.records_out"], 1)
    )
    m["plans.materialize.dedup_s"] = spans.self_s["plans.materialize"]
    m["plans.materialize.dedup_shuffle_write_mb"] = g("plans.materialize", "shuffle_write_mb")
    m["plans.materialize.dedup_shuffle_records"] = g("plans.materialize", "shuffle_records")
    m["plans.materialize.spill_mb"] = (
        g("plans.materialize", "spill_mb") + g("plans.materialize.write", "spill_mb")
    )
    m["plans.materialize.write_s"] = spans.total_s["plans.materialize.write"]
    m["plans.materialize.bytes_written_mb"] = g("plans.materialize.write", "output_mb")
    m["plans.lineage.done_buckets_s"] = spans.total_s["plans.lineage.done_buckets"]
    m["plans.lineage.append_s"] = spans.total_s["plans.lineage.append"]
    return ["sources.extract", "compiler.plan_build", "compiler.convert",
            "plans.materialize"]


# ---------------------------------------------------------------------------
# link_cc
# ---------------------------------------------------------------------------


def _link_inputs(spark, inp: gen.LinkInputs):
    return (
        spark.read.parquet(inp.triples_dir),
        spark.read.parquet(inp.authorities_dir),
        spark.read.parquet(inp.aliases_dir),
    )


def link_job(spark, inp: gen.LinkInputs, out_dir: str):
    """The curation tail: mentions -> blocked linking -> sameAs edges plus
    alias chains -> connected components -> canonicalize -> dedup ->
    write.  Returns (links, CC stats)."""
    triples, auths, aliases = _link_inputs(spark, inp)
    mentions = mention_nodes(triples, [gen.LABEL_PRED])
    links = link_mentions(mentions, auths).localCheckpoint(eager=True)
    stats: dict = {}
    comps = connected_components(
        sameas_edges(links).unionByName(aliases), stats=stats
    )
    canonicalize_triples(triples, comps).dropDuplicates(TRIPLE_COLS).write.parquet(
        out_dir
    )
    return links, stats


def check_link(spark, links, out_dir: str, inp: gen.LinkInputs) -> dict:
    """Gate the committed canonical triples against a driver-side
    union-find over the same edges (the job's links plus the aliases),
    and score the links against the generator's ground truth."""
    pairs = [(r.mention_uri, r.auth_id) for r in links.collect()]
    comp = gen.components(pairs + inp.aliases)
    expected = gen.canonical(inp.triples, comp)
    fp = fingerprint(spark.read.parquet(out_dir))
    correct = sum(inp.truth.get(mn) == a for mn, a in pairs)
    rewritten = sum(
        comp.get(s, s) != s or (u and comp.get(o, o) != o)
        for s, _, o, u, _, _ in inp.triples
    )
    return {
        "ok": gen.gate(fp, gen.fingerprint(expected)),
        "expected": expected,
        "actual": fp,
        "links": len(pairs),
        "precision": correct / max(len(pairs), 1),
        "recall": correct / max(len(inp.truth), 1),
        "rewritten": rewritten,
    }


def traced_link(spark, tracer, inp: gen.LinkInputs, out_dir: str) -> tuple[dict, bool]:
    m: dict[str, float] = {}
    triples, auths, aliases = _link_inputs(spark, inp)
    with tracer.span("operators.linking.mention"):
        mentions = mention_nodes(triples, [gen.LABEL_PRED]).localCheckpoint(eager=True)
    with tracer.span("operators.linking.blocking"):
        blocks = blocked(
            mentions.select("mention_uri", "label"), "mention_uri", "label"
        ).localCheckpoint(eager=True)
    m["operators.linking.mentions"] = mentions.count()
    m["operators.linking.block_rows"] = blocks.count()
    m["operators.linking.hot_blocks"] = (
        blocks.groupBy("block").count()
        .filter(F.col("count") >= gen.HOT_BLOCK_MIN).count()
    )
    with tracer.span("operators.linking"):
        links = link_mentions(mentions, auths).localCheckpoint(eager=True)
    stats: dict = {}
    with tracer.span("operators.components"):
        comps = connected_components(
            sameas_edges(links).unionByName(aliases), stats=stats
        ).localCheckpoint(eager=True)
    m["operators.components.nodes"] = comps.count()
    with tracer.span("operators.components.canonicalize"):
        canonicalize_triples(triples, comps).dropDuplicates(
            TRIPLE_COLS
        ).write.parquet(out_dir)
    chk = check_link(spark, links, out_dir, inp)
    m["operators.linking.links"] = chk["links"]
    m["operators.linking.match_ratio"] = chk["links"] / max(m["operators.linking.mentions"], 1)
    m["operators.linking.precision"] = chk["precision"]
    m["operators.linking.recall"] = chk["recall"]
    m["operators.components.rounds"] = stats["rounds"]
    m["operators.components.frontier_rows"] = sum(stats["round_rows"])
    m["operators.components.rewritten_triples"] = chk["rewritten"]
    return m, chk["ok"]


def link_layers(spans, ev, m: dict) -> list[str]:
    def g(group: str, key: str) -> float:
        return ev.get(group, {}).get(key, 0.0)

    m["operators.linking.mention_s"] = spans.total_s["operators.linking.mention"]
    m["operators.linking.blocking_s"] = spans.total_s["operators.linking.blocking"]
    m["operators.linking.link_s"] = spans.total_s["operators.linking"]
    m["operators.linking.nonjvm_s"] = g("operators.linking", "nonjvm_s")
    m["operators.linking.shuffle_write_mb"] = g("operators.linking", "shuffle_write_mb")
    m["operators.components.cc_s"] = spans.total_s["operators.components"]
    m["operators.components.shuffle_write_mb"] = g("operators.components", "shuffle_write_mb")
    m["operators.components.canonicalize_s"] = spans.total_s["operators.components.canonicalize"]
    return ["operators.linking.mention", "operators.linking",
            "operators.components", "operators.components.canonicalize"]
