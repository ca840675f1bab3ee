"""Driver contract for the spark-graft builder (PySpark target).

Queries cover SURVEY.md §2 operator-by-operator:
 - kg_convert_* : the full extraction->mapping pipeline vs golden
   triples generated by the independent pure-Python oracle converter
   (fixtures/golden/*.parquet, regenerate via tools/make_golden.py);
 - kg_* store/query ops (U1-U5, J1, A1, G7, CC) over the golden triple
   table with plain-SQL oracles;
 - docs_* / ann_* / events_* : training-data-pipeline operators over
   the driver-provided testdata tables with plain-SQL oracles;
 - every query has a VALUE-level oracle: the LSH family runs in
   SQL-replicable modes (md5-derived MinHash/SimHash, literal
   fixed-seed hyperplanes, table-derived IVF quantizer), linking and
   the full pipeline use recursive-CTE replicas.

KG queries synthesize their deterministic web_pages corpus in-process
(BASELINE.json input_hint mandates the web_pages shape, which is not a
testdata table); sf_dir parameterizes only the testdata-backed queries.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

GOLDEN = os.path.join(_HERE, "fixtures", "golden")
GOLDEN_SKELETON = os.path.join(GOLDEN, "triples_skeleton.parquet")
GOLDEN_DUMMY = os.path.join(GOLDEN, "triples_dummy.parquet")
GOLDEN_EDGES = os.path.join(GOLDEN, "sameas_edges.parquet")
GOLDEN_AUTH = os.path.join(GOLDEN, "authorities.parquet")

N_GOLDEN_PAGES = 120  # must match tools/make_golden.py

TRIPLE_COLS = ["subj", "pred", "obj", "obj_is_uri", "lang", "dtype"]

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
DC_CREATOR = "http://purl.org/dc/terms/creator"
FOAF_PERSON = "http://xmlns.com/foaf/0.1/Person"
PRESERVE_PREDS = (
    "http://xmlns.com/foaf/0.1/depiction",
    "http://purl.org/stuff/rev#hasReview",
    "http://www.w3.org/2002/07/owl#sameAs",
    "http://purl.org/ontology/bibo/isbn",
)
SUBJ_A = "http://example.com/id_7000000"
SUBJ_B = "http://example.com/id_7000005"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesized web_pages -> extract -> full skeleton
    mapping -> deduplicated triples."""
    from marc2rdf_spark.plans.pipeline import synth_and_convert

    return synth_and_convert(spark, 44, "skeleton", partitions=4)


# ---------------------------------------------------------------------------
# query helpers
# ---------------------------------------------------------------------------

def _golden(spark: SparkSession, path: str = GOLDEN_SKELETON) -> DataFrame:
    return spark.read.parquet(path)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _q_convert(mapping_name: str, golden_path: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from marc2rdf_spark.plans.pipeline import synth_and_convert

        return synth_and_convert(
            spark, N_GOLDEN_PAGES, mapping_name, partitions=8
        ).select(*TRIPLE_COLS)

    return run


def _q_convert_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 contract (reference MARC::ForgivingReader path, marc2rdf.rb:50):
    the golden record set serialized to sharded ISO 2709 binary files
    (fixtures/golden/binary_mrc, tools/make_golden.write_binary_corpus),
    read back through the forgiving binaryFile+Arrow parser and converted
    with the skeleton mapping.  The record set is identical to the
    web_pages synthesis, so the result must EQUAL triples_skeleton — a
    value oracle for the whole binary round-trip."""
    from marc2rdf_spark.plans.pipeline import convert_binary

    return convert_binary(
        spark, os.path.join(GOLDEN, "binary_mrc"), "skeleton"
    ).select(*TRIPLE_COLS)


def _q_resume_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resumability contract row (north rule; VERDICT r3 #4): run the
    staged extract -> convert -> materialize pipeline to completion,
    simulate a crash that destroys one CONVERT bucket and half the
    MATERIALIZE buckets (data + their lineage rows — the same damage a
    kill mid-write leaves after dynamic-partition rollback), then
    resume with the SAME run_id and an EMPTY pages frame.  The empty
    frame proves the extract stage is never re-run: the convert redo
    feeds from the staged raw-records zone (S5 replay,
    scheduler.rb:477-485), and done buckets are skipped via lineage
    (scheduler.rb:177-183 history-log counterpart).  The resumed
    triple set must be IDENTICAL to the straight-through conversion —
    the golden skeleton triples are the oracle."""
    import shutil
    import tempfile

    from marc2rdf_spark.plans.lineage import LineageLog
    from marc2rdf_spark.plans.materialize import (
        FINAL_STAGE,
        RAW_STAGE,
        run_resumable,
    )
    from marc2rdf_spark.schema import WEB_PAGES_SCHEMA
    from marc2rdf_spark.sources.synth import synth_web_pages

    out = tempfile.mkdtemp(prefix="kg_resume_replay_")
    n_buckets = 8
    pages = synth_web_pages(spark, N_GOLDEN_PAGES, partitions=8)
    run_resumable(
        spark, pages, out, run_id="r1", mapping="skeleton",
        n_buckets=n_buckets,
    )

    # simulated mid-run crash: convert bucket 3 and every even final
    # bucket lose their data AND lineage rows
    lineage = LineageLog(spark, f"{out}/_lineage")
    schema = lineage.read().schema
    keep = [
        r
        for r in lineage.read().collect()
        if not (r.stage == FINAL_STAGE and r.partition_id % 2 == 0)
        and not (r.stage == RAW_STAGE and r.partition_id == 3)
    ]
    shutil.rmtree(f"{out}/_lineage")
    spark.createDataFrame(keep, schema).write.parquet(f"{out}/_lineage")
    shutil.rmtree(f"{out}/raw_triples/bucket=3", ignore_errors=True)
    for b in range(0, n_buckets, 2):
        shutil.rmtree(f"{out}/triples/bucket={b}", ignore_errors=True)

    empty = spark.createDataFrame([], WEB_PAGES_SCHEMA)
    resumed = run_resumable(
        spark, empty, out, run_id="r1", mapping="skeleton",
        n_buckets=n_buckets, extract_id="r1",
    )
    # materialize off the temp store so the staging zone can be
    # deleted before returning (repeated harness runs must not
    # accumulate orphaned /tmp stores)
    result = resumed.select(*TRIPLE_COLS).localCheckpoint(eager=True)
    shutil.rmtree(out, ignore_errors=True)
    return result


def _q_class_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marc2rdf_spark.operators.store import count_distinct_by_class

    return count_distinct_by_class(_golden(spark))


def _q_select_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marc2rdf_spark.operators.store import select_record

    return select_record(_golden(spark), SUBJ_A)


def _q_delete_preserving(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marc2rdf_spark.operators.store import delete_record_preserving

    return delete_record_preserving(
        _golden(spark),
        [SUBJ_A, SUBJ_B],
        (
            "FOAF.depiction",
            "REV.hasReview",
            "OWL.sameAs",
            "BIBO.isbn",
        ),
    ).select(*TRIPLE_COLS)


def _q_purge_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marc2rdf_spark.operators.store import purge_record

    return purge_record(_golden(spark), [SUBJ_A, SUBJ_B]).select(*TRIPLE_COLS)


def _q_bgp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marc2rdf_spark.operators.store import bgp_join

    return bgp_join(_golden(spark), DC_CREATOR, FOAF_PERSON)


def _q_nt_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marc2rdf_spark.plans.pipeline import to_ntriples

    return to_ntriples(_golden(spark))


def _q_rdfxml_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marc2rdf_spark.plans.pipeline import to_rdfxml

    return to_rdfxml(_golden(spark))


def _q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marc2rdf_spark.operators.components import connected_components

    return connected_components(spark.read.parquet(GOLDEN_EDGES))


_FRESH_ROWS = [
    (SUBJ_A, "http://purl.org/dc/terms/title", "Fresh Title", False, "no", None),
    (SUBJ_A, "http://purl.org/ontology/bibo/isbn", "978-1", False, None, None),
]
_FRESH_SCHEMA = (
    "subj string, pred string, obj string, obj_is_uri boolean, "
    "lang string, dtype string"
)


def _q_upsert_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+U3 modify cycle (S7 store sink): delete subject's old triples
    minus preserved, insert fresh batch, set semantics."""
    from marc2rdf_spark.operators.store import upsert_records

    fresh = spark.createDataFrame(_FRESH_ROWS, _FRESH_SCHEMA)
    return upsert_records(
        _golden(spark), fresh,
        ("FOAF.depiction", "REV.hasReview", "OWL.sameAs", "BIBO.isbn"),
    )


def _q_delete_old_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: purge stale authority-node triples (authority classes typed in
    the fresh batch), preserving skos:broader/narrower + owl:sameAs."""
    from marc2rdf_spark.operators.store import delete_old_authorities

    g = _golden(spark)
    fresh = g.filter(F.col("subj") == SUBJ_A)
    # include the record's authority nodes in the fresh view
    fresh_nodes = g.join(
        fresh.select(F.col("obj").alias("subj")).distinct(), "subj", "left_semi"
    )
    return delete_old_authorities(g, fresh.unionByName(fresh_nodes)).select(
        *TRIPLE_COLS
    )


def _q_tombstone_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/U6 slice: OAI deleted-record envelopes in page text -> parsed
    tombstone subjects -> purge incl. inbound edges (scheduler.rb:379-383
    through sparql_update.rb:90-99)."""
    from marc2rdf_spark.schema import WEB_PAGES_SCHEMA
    from marc2rdf_spark.sources.synth import gen_tombstone_page
    from marc2rdf_spark.operators.store import purge_record
    from marc2rdf_spark.streaming.incremental import parse_tombstones

    pages = spark.createDataFrame(
        [gen_tombstone_page(0), gen_tombstone_page(5)], WEB_PAGES_SCHEMA
    )
    tombs = parse_tombstones(pages)
    return purge_record(_golden(spark), tombs).select(*TRIPLE_COLS)


def _q_batch_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O3: the harvest scheduler's LIMIT/OFFSET batch paging
    (batch_harvest.rb:53-67,110-131) as a deterministic batch-id over
    pinned (work, edition, object) order — replay-stable windows."""
    from marc2rdf_spark.operators.enrichment import batched, solutions_query

    sols = solutions_query(_golden(spark), manifestation_pred=None)
    return batched(sols, 40).select("work", "edition", "object", "batch_id")


OAI_FIXTURE = "/root/reference/spec/example.oairesponse.xml"


def _q_oai_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 harvest-envelope parse over the reference's own ListRecords
    fixture: one row per OAI <record> envelope with header identifier,
    deleted status, minted subject, and the response's resumption token
    (oaiclient.rb:58-75, oaiclient_spec.rb:25-44) — pure Column regex."""
    from marc2rdf_spark.schema import WEB_PAGES_SCHEMA
    from marc2rdf_spark.streaming.incremental import parse_oai_envelope

    with open(OAI_FIXTURE, encoding="utf-8") as f:
        text = f.read()
    pages = spark.createDataFrame(
        [("http://example.com/oai", None, None, text, "no")],
        WEB_PAGES_SCHEMA,
    )
    return parse_oai_envelope(pages)


def _q_docs_droplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, both surfaces in one row (the driver caps the
    CORRECTNESS sweep at 50 rows, so the former docs_dedup_exact row is
    folded in here): the bounded drop-list path (VERDICT r2 #5) gives
    duplicate group membership via a join-back on the fingerprint
    instead of a per-group id array — no aggregation buffer ever holds
    a whole group — and ``n_docs`` carries the keeper aggregation's
    group size, pinning the groupBy-count stats the exact row used to.
    The synthetic corpus has no exact duplicates at sf0.01, so the
    query unions an id-offset copy first: every group then has >= 2
    members and the keeper choice + join-back are exercised on every
    document (deterministic, oracle-replicated)."""
    from marc2rdf_spark.operators.dedup import duplicate_drop_list

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    doubled = docs.union(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return duplicate_drop_list(doubled)


def _q_docs_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four per-document text-statistics operator families —
    token counts (whitespace + BPE-ish), quality ratios, stopword
    language-ID, content fingerprint — value-verified through ONE
    contract row (the driver caps the CORRECTNESS sweep at 50 rows;
    these were four separate green rows through round 4).  Production
    calls the individual operators; the composition is the same plan
    shape — one scan, one projection, zero exchanges — just a wider
    select list.  Individual operators stay pinned by
    tests/test_operators.py."""
    from marc2rdf_spark.operators.textstats import text_features

    return text_features(_docs(spark, sf_dir))


def _q_docs_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cleanup composition (token bounds + quality gates +
    language allowlist + exact-dedup keeper) — one narrow projection,
    one fingerprint shuffle."""
    from marc2rdf_spark.operators.textstats import clean_corpus

    return clean_corpus(_docs(spark, sf_dir))


def _q_docs_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marc2rdf_spark.operators.textstats import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir))


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marc2rdf_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 3)
    return brute_force_topk(emb, queries, k=5).select("q_id", "n_id", "rank")


def _q_events_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )
    )


def _q_reverse_marc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 reverse conversion (marcmodeler.rb): triples -> manifestation
    map (rdf2map over the BGP with optional patterns)."""
    from marc2rdf_spark.operators.reverse import manifestations

    return manifestations(_golden(spark))


def _q_rule_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-rule engine (rule.rb): the example global rule localized
    onto the triples view."""
    from marc2rdf_spark.operators.rules import EXAMPLE_GLOBAL_RULE, run_rule

    return run_rule(spark, _golden(spark), EXAMPLE_GLOBAL_RULE)


def _q_rule_localize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """localize() on a second stored rule (rule.rb:80-93): vocab refs
    and DEFAULT_PREFIX/DEFAULT_GRAPH placeholders substituted, SQL
    aliases left alone (the prefix-anchored rewrite, ADVICE r1)."""
    from marc2rdf_spark.operators.rules import EXAMPLE_LOCAL_RULE, run_rule

    return run_rule(spark, _golden(spark), EXAMPLE_LOCAL_RULE)


def _q_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/J4 enrichment harvest as a join: BGP solutions x deterministic
    pre-fetched responses, dummy-cover MD5 filter, depiction triples."""
    from marc2rdf_spark.operators.enrichment import (
        harvest_join,
        solutions_query,
        synth_enrichment_responses,
    )

    sol = solutions_query(_golden(spark), manifestation_pred=None)
    resp = synth_enrichment_responses(sol)
    return harvest_join(sol, resp).select(*TRIPLE_COLS)


def _q_work_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 work-URI lookup (batch_harvest.rb:91-96 asserting onto ?work
    via the ?work <hasManifestation> ?edition hop): golden triples plus
    a deterministic work layer (one `<edition>#work` node per typed
    edition) drive solutions_query's manifestation join, and the
    harvested depiction lands on the WORK subject — the third join of
    the BGP that kg_enrichment_join's flat store never exercises."""
    from marc2rdf_spark.operators.enrichment import (
        BIBO_DOCUMENT,
        FABIO_HAS_MANIFESTATION,
        harvest_join,
        solutions_query,
        synth_enrichment_responses,
    )

    g = _golden(spark).select(*TRIPLE_COLS)
    editions = (
        g.filter((F.col("pred") == RDF_TYPE) & (F.col("obj") == BIBO_DOCUMENT))
        .select("subj")
        .distinct()
    )
    manifestation = editions.select(
        F.concat(F.col("subj"), F.lit("#work")).alias("subj"),
        F.lit(FABIO_HAS_MANIFESTATION).alias("pred"),
        F.col("subj").alias("obj"),
        F.lit(True).alias("obj_is_uri"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("dtype"),
    )
    t = g.unionByName(manifestation)
    sol = solutions_query(t)  # default manifestation_pred -> work hop
    resp = synth_enrichment_responses(sol)
    return harvest_join(sol, resp, subject="work").select(*TRIPLE_COLS)


def _q_docs_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard over a deterministic pair set
    (adjacent doc ids) — the verification kernel of the MinHash dedup
    path, exposed with a full SQL oracle."""
    from marc2rdf_spark.operators.dedup import ngram_jaccard

    docs = _docs(spark, sf_dir)
    ids = docs.select("doc_id")
    pairs = ids.select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b")
    ).join(ids.select(F.col("doc_id").alias("b")), "b")
    return ngram_jaccard(docs, pairs)


def _q_docs_near_dup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marc2rdf_spark.operators.dedup import embedding_near_dups

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return embedding_near_dups(emb, threshold=0.45)


def _q_docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-doc fraction of distinct word
    3-grams occurring in the benchmark corpus (every 50th document
    stands in for the eval set — deterministic).  Standard pre-training
    hygiene; the benchmark side broadcasts, the corpus shuffles once
    for the per-doc count."""
    from marc2rdf_spark.operators.dedup import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return decontaminate(docs, bench, n=3, threshold=0.1)


def _q_docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (pre-training batch assembly): per-bucket
    contiguous token offsets, bin = floor(start / budget).  Buckets
    pack in parallel (no global ordering window — the 100 TB
    constraint); md5-derived buckets so the oracle replicates the
    assignment exactly."""
    from marc2rdf_spark.operators.textstats import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget_tokens=512, n_buckets=8)


def _q_docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gates (top-word / duplicate-word /
    duplicate-2-gram fractions) — the boilerplate detectors every
    web-corpus cleanup runs; one tagged explode stream, two map-side-
    combined shuffles, no per-feature joins."""
    from marc2rdf_spark.operators.curation import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def _q_docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails -> IPv4 -> phones, in that fixed order,
    counts taken on the same intermediate the next pass sees).  The
    synthetic corpus carries no PII, so the query composes a
    deterministic doc_id-derived injection over the table first — the
    oracle builds the identical augmented text, so the value check
    pins matching AND redaction, not a no-op passthrough."""
    from marc2rdf_spark.operators.curation import pii_scrub

    aug = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.org at 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".7 tel +47 22 11 22 33 now"),
        ).alias("text"),
    )
    return pii_scrub(aug)


def _q_docs_source_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist gate: drop sources matching a blocklist entry
    exactly or as a subdomain; broadcast nested-loop anti-join, no
    corpus-side shuffle."""
    from marc2rdf_spark.operators.curation import source_blocklist_filter

    return source_blocklist_filter(
        _docs(spark, sf_dir), ["src0", "src7", "src13"]
    )


def _q_docs_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified training-mix sampling: per-language keep rates
    decided by an md5-derived hash of (seed, doc_id) — reproducible
    across engines and partitionings; zero shuffle, pushes to the
    scan.  es/zh take the default rate 0 (dropped)."""
    from marc2rdf_spark.operators.curation import mix_sample

    return mix_sample(
        _docs(spark, sf_dir), {"en": 0.5, "de": 0.25, "fr": 0.1}
    )


def _q_docs_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate score: per-doc fraction of 2-gram
    occurrences whose gram appears in >20% of all documents —
    gram->doc-frequency distinct+count, gram-keyed join back (reuses
    the hash partitioning), per-doc fold."""
    from marc2rdf_spark.operators.curation import boilerplate_score

    return boilerplate_score(_docs(spark, sf_dir), min_doc_frac=0.2)


def _q_docs_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-50 2-gram table (vocabulary/boilerplate/
    contamination sweeps): word-count shape with map-side combine and
    a TakeOrdered top-k, deterministic (count desc, gram) tie-break."""
    from marc2rdf_spark.operators.curation import ngram_counts

    return ngram_counts(_docs(spark, sf_dir), k=50)


def _q_docs_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful STREAMING dedup (applyInPandasWithState): first-seen
    (doc_id, fp) per content fingerprint, seen-set in the streaming
    state store.  The corpus is staged as ONE file so the availableNow
    run is a single deterministic micro-batch — first-seen then equals
    min(doc_id) per fp, which is the SQL oracle; the cross-batch and
    cross-restart state behavior is pinned by
    tests/test_stateful_streaming.py."""
    import shutil
    import tempfile

    from marc2rdf_spark.streaming.stateful import run_streaming_dedup

    work = tempfile.mkdtemp(prefix="docs_stream_dedup_")
    docs_dir = os.path.join(work, "docs")
    out_dir = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
        .coalesce(1)
        .write.parquet(docs_dir)
    )
    run_streaming_dedup(spark, docs_dir, out_dir, ckpt)
    result = spark.read.parquet(out_dir).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return result


def _q_events_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time windowed aggregation (Structured
    Streaming append mode): tumbling 1-hour windows of per-type counts
    and exact value sums in integer cents, emitted only when the
    watermark passes the window end.  With watermark delay 0 the
    finalized set is exactly the windows ending at or before max(ts) —
    the SQL oracle; late-data dropping across batches is pinned by
    tests/test_stateful_streaming.py."""
    import shutil
    import tempfile

    from marc2rdf_spark.streaming.windows import run_windowed_counts

    work = tempfile.mkdtemp(prefix="events_windowed_")
    ev = os.path.join(work, "events")
    out = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .coalesce(1)
        .write.parquet(ev)
    )
    run_windowed_counts(spark, ev, out, ckpt)
    result = spark.read.parquet(out).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return result


def _q_events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type exact value percentiles (p50/p90) over the events
    table: Spark's sort-based exact ``percentile`` interpolates at
    rank p*(n-1), the same linear-interpolation definition as DuckDB's
    ``quantile_cont`` — so the oracle is value-exact.  At 100 TB the
    same query swaps in ``approx_percentile`` (t-digest, mergeable
    partial aggregates, no per-group sort) — the exact form here is
    the correctness pin for that substitution."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.count("*").alias("n"),
    )


def _q_events_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch percentile SCALE path the exact row's
    docstring promises: ``approx_percentile`` aggregates
    Greenwald-Khanna quantile summaries that merge associatively across
    partitions — no per-group sort, bounded memory per partial — which
    is the plan you swap in at 100 TB where ``percentile``'s per-group
    sort is the first bottleneck.  (Reference counterpart: the
    scheduler's aggregate history counters, scheduler.rb:177-183.)

    Contract surface = BOUNDED-ERROR assertion, not value equality
    (sketches are engine-specific): with accuracy 1000 the sketch's
    rank error is <= n/1000, so the returned element's true rank lies
    within [p - 0.001, p + 0.001]·n; the row emits whether each approx
    value falls between the EXACT interpolated percentiles at p ± 0.01
    — a 10x margin, deterministic under any partitioning because the
    bound, not the sketch value, is the output.  The DuckDB oracle is
    therefore exact and total: TRUE literals per group — any tolerance
    breach flips a boolean and fails the value hash."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    agg = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 1000)").alias("a50"),
        F.expr("approx_percentile(value, 0.9, 1000)").alias("a90"),
        F.expr("percentile(value, 0.49)").alias("lo50"),
        F.expr("percentile(value, 0.51)").alias("hi50"),
        F.expr("percentile(value, 0.89)").alias("lo90"),
        F.expr("percentile(value, 0.91)").alias("hi90"),
        F.count("*").alias("n"),
    )
    return agg.select(
        "event_type",
        "n",
        (
            (F.col("a50") >= F.col("lo50")) & (F.col("a50") <= F.col("hi50"))
        ).alias("p50_ok"),
        (
            (F.col("a90") >= F.col("lo90")) & (F.col("a90") <= F.col("hi90"))
        ).alias("p90_ok"),
    )


def _q_docs_near_dup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding near-dup SCALE path (previously pytest-parity only,
    VERDICT r3 table): hyperplane-LSH candidate buckets replace the
    all-pairs join, exact cosine re-check keeps precision 1.0.  The
    oracle replicates the algorithm (same fixed-seed planes as SQL
    literals, same (table, bucket) join, same threshold) — the
    md5-mode precedent, so the value check pins candidate generation
    AND re-check, not just the baseline.  ``vectorized=False`` pins the
    unrolled fold whose summation order the SQL matches bit-for-bit
    (see _q_ann_lsh); the bench exercises the vectorized path."""
    from marc2rdf_spark.operators.dedup import embedding_near_dups_lsh

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return embedding_near_dups_lsh(
        emb, threshold=0.45, dim=64, vectorized=False
    )


# --- LSH family in md5 hash mode (exact SQL oracles) ------------------------

def _q_near_dup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH blocking + exact Jaccard verification, md5 hash mode:
    signatures, band buckets, the hot-bucket cap and the verification
    are all replicated value-for-value by the DuckDB oracle."""
    from marc2rdf_spark.operators.dedup import near_duplicates

    return near_duplicates(_docs(spark, sf_dir), threshold=0.5, hash_fn="md5")


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups, md5 hash mode.  Block-banding has exact
    pigeonhole recall, so the blocked output EQUALS the oracle's
    all-pairs hamming<=k filter."""
    from marc2rdf_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(_docs(spark, sf_dir), max_hamming=8, hash_fn="md5")


def _q_link_entities_nosql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marc2rdf_spark.operators.linking import link_mentions, mention_nodes

    mentions = mention_nodes(
        _golden(spark),
        ["http://def.bibsys.no/xmlns/radatana/1.0#catalogueName"],
    )
    authorities = spark.read.parquet(GOLDEN_AUTH)
    return link_mentions(mentions, authorities, threshold=0.7)


def _q_full_pipeline_nosql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star end-to-end: convert -> link -> CC -> canonicalize ->
    dedup."""
    from marc2rdf_spark.plans.pipeline import full_pipeline, synth_and_convert

    triples = synth_and_convert(spark, N_GOLDEN_PAGES, "skeleton", partitions=8)
    authorities = spark.read.parquet(GOLDEN_AUTH)
    return full_pipeline(
        triples,
        authorities,
        ["http://def.bibsys.no/xmlns/radatana/1.0#catalogueName"],
        threshold=0.7,
    )


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (the scale path), bucketing on the FULL dim-64
    embeddings.  Oracle = an independent DuckDB replication of the LSH
    algorithm itself (same fixed-seed planes as SQL literals, same
    sign-of-dot signatures, same (table, bucket) candidate join + exact
    cosine re-rank) — the md5-mode precedent, NOT "LSH == brute force",
    which only held before because dim-16 planes on dim-64 vectors
    NULL-padded every dot and collapsed all signatures into one bucket
    (degenerate single-bucket LSH *is* brute force).

    ``vectorized=False`` pins the UNROLLED Column fold here because the
    oracle's left-associative SQL `+` matches THAT summation order
    bit-for-bit; the bench runs the production vectorized-matmul path,
    whose parity with the unrolled form is pytest-pinned separately
    (test_lsh_bucket_vectorized_parity) — a matmul dot landing within
    float-rounding of zero could otherwise flip a bucket and flake the
    value check."""
    from marc2rdf_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 3)
    return lsh_topk(
        emb, queries, k=5, dim=64, vectorized=False
    ).select("q_id", "n_id", "rank")


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (the second scale path beside LSH): 16-cell coarse
    quantizer (first 16 corpus vectors by id — deterministic), corpus
    indexed into its nearest cell, queries probe their 4 nearest
    cells, candidates equi-join on cell, exact cosine re-rank.  The
    oracle replicates the IVF algorithm itself — the quantizer comes
    from the table, so no literal injection is needed."""
    from marc2rdf_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 3)
    return ivf_topk(emb, queries, k=5, n_cells=16, nprobe=4).select(
        "q_id", "n_id", "rank"
    )


def _q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow mapInPandas feature extraction; the correctness surface
    projects the exact integer lanes to a comma-joined string so the
    driver's pandas canonicalizer can hash it (VERDICT r1 #2) and the
    DuckDB oracle can recompute it exactly (sha256 + hex-cast)."""
    from marc2rdf_spark.operators.multimodal import extract_features

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.create_map(F.lit("src"), F.col("source")).alias("meta"),
    )
    return extract_features(docs).select(
        "media_id",
        "kind",
        "n_bytes",
        F.concat_ws(",", F.col("feature_u32")).alias("feature_sig"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_convert_dummy": _q_convert("dummy", GOLDEN_DUMMY),
        "kg_convert_skeleton": _q_convert("skeleton", GOLDEN_SKELETON),
        "kg_convert_binary": _q_convert_binary,
        "kg_resume_replay": _q_resume_replay,
        "kg_class_count": _q_class_count,
        "kg_select_record": _q_select_record,
        "kg_delete_preserving": _q_delete_preserving,
        "kg_purge_record": _q_purge_record,
        "kg_bgp_join": _q_bgp_join,
        "kg_upsert_record": _q_upsert_record,
        "kg_delete_old_authorities": _q_delete_old_authorities,
        "kg_tombstone_purge": _q_tombstone_purge,
        "kg_oai_envelope": _q_oai_envelope,
        "kg_batch_windows": _q_batch_windows,
        "kg_nt_render": _q_nt_render,
        "kg_rdfxml_render": _q_rdfxml_render,
        "kg_connected_components": _q_connected_components,
        "kg_reverse_marc": _q_reverse_marc,
        "kg_rule_engine": _q_rule_engine,
        "kg_rule_localize": _q_rule_localize,
        "kg_enrichment_join": _q_enrichment_join,
        "kg_work_lookup": _q_work_lookup,
        "docs_ngram_jaccard": _q_docs_ngram_jaccard,
        "docs_near_dup_embedding": _q_docs_near_dup_embedding,
        "docs_near_dup_embedding_lsh": _q_docs_near_dup_embedding_lsh,
        "docs_decontaminate": _q_docs_decontaminate,
        "docs_repetition": _q_docs_repetition,
        "docs_streaming_dedup": _q_docs_streaming_dedup,
        "events_windowed_counts": _q_events_windowed_counts,
        "events_percentiles": _q_events_percentiles,
        "events_percentiles_approx": _q_events_percentiles_approx,
        # the three rows the round-4 driver sweep truncated (they were
        # the last three of 53 against a 50-row cap) sit mid-list now
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf,
        "multimodal_features": _q_multimodal,
        "docs_pii_scrub": _q_docs_pii_scrub,
        "docs_source_filter": _q_docs_source_filter,
        "docs_mix_sample": _q_docs_mix_sample,
        "docs_ngram_counts": _q_docs_ngram_counts,
        "docs_boilerplate": _q_docs_boilerplate,
        "docs_pack_sequences": _q_docs_pack_sequences,
        "docs_dedup_droplist": _q_docs_droplist,
        "docs_text_features": _q_docs_text_features,
        "docs_clean_corpus": _q_docs_clean_corpus,
        "docs_winnow_fingerprint": _q_docs_winnow,
        "ann_topk": _q_ann_topk,
        "events_last_write_wins": _q_events_lww,
        "docs_near_dup_minhash": _q_near_dup_minhash,
        "docs_simhash": _q_simhash,
        "kg_link_entities": _q_link_entities_nosql,
        "kg_full_pipeline": _q_full_pipeline_nosql,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_NT_ESC = (
    "replace(replace(replace(replace(replace(obj, '\\', '\\\\'), "
    "'\"', '\\\"'), chr(10), '\\n'), chr(13), '\\r'), chr(9), '\\t')"
)

_LANG_HITS = {
    "en": ("the", "and", "of", "is", "that"),
    "no": ("og", "det", "ikke", "som", "av"),
    "sv": ("och", "att", "det", "som", "inte"),
    "de": ("der", "und", "die", "das", "nicht"),
    "fr": ("le", "la", "les", "des", "est"),
}


_M61 = (1 << 61) - 1

# word-trigram shingle CTEs shared by the jaccard/minhash oracles
_SHINGLE_CTES = (
    "toks AS (SELECT doc_id, regexp_split_to_array("
    "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w "
    "FROM documents), "
    "tri AS (SELECT doc_id, list_distinct("
    "[array_to_string(w[i:i+2], ' ') "
    "FOR i IN generate_series(1, greatest(len(w) - 2, 1))]) AS sh "
    "FROM toks)"
)


def _minhash_oracle_sql(
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 50,
) -> str:
    """Value-exact replica of near_duplicates(hash_fn='md5'):
    md5-derived 60-bit shingle hashes, the 64 permutation minima, md5
    band buckets, the deterministic hot-bucket cap, and the rounded
    Jaccard verification filter."""
    from marc2rdf_spark.operators.dedup import _perm_coeffs

    coeffs = _perm_coeffs(num_hashes)
    rows = num_hashes // bands
    mins = ", ".join(
        f"min(({a} * h31 + {b}) % {_M61}) AS mh_{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(array_to_string(["
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + "], ',')) AS bucket FROM sig"
        for b in range(bands)
    )
    return (
        f"WITH {_SHINGLE_CTES}, "
        "shf AS (SELECT doc_id, unnest(sh) AS s FROM tri), "
        "hv AS (SELECT doc_id, "
        f"(CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % {_M61}) "
        "% 2147483647 AS h31 FROM shf), "
        f"sig AS (SELECT doc_id, {mins} FROM hv GROUP BY doc_id), "
        f"banded AS ({band_selects}), "
        "capped AS (SELECT doc_id, band, bucket FROM ("
        "SELECT doc_id, band, bucket, row_number() OVER ("
        "PARTITION BY band, bucket ORDER BY doc_id) AS rn FROM banded) "
        f"WHERE rn <= {max_bucket}), "
        "cand AS (SELECT DISTINCT ca.doc_id AS a, cb.doc_id AS b "
        "FROM capped ca JOIN capped cb ON ca.band = cb.band "
        "AND ca.bucket = cb.bucket AND ca.doc_id < cb.doc_id), "
        "j AS (SELECT c.a, c.b, "
        "round(len(list_intersect(ta.sh, tb.sh)) * 1.0 / "
        "len(list_distinct(list_concat(ta.sh, tb.sh))), 4) AS jaccard "
        "FROM cand c JOIN tri ta ON ta.doc_id = c.a "
        "JOIN tri tb ON tb.doc_id = c.b) "
        f"SELECT a, b, jaccard FROM j WHERE jaccard >= {threshold}"
    )


def _simhash_oracle_sql(max_hamming: int = 8, bits: int = 60) -> str:
    """Value-exact replica of simhash_near_dups(hash_fn='md5'): the
    oracle is the ALL-PAIRS hamming filter — equality with the blocked
    Spark output is guaranteed by pigeonhole recall."""
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    sig = " | ".join(
        f"(CASE WHEN v{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) "
        "ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits)
    )
    return (
        "WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array("
        "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t "
        "FROM documents), "
        "hv AS (SELECT doc_id, "
        "CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM tok), "
        f"votes AS (SELECT doc_id, {votes} FROM hv GROUP BY doc_id), "
        f"sig AS (SELECT doc_id, {sig} AS sh FROM votes) "
        "SELECT sa.doc_id AS a, sb.doc_id AS b, "
        "CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS hamming "
        "FROM sig sa JOIN sig sb ON sa.doc_id < sb.doc_id "
        f"WHERE bit_count(xor(sa.sh, sb.sh)) <= {max_hamming}"
    )


CATALOGUE_NAME = "http://def.bibsys.no/xmlns/radatana/1.0#catalogueName"


def _norm_label_sql(col: str) -> str:
    """SQL replica of linking._norm_label (the normalization under
    linking.char_shingles): accent-fold (urlize char map) -> lower -> keep
    [a-z0-9 ]."""
    from marc2rdf_spark.functions.textsem import (
        MULTI_CLASSES,
        SINGLE_FROM,
        SINGLE_TO,
    )

    out = f"trim({col})"
    for cls, repl in MULTI_CLASSES:
        out = f"regexp_replace({out}, '[{cls}]', '{repl}', 'g')"
    out = f"translate({out}, '{SINGLE_FROM}', '{SINGLE_TO}')"
    return f"regexp_replace(lower({out}), '[^a-z0-9 ]', '', 'g')"


def _label_trigram_cte(src: str, id_col: str, label_col: str) -> str:
    """CTE body: (id, tg) — distinct char trigrams of the space-padded
    normalized label; like linking.blocked, a label that normalizes to
    no [a-z0-9] has no row."""
    norm = _norm_label_sql(label_col)
    return (
        f"SELECT {id_col}, list_distinct([substr(p, i, 3) "
        "FOR i IN generate_series(1, greatest(len(p) - 3, 0) + 1)]) AS tg "
        f"FROM (SELECT {id_col}, ' ' || {norm} || ' ' AS p FROM {src}) "
        "WHERE regexp_matches(p, '[a-z0-9]')"
    )


def _link_cte(triples_src: str, threshold: float = 0.7) -> str:
    """CTE chain computing link_mentions' output over a triple relation:
    mentions (min label per catalogueName subject) x authorities,
    trigram Jaccard >= threshold, best (score, auth_id) per mention.
    All-pairs scoring — equality with the Spark blocked join holds
    because blocking recall is 1.0 on the fixture (asserted by
    tests/test_operators.py::test_blocking_recall_is_total)."""
    return (
        f"mention AS (SELECT subj AS mention_uri, min(obj) AS label "
        f"FROM {triples_src} WHERE pred = '{CATALOGUE_NAME}' GROUP BY subj), "
        "m_tri AS (" + _label_trigram_cte("mention", "mention_uri", "label")
        + "), "
        f"auth AS (SELECT auth_id, label FROM read_parquet('{GOLDEN_AUTH}')), "
        "a_tri AS (" + _label_trigram_cte("auth", "auth_id", "label") + "), "
        "scored AS (SELECT m.mention_uri, a.auth_id, "
        "len(list_intersect(m.tg, a.tg)) * 1.0 / "
        "greatest(len(list_distinct(list_concat(m.tg, a.tg))), 1) AS score "
        "FROM m_tri m CROSS JOIN a_tri a), "
        "links AS (SELECT mention_uri, auth_id, round(score, 4) AS score "
        "FROM (SELECT mention_uri, auth_id, score, row_number() OVER ("
        "PARTITION BY mention_uri ORDER BY score DESC, auth_id DESC) AS rn "
        f"FROM scored WHERE score >= {threshold}) WHERE rn = 1)"
    )


def _lsh_sig_values(dim: int, n_planes: int, n_tables: int, seed0: int) -> str:
    """Hyperplane signatures as a SQL VALUES list: the same fixed-seed
    Gaussian planes the Spark operators build are injected as literals;
    each row is (table, sign-of-dot bit-pack)."""
    from marc2rdf_spark.operators.similarity import _hyperplanes

    tables = [
        _hyperplanes(dim, n_planes, seed=seed0 + t) for t in range(n_tables)
    ]
    sig_rows = []
    for t, planes in enumerate(tables):
        bits = []
        for i, p in enumerate(planes):
            dot = " + ".join(
                f"v[{j + 1}]*({c!r})" for j, c in enumerate(p)
            )
            bits.append(
                f"(CASE WHEN ({dot}) > 0 THEN {1 << i} ELSE 0 END)"
            )
        sig_rows.append(f"({t}, {' + '.join(bits)})")
    return ", ".join(sig_rows)


def _ann_lsh_oracle() -> str:
    """DuckDB replication of the hyperplane-LSH algorithm (the md5-mode
    precedent): the same fixed-seed Gaussian planes are injected as SQL
    literals, signatures are the same sign-of-dot bit-packs (SQL's
    left-associative `+` over v[i]*p_i matches the Column fold's
    summation order bit-for-bit on doubles), candidates share a
    (table, bucket) key in any table, then exact cosine re-rank."""
    values = _lsh_sig_values(dim=64, n_planes=8, n_tables=4, seed0=42)
    return (
        "WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings), "
        "buck AS (SELECT vec_id, t.tbl, t.bucket FROM emb "
        f"CROSS JOIN LATERAL (VALUES {values}) AS t(tbl, bucket)), "
        "qb AS (SELECT vec_id AS q_id, tbl, bucket FROM buck "
        "WHERE vec_id < 3), "
        "pairs AS (SELECT DISTINCT qb.q_id, nb.vec_id AS n_id FROM qb "
        "JOIN buck nb ON nb.tbl = qb.tbl AND nb.bucket = qb.bucket "
        "WHERE nb.vec_id != qb.q_id), "
        "scored AS (SELECT p.q_id, p.n_id, "
        "list_cosine_similarity(q.v, n.v) AS sim FROM pairs p "
        "JOIN emb q ON q.vec_id = p.q_id "
        "JOIN emb n ON n.vec_id = p.n_id) "
        "SELECT q_id, n_id, rank FROM (SELECT q_id, n_id, "
        "row_number() OVER (PARTITION BY q_id "
        "ORDER BY sim DESC, n_id ASC) AS rank FROM scored) t "
        "WHERE rank <= 5"
    )


def _embedding_lsh_oracle() -> str:
    """DuckDB replication of embedding_near_dups_lsh: same fixed-seed
    planes (seed0 1337, 6 planes x 8 tables), candidate pairs share a
    (table, bucket) key, exact cosine re-check at the same threshold."""
    values = _lsh_sig_values(dim=64, n_planes=6, n_tables=8, seed0=1337)
    return (
        "WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings), "
        "buck AS (SELECT vec_id, t.tbl, t.bucket FROM emb "
        f"CROSS JOIN LATERAL (VALUES {values}) AS t(tbl, bucket)), "
        "pairs AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id "
        "FROM buck a JOIN buck b ON b.tbl = a.tbl "
        "AND b.bucket = a.bucket AND a.vec_id < b.vec_id), "
        "scored AS (SELECT p.a_id, p.b_id, "
        "list_cosine_similarity(x.v, y.v) AS sim FROM pairs p "
        "JOIN emb x ON x.vec_id = p.a_id "
        "JOIN emb y ON y.vec_id = p.b_id) "
        "SELECT a_id, b_id, round(sim, 4) AS sim FROM scored "
        "WHERE sim >= 0.45"
    )


def _lang_hits_sql(code: str, words) -> str:
    terms = " + ".join(
        f"CAST((length(p) - length(replace(p, ' {w} ', ''))) / {len(w) + 2} "
        f"AS BIGINT)"
        for w in words
    )
    return f"({terms}) AS hits_{code}"


def oracle_sql() -> dict[str, str]:
    g = f"read_parquet('{GOLDEN_SKELETON}')"
    lang_cols = ",\n       ".join(
        _lang_hits_sql(c, ws) for c, ws in _LANG_HITS.items()
    )
    best = "greatest(" + ", ".join(f"hits_{c}" for c in _LANG_HITS) + ")"
    lang_case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN hits_{c} = {best} THEN '{c}'" for c in _LANG_HITS
    ) + " ELSE 'und' END"

    return {
        "kg_convert_dummy": (
            f"SELECT subj, pred, obj, obj_is_uri, lang, dtype "
            f"FROM read_parquet('{GOLDEN_DUMMY}')"
        ),
        "kg_convert_skeleton": (
            f"SELECT subj, pred, obj, obj_is_uri, lang, dtype FROM {g}"
        ),
        # binary ISO 2709 round-trip of the SAME record set => identical
        # triple set to the skeleton golden
        "kg_convert_binary": (
            f"SELECT subj, pred, obj, obj_is_uri, lang, dtype FROM {g}"
        ),
        # kill-and-resume over the SAME record set => the resumed
        # triple set must equal the straight-through conversion
        "kg_resume_replay": (
            f"SELECT subj, pred, obj, obj_is_uri, lang, dtype FROM {g}"
        ),
        "kg_class_count": (
            f"SELECT obj AS class_uri, COUNT(DISTINCT subj) AS n_resources "
            f"FROM {g} WHERE pred = '{RDF_TYPE}' GROUP BY obj"
        ),
        "kg_select_record": (
            f"SELECT pred, obj FROM {g} WHERE subj = '{SUBJ_A}'"
        ),
        "kg_delete_preserving": (
            f"SELECT subj, pred, obj, obj_is_uri, lang, dtype FROM {g} "
            f"WHERE NOT (subj IN ('{SUBJ_A}', '{SUBJ_B}') "
            f"AND pred NOT IN ({', '.join(repr(p) for p in PRESERVE_PREDS)}))"
        ),
        "kg_purge_record": (
            f"SELECT subj, pred, obj, obj_is_uri, lang, dtype FROM {g} "
            f"WHERE subj NOT IN ('{SUBJ_A}', '{SUBJ_B}') "
            f"AND obj NOT IN ('{SUBJ_A}', '{SUBJ_B}')"
        ),
        "kg_bgp_join": (
            f"SELECT t1.subj AS doc, t1.obj AS node FROM {g} t1 "
            f"WHERE t1.pred = '{DC_CREATOR}' AND EXISTS ("
            f"SELECT 1 FROM {g} t2 WHERE t2.pred = '{RDF_TYPE}' "
            f"AND t2.obj = '{FOAF_PERSON}' AND t2.subj = t1.obj)"
        ),
        "kg_upsert_record": (
            "WITH fresh(subj, pred, obj, obj_is_uri, lang, dtype) AS ("
            "VALUES "
            f"('{SUBJ_A}', 'http://purl.org/dc/terms/title', 'Fresh Title', "
            "false, 'no', CAST(NULL AS VARCHAR)), "
            f"('{SUBJ_A}', 'http://purl.org/ontology/bibo/isbn', '978-1', "
            "false, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))) "
            "SELECT DISTINCT subj, pred, obj, obj_is_uri, lang, dtype FROM ("
            f"SELECT subj, pred, obj, obj_is_uri, lang, dtype FROM {g} "
            f"WHERE NOT (subj = '{SUBJ_A}' "
            f"AND pred NOT IN ({', '.join(repr(p) for p in PRESERVE_PREDS)})) "
            "UNION ALL SELECT * FROM fresh)"
        ),
        "kg_delete_old_authorities": (
            "WITH fresh AS ("
            f"SELECT * FROM {g} WHERE subj = '{SUBJ_A}' "
            f"UNION ALL SELECT * FROM {g} WHERE subj IN ("
            f"SELECT DISTINCT obj FROM {g} WHERE subj = '{SUBJ_A}')), "
            "auth AS (SELECT DISTINCT subj FROM fresh WHERE pred = "
            f"'{RDF_TYPE}' AND obj IN ("
            "'http://xmlns.com/foaf/0.1/Person', "
            "'http://xmlns.com/foaf/0.1/Organization', "
            "'http://www.w3.org/2004/02/skos/core#Concept', "
            "'http://www.geonames.org/ontology#Feature', "
            "'http://purl.org/ontology/bibo/Series', "
            "'http://dbpedia.org/class/yago/LiteraryGenres', "
            "'http://purl.org/ontology/mo/Genre')) "
            f"SELECT subj, pred, obj, obj_is_uri, lang, dtype FROM {g} "
            "WHERE NOT (subj IN (SELECT subj FROM auth) AND pred NOT IN ("
            "'http://www.w3.org/2004/02/skos/core#broader', "
            "'http://www.w3.org/2004/02/skos/core#narrower', "
            "'http://www.w3.org/2002/07/owl#sameAs'))"
        ),
        "kg_tombstone_purge": (
            # parse of the two deleted-record envelopes yields exactly
            # SUBJ_A/SUBJ_B -> purge oracle (same shape as kg_purge_record)
            f"SELECT subj, pred, obj, obj_is_uri, lang, dtype FROM {g} "
            f"WHERE subj NOT IN ('{SUBJ_A}', '{SUBJ_B}') "
            f"AND obj NOT IN ('{SUBJ_A}', '{SUBJ_B}')"
        ),
        # DuckDB's RE2 has no backreferences, but on OAI envelopes the
        # unprefixed-record regex is equivalent: the nested metadata
        # record is namespace-prefixed, so its tags can't terminate the
        # outer (unprefixed) envelope match.
        "kg_oai_envelope": (
            "WITH page AS (SELECT 'http://example.com/oai' AS url, "
            f"content AS text FROM read_text('{OAI_FIXTURE}')), "
            "blocks AS (SELECT url, regexp_extract(text, "
            "'<resumptionToken[^>]*>([^<]*)</resumptionToken>', 1) "
            "AS resumption_token, unnest(regexp_extract_all(text, "
            r"'(?s)<record[\s>].*?</record\s*>', 0)) AS block FROM page), "
            "ids AS (SELECT url, resumption_token, block, "
            "regexp_extract(block, '<identifier>([^<]+)</identifier>', 1) "
            "AS oai_id FROM blocks) "
            "SELECT url, oai_id, "
            "regexp_extract(oai_id, '([^:]+)$', 1) AS rec_id, "
            r"""regexp_matches(block, '<header\s+status="deleted"') """
            "AS deleted, "
            "'http://example.com/id_' || "
            "regexp_extract(oai_id, '([^:]+)$', 1) AS subj, "
            "resumption_token FROM ids"
        ),
        "kg_batch_windows": (
            "WITH typed AS (SELECT DISTINCT subj AS edition "
            f"FROM {g} WHERE pred = '{RDF_TYPE}' "
            "AND obj = 'http://purl.org/ontology/bibo/Document'), "
            "sol AS (SELECT t.edition AS work, t.edition, o.obj AS object "
            f"FROM typed t JOIN {g} o ON o.subj = t.edition "
            "AND o.pred = 'http://purl.org/ontology/bibo/isbn') "
            "SELECT work, edition, object, "
            "CAST((ROW_NUMBER() OVER (ORDER BY work, edition, object) - 1) "
            "// 40 AS INT) AS batch_id FROM sol"
        ),
        "kg_nt_render": (
            "SELECT '<' || subj || '> <' || pred || '> ' || "
            "CASE WHEN obj_is_uri THEN '<' || obj || '>' "
            f"WHEN dtype IS NOT NULL THEN '\"' || {_NT_ESC} || "
            "'\"^^<http://www.w3.org/2001/XMLSchema#' || "
            "replace(dtype, 'xsd:', '') || '>' "
            f"WHEN lang IS NOT NULL THEN '\"' || {_NT_ESC} || '\"@' || lang "
            f"ELSE '\"' || {_NT_ESC} || '\"' END || ' .' AS line "
            f"FROM {g} WHERE regexp_matches(subj, "
            "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]')"
        ),
        "kg_rdfxml_render": (
            "WITH esc AS (SELECT subj, pred, obj_is_uri, lang, dtype, "
            "replace(replace(replace(replace(obj, '&', '&amp;'), "
            "'<', '&lt;'), '>', '&gt;'), '\"', '&quot;') AS eobj, "
            "replace(replace(replace(replace(subj, '&', '&amp;'), "
            "'<', '&lt;'), '>', '&gt;'), '\"', '&quot;') AS esubj, "
            "regexp_extract(pred, '([A-Za-z_][A-Za-z0-9_.\\-]*)$', 1) "
            "AS local "
            f"FROM {g} WHERE regexp_matches(subj, "
            "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]')), "
            "props AS (SELECT subj, esubj, "
            "'<n0:' || local || ' xmlns:n0=\"' || "
            "replace(replace(replace(replace(substr(pred, 1, "
            "length(pred) - length(local)), '&', '&amp;'), '<', '&lt;'), "
            "'>', '&gt;'), '\"', '&quot;') || '\"' || "
            "CASE WHEN obj_is_uri THEN ' rdf:resource=\"' || eobj || '\"/>' "
            "WHEN dtype IS NOT NULL THEN ' rdf:datatype=\"' || "
            "'http://www.w3.org/2001/XMLSchema#' || "
            "replace(dtype, 'xsd:', '') || '\">' || eobj || "
            "'</n0:' || local || '>' "
            "WHEN lang IS NOT NULL THEN ' xml:lang=\"' || lang || '\">' || "
            "eobj || '</n0:' || local || '>' "
            "ELSE '>' || eobj || '</n0:' || local || '>' END AS prop "
            "FROM esc) "
            "SELECT subj, '<rdf:Description rdf:about=\"' || min(esubj) || "
            "'\">' || string_agg(prop, '' ORDER BY prop) || "
            "'</rdf:Description>' AS xml FROM props GROUP BY subj"
        ),
        "kg_connected_components": (
            "WITH RECURSIVE "
            f"e AS (SELECT left_uri AS src, right_uri AS dst "
            f"FROM read_parquet('{GOLDEN_EDGES}') "
            f"UNION SELECT right_uri, left_uri FROM read_parquet('{GOLDEN_EDGES}')), "
            "nodes AS (SELECT DISTINCT src AS uri FROM e), "
            "reach(uri, node) AS ("
            "  SELECT uri, uri FROM nodes"
            "  UNION"
            "  SELECT r.uri, e.dst FROM reach r JOIN e ON e.src = r.node) "
            "SELECT uri, min(node) AS component FROM reach GROUP BY uri"
        ),
        "kg_reverse_marc": (
            "WITH base AS (SELECT subj, "
            "min(CASE WHEN pred = 'http://purl.org/dc/terms/identifier' "
            "THEN obj END) AS rec_id, "
            "min(CASE WHEN pred = 'http://purl.org/dc/terms/title' "
            "THEN obj END) AS title, "
            "min(CASE WHEN pred = 'http://purl.org/spar/fabio/hasSubtitle' "
            "THEN obj END) AS subtitle, "
            "min(CASE WHEN pred = "
            "'http://rdvocab.info/Elements/statementOfResponsibility' "
            "THEN obj END) AS responsible, "
            "min(CASE WHEN pred = 'http://purl.org/dc/terms/creator' "
            "THEN obj END) AS creator_uri, "
            "min(CASE WHEN pred = "
            "'http://data.deichman.no/location_signature' "
            "THEN obj END) AS location_signature, "
            "min(CASE WHEN pred = 'http://data.deichman.no/ageLimit' "
            "THEN obj END) AS age_limit, "
            "min(CASE WHEN pred = 'http://purl.org/ontology/bibo/isbn' "
            "THEN obj END) AS isbn, "
            "min(CASE WHEN pred = 'http://purl.org/ontology/bibo/issn' "
            "THEN obj END) AS issn "
            f"FROM {g} GROUP BY subj), "
            "cr AS (SELECT subj AS creator_uri, "
            "min(CASE WHEN pred = "
            "'http://def.bibsys.no/xmlns/radatana/1.0#catalogueName' "
            "THEN obj END) AS creator_name, "
            "min(CASE WHEN pred = 'http://purl.org/dc/terms/identifier' "
            "THEN obj END) AS creator_id "
            f"FROM {g} WHERE pred IN ("
            "'http://def.bibsys.no/xmlns/radatana/1.0#catalogueName', "
            "'http://purl.org/dc/terms/identifier') GROUP BY subj "
            # all-or-nothing optional group (marcmodeler.rb:24-27)
            "HAVING min(CASE WHEN pred = "
            "'http://def.bibsys.no/xmlns/radatana/1.0#catalogueName' "
            "THEN obj END) IS NOT NULL AND min(CASE WHEN pred = "
            "'http://purl.org/dc/terms/identifier' THEN obj END) "
            "IS NOT NULL) "
            "SELECT b.subj, b.rec_id, b.title, b.subtitle, b.responsible, "
            "CASE WHEN cr.creator_name IS NOT NULL THEN b.creator_uri END "
            "AS creator_uri, cr.creator_name, cr.creator_id, "
            "b.location_signature, b.age_limit, b.isbn, b.issn "
            "FROM base b LEFT JOIN cr USING (creator_uri) "
            "WHERE b.rec_id IS NOT NULL AND b.title IS NOT NULL"
        ),
        "kg_rule_engine": (
            f"SELECT t.subj AS subj, t.obj AS title FROM {g} t "
            "WHERE t.pred = 'http://purl.org/dc/terms/title' AND EXISTS ("
            f"SELECT 1 FROM {g} ty WHERE ty.subj = t.subj "
            f"AND ty.pred = '{RDF_TYPE}' "
            "AND ty.obj = 'http://purl.org/ontology/bibo/Document')"
        ),
        # localize() applied by hand: DEFAULT_GRAPH -> golden view,
        # DC.creator / RDF.type / BIBO.Document -> full URIs,
        # DEFAULT_PREFIX.id_7000000 -> default library base + term;
        # the table alias T survives unrewritten (rule.rb:80-93).
        "kg_rule_localize": (
            f"SELECT t.subj AS doc, t.obj AS creator FROM {g} t "
            f"WHERE t.pred = '{DC_CREATOR}' "
            "AND t.subj <> 'http://example.com/id_7000000' AND EXISTS ("
            f"SELECT 1 FROM {g} ty WHERE ty.subj = t.subj "
            f"AND ty.pred = '{RDF_TYPE}' "
            "AND ty.obj = 'http://purl.org/ontology/bibo/Document')"
        ),
        "kg_enrichment_join": (
            "WITH typed AS (SELECT DISTINCT subj AS edition "
            f"FROM {g} WHERE pred = '{RDF_TYPE}' "
            "AND obj = 'http://purl.org/ontology/bibo/Document'), "
            "sol AS (SELECT t.edition AS work, t.edition, o.obj AS object "
            f"FROM typed t JOIN {g} o ON o.subj = t.edition "
            "AND o.pred = 'http://purl.org/ontology/bibo/isbn'), "
            "resp AS (SELECT DISTINCT object AS key, "
            "'http://media.example/cover/' || "
            "regexp_replace(object, '[^0-9Xx]', '', 'g') || '.jpg' AS value, "
            "CASE WHEN substr(md5(regexp_replace(object, '[^0-9Xx]', '', "
            "'g')), 1, 1) = '0' THEN '0a993cc6694e9249965e626eb4e037c7' "
            "ELSE md5(regexp_replace(object, '[^0-9Xx]', '', 'g')) END "
            "AS payload_md5 FROM sol) "
            "SELECT DISTINCT work AS subj, "
            "'http://xmlns.com/foaf/0.1/depiction' AS pred, value AS obj, "
            "true AS obj_is_uri, CAST(NULL AS VARCHAR) AS lang, "
            "CAST(NULL AS VARCHAR) AS dtype "
            "FROM sol JOIN resp ON sol.object = resp.key "
            "WHERE resp.payload_md5 != '0a993cc6694e9249965e626eb4e037c7'"
        ),
        "kg_work_lookup": (
            "WITH typed AS (SELECT DISTINCT subj AS edition "
            f"FROM {g} WHERE pred = '{RDF_TYPE}' "
            "AND obj = 'http://purl.org/ontology/bibo/Document'), "
            # the deterministic work layer: <edition>#work -- the
            # manifestation hop of the BGP (batch_harvest.rb:110-131)
            "sol AS (SELECT t.edition || '#work' AS work, t.edition, "
            f"o.obj AS object FROM typed t JOIN {g} o "
            "ON o.subj = t.edition "
            "AND o.pred = 'http://purl.org/ontology/bibo/isbn'), "
            "resp AS (SELECT DISTINCT object AS key, "
            "'http://media.example/cover/' || "
            "regexp_replace(object, '[^0-9Xx]', '', 'g') || '.jpg' AS value, "
            "CASE WHEN substr(md5(regexp_replace(object, '[^0-9Xx]', '', "
            "'g')), 1, 1) = '0' THEN '0a993cc6694e9249965e626eb4e037c7' "
            "ELSE md5(regexp_replace(object, '[^0-9Xx]', '', 'g')) END "
            "AS payload_md5 FROM sol) "
            "SELECT DISTINCT work AS subj, "
            "'http://xmlns.com/foaf/0.1/depiction' AS pred, value AS obj, "
            "true AS obj_is_uri, CAST(NULL AS VARCHAR) AS lang, "
            "CAST(NULL AS VARCHAR) AS dtype "
            "FROM sol JOIN resp ON sol.object = resp.key "
            "WHERE resp.payload_md5 != '0a993cc6694e9249965e626eb4e037c7'"
        ),
        "docs_ngram_jaccard": (
            "WITH toks AS (SELECT doc_id, regexp_split_to_array("
            "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w "
            "FROM documents), "
            "tri AS (SELECT doc_id, list_distinct("
            "[array_to_string(w[i:i+2], ' ') "
            "FOR i IN generate_series(1, greatest(len(w) - 2, 1))]) AS sh "
            "FROM toks), "
            "pairs AS (SELECT a.doc_id AS a, b.doc_id AS b "
            "FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1) "
            "SELECT p.a, p.b, round(len(list_intersect(ta.sh, tb.sh)) * 1.0 "
            "/ len(list_distinct(list_concat(ta.sh, tb.sh))), 4) AS jaccard "
            "FROM pairs p JOIN tri ta ON ta.doc_id = p.a "
            "JOIN tri tb ON tb.doc_id = p.b"
        ),
        "docs_near_dup_embedding": (
            "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v "
            "FROM embeddings) "
            "SELECT a.vec_id AS a_id, b.vec_id AS b_id, "
            "round(list_cosine_similarity(a.v, b.v), 4) AS sim "
            "FROM e a JOIN e b ON a.vec_id < b.vec_id "
            "WHERE list_cosine_similarity(a.v, b.v) >= 0.45"
        ),
        "docs_dedup_droplist": (
            "WITH doubled AS (SELECT doc_id, text FROM documents "
            "UNION ALL SELECT doc_id + 1000000, text FROM documents), "
            "fp AS (SELECT doc_id, "
            "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp "
            "FROM doubled), "
            "keep AS (SELECT fp, min(doc_id) AS keep_id, "
            "count(*) AS n_docs FROM fp "
            "GROUP BY fp HAVING count(*) > 1) "
            "SELECT f.doc_id, k.keep_id, f.fp, k.n_docs FROM fp f "
            "JOIN keep k ON k.fp = f.fp WHERE f.doc_id != k.keep_id"
        ),
        "docs_winnow_fingerprint": (
            # winnowing: rolling 5-gram md5-60bit hashes, min per window
            # of 4, distinct (replicates winnow_fingerprints exactly)
            "WITH norm AS (SELECT doc_id, "
            "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS p "
            "FROM documents), "
            "grams AS (SELECT doc_id, [substr(p, i, 5) "
            "FOR i IN generate_series(1, greatest(len(p) - 4, 1))] AS gs "
            "FROM norm), "
            "hs AS (SELECT doc_id, "
            "[CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) FOR g IN gs] "
            "AS hh FROM grams), "
            "mins AS (SELECT doc_id, list_distinct("
            "[list_min(hh[j:j+3]) "
            "FOR j IN generate_series(1, greatest(len(hh) - 3, 1))]) AS fps "
            "FROM hs) "
            "SELECT doc_id, unnest(fps) AS fp FROM mins"
        ),
        # one merged oracle for the four text-statistics families (the
        # driver caps the sweep at 50 rows): tokens + quality + lang-ID
        # + fingerprint, same formulas as the former four oracles
        "docs_text_features": (
            "SELECT doc_id, "
            "CASE WHEN trim(text) = '' THEN 0 ELSE "
            "length(regexp_split_to_array(trim(text), '\\s+')) END "
            "AS n_tokens, "
            "len(regexp_extract_all(text, "
            "'''(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))"
            " AS n_tokens_bpe, "
            "length(text) AS len_chars, "
            "round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / "
            "greatest(length(text), 1), 4) AS alpha_ratio, "
            "round(length(regexp_replace(text, '[^0-9]', '', 'g')) / "
            "greatest(length(text), 1), 4) AS digit_ratio, "
            "round(length(regexp_replace(text, "
            "'[^.,;:!?''\"()\\[\\]-]', '', 'g')) / "
            "greatest(length(text), 1), 4) AS punct_ratio, "
            "round(length(regexp_replace(text, '[^A-Z]', '', 'g')) / "
            "greatest(length(text), 1), 4) AS upper_ratio, "
            "round(CASE WHEN trim(text) = '' THEN 0 ELSE "
            "length(text) / length(regexp_split_to_array(trim(text), '\\s+')) "
            "END, 4) AS mean_token_len, "
            + ", ".join(f"hits_{c}" for c in _LANG_HITS)
            + f", {lang_case} AS lang_pred, "
            "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp, "
            "length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) "
            "AS norm_len "
            "FROM (SELECT doc_id, text, " + lang_cols + " FROM ("
            "SELECT doc_id, text, ' ' || lower(text) || ' ' AS p "
            "FROM documents))"
        ),
        "docs_clean_corpus": (
            "WITH feats AS (SELECT doc_id, "
            "CASE WHEN trim(text) = '' THEN 0 ELSE "
            "length(regexp_split_to_array(trim(text), '\\s+')) END "
            "AS n_tokens, "
            "round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / "
            "greatest(length(text), 1), 4) AS alpha_ratio, "
            "round(length(regexp_replace(text, '[^0-9]', '', 'g')) / "
            "greatest(length(text), 1), 4) AS digit_ratio, "
            f"{lang_case} AS lang_pred, "
            "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp "
            "FROM (SELECT doc_id, text, " + lang_cols + " FROM ("
            "SELECT doc_id, text, ' ' || lower(text) || ' ' AS p "
            "FROM documents))), "
            "gated AS (SELECT * FROM feats WHERE n_tokens BETWEEN 20 AND 80 "
            "AND alpha_ratio >= 0.8 AND digit_ratio <= 0.2 "
            "AND lang_pred IN ('en', 'de', 'fr')) "
            "SELECT doc_id, n_tokens, alpha_ratio, digit_ratio, lang_pred "
            "FROM (SELECT *, row_number() OVER (PARTITION BY fp "
            "ORDER BY doc_id) AS rn FROM gated) t WHERE rn = 1"
        ),
        "ann_topk": (
            "WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec "
            "FROM embeddings WHERE vec_id < 3), "
            "c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS n_vec "
            "FROM embeddings), "
            "scored AS (SELECT q_id, n_id, "
            "list_cosine_similarity(q_vec, n_vec) AS sim "
            "FROM q CROSS JOIN c WHERE n_id != q_id) "
            "SELECT q_id, n_id, rank FROM ("
            "SELECT q_id, n_id, row_number() OVER ("
            "PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank "
            "FROM scored) t WHERE rank <= 5"
        ),
        "events_last_write_wins": (
            "SELECT user_id, event_id AS last_event_id, value AS last_value "
            "FROM (SELECT user_id, event_id, value, row_number() OVER ("
            "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn "
            "FROM events) t WHERE rn = 1"
        ),
        "multimodal_features": (
            # exact replication of deterministic_fake_decode_u32: the 8
            # big-endian uint32 lanes of sha256(utf-8 text bytes)
            "SELECT doc_id AS media_id, 'image' AS kind, "
            "strlen(text) AS n_bytes, "
            "array_to_string(["
            + ", ".join(
                f"CAST('0x' || substr(sha256(text), {i * 8 + 1}, 8) AS BIGINT)"
                for i in range(8)
            )
            + "], ',') AS feature_sig FROM documents"
        ),
        "docs_near_dup_minhash": _minhash_oracle_sql(),
        "docs_simhash": _simhash_oracle_sql(),
        "kg_link_entities": (
            "WITH " + _link_cte(g)
            + " SELECT mention_uri, auth_id, score FROM links"
        ),
        "kg_full_pipeline": (
            # convert (== golden, proven by kg_convert_skeleton) ->
            # link -> CC (recursive CTE) -> canonicalize -> dedup
            "WITH RECURSIVE " + _link_cte(g) + ", "
            "e AS (SELECT mention_uri AS src, auth_id AS dst FROM links "
            "UNION SELECT auth_id, mention_uri FROM links), "
            "cnodes AS (SELECT DISTINCT src AS uri FROM e), "
            "reach(uri, node) AS (SELECT uri, uri FROM cnodes "
            "UNION SELECT r.uri, e.dst FROM reach r JOIN e ON e.src = r.node), "
            "comp AS (SELECT uri, min(node) AS component FROM reach "
            "GROUP BY uri) "
            "SELECT DISTINCT coalesce(cs.component, t.subj) AS subj, t.pred, "
            "CASE WHEN t.obj_is_uri THEN coalesce(co.component, t.obj) "
            "ELSE t.obj END AS obj, t.obj_is_uri, t.lang, t.dtype "
            f"FROM {g} t LEFT JOIN comp cs ON cs.uri = t.subj "
            "LEFT JOIN comp co ON co.uri = t.obj"
        ),
        "ann_lsh_topk": _ann_lsh_oracle(),
        "docs_near_dup_embedding_lsh": _embedding_lsh_oracle(),
        "docs_pack_sequences": (
            "WITH toks AS (SELECT doc_id, "
            "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) "
            "AS BIGINT) % 8 AS bucket, "
            "CASE WHEN trim(text) = '' THEN 0 ELSE "
            "len(regexp_split_to_array(trim(text), '\\s+')) END "
            "AS n_tokens FROM documents), "
            "offs AS (SELECT doc_id, bucket, CAST(n_tokens AS BIGINT) "
            "AS n_tokens, "
            "CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id "
            "ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_tok "
            "FROM toks) "
            "SELECT doc_id, bucket, start_tok, n_tokens, "
            "CAST(floor(start_tok / 512.0) AS BIGINT) AS bin FROM offs"
        ),
        "docs_decontaminate": (
            "WITH toks AS (SELECT doc_id, regexp_split_to_array("
            "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w "
            "FROM documents), "
            "tri AS (SELECT doc_id, list_distinct("
            "[array_to_string(w[i:i+2], ' ') "
            "FOR i IN generate_series(1, greatest(len(w) - 2, 1))]) AS sh "
            "FROM toks), "
            "bench AS (SELECT DISTINCT unnest(sh) AS g FROM tri "
            "WHERE doc_id % 50 = 0), "
            "corpus AS (SELECT doc_id, unnest(sh) AS g FROM tri), "
            "scored AS (SELECT c.doc_id, count(*) AS n_grams, "
            "count(b.g) AS n_hit FROM corpus c "
            "LEFT JOIN bench b ON b.g = c.g GROUP BY c.doc_id) "
            "SELECT doc_id, n_grams, n_hit, "
            "round(n_hit * 1.0 / n_grams, 4) AS contamination, "
            "n_hit * 1.0 / n_grams >= 0.1 AS flagged FROM scored"
        ),
        "docs_repetition": (
            "WITH w AS (SELECT doc_id, CASE WHEN "
            "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) = '' "
            "THEN []::VARCHAR[] ELSE string_split("
            "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') "
            "END AS ws FROM documents), "
            "streams AS ("
            "SELECT doc_id, 'w' AS kind, unnest(ws) AS gram FROM w "
            "UNION ALL "
            "SELECT doc_id, '2' AS kind, unnest("
            "[ws[i] || ' ' || ws[i+1] "
            "FOR i IN generate_series(1, greatest(len(ws) - 1, 0))]"
            ") AS gram FROM w), "
            "counts AS (SELECT doc_id, kind, gram, count(*) AS cnt "
            "FROM streams GROUP BY 1, 2, 3), "
            "per_doc AS (SELECT doc_id, "
            "sum(CASE WHEN kind = 'w' THEN cnt END) AS n_words, "
            "max(CASE WHEN kind = 'w' THEN cnt END) AS top_cnt, "
            "sum(CASE WHEN kind = 'w' AND cnt > 1 THEN cnt END) AS dup_cnt, "
            "sum(CASE WHEN kind = '2' THEN cnt END) AS n2, "
            "sum(CASE WHEN kind = '2' AND cnt > 1 THEN cnt END) AS dup2 "
            "FROM counts GROUP BY 1) "
            "SELECT d.doc_id, "
            "CAST(coalesce(n_words, 0) AS BIGINT) AS n_words, "
            "round(coalesce(top_cnt, 0) * 1.0 "
            "/ greatest(coalesce(n_words, 0), 1), 4) AS top_word_frac, "
            "round(coalesce(dup_cnt, 0) * 1.0 "
            "/ greatest(coalesce(n_words, 0), 1), 4) AS dup_word_frac, "
            "round(coalesce(dup2, 0) * 1.0 "
            "/ greatest(coalesce(n2, 0), 1), 4) AS dup_2gram_frac "
            "FROM documents d LEFT JOIN per_doc USING (doc_id)"
        ),
        "events_percentiles": (
            "SELECT event_type, "
            "round(quantile_cont(value, 0.5), 4) AS p50, "
            "round(quantile_cont(value, 0.9), 4) AS p90, "
            "count(*) AS n FROM events GROUP BY event_type"
        ),
        # bounded-error oracle: the Spark side emits whether each
        # approx_percentile value lies between the EXACT interpolated
        # percentiles at p +/- 0.01 (a 10x margin over the sketch's
        # guaranteed n/1000 rank error), so the oracle is TRUE literals
        # — any tolerance breach flips a boolean and fails the hash
        "events_percentiles_approx": (
            "SELECT event_type, count(*) AS n, "
            "TRUE AS p50_ok, TRUE AS p90_ok "
            "FROM events GROUP BY event_type"
        ),
        "events_windowed_counts": (
            "WITH e AS (SELECT date_trunc('hour', ts) AS win_start, "
            "event_type, CAST(value AS DECIMAL(12,2)) AS v FROM events), "
            "mx AS (SELECT max(ts) AS m FROM events) "
            "SELECT CAST(epoch(win_start) AS BIGINT) AS win_start, "
            "event_type, count(*) AS n, "
            "CAST(sum(v) * 100 AS BIGINT) AS sum_cents FROM e, mx "
            "WHERE win_start + INTERVAL 1 HOUR <= m "
            "GROUP BY 1, 2"
        ),
        "docs_streaming_dedup": (
            "SELECT min(doc_id) AS doc_id, fp FROM (SELECT doc_id, "
            "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) "
            "AS fp FROM documents) GROUP BY fp"
        ),
        "docs_pii_scrub": (
            "WITH a AS (SELECT doc_id, text || ' contact user' || "
            "CAST(doc_id AS VARCHAR) || '@example.org at 10.0.' || "
            "CAST(doc_id % 256 AS VARCHAR) || "
            "'.7 tel +47 22 11 22 33 now' AS t0 FROM documents), "
            "b AS (SELECT doc_id, len(regexp_extract_all(t0, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) "
            "AS n_emails, regexp_replace(t0, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', "
            "'<EMAIL>', 'g') AS t1 FROM a), "
            "c AS (SELECT doc_id, n_emails, len(regexp_extract_all(t1, "
            "'\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) "
            "AS n_ipv4, regexp_replace(t1, "
            "'\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', "
            "'<IP>', 'g') AS t2 FROM b) "
            "SELECT doc_id, n_emails, n_ipv4, "
            "len(regexp_extract_all(t2, '\\+[0-9][0-9 -]{6,}[0-9]')) "
            "AS n_phones, regexp_replace(t2, "
            "'\\+[0-9][0-9 -]{6,}[0-9]', '<PHONE>', 'g') AS clean_text "
            "FROM c"
        ),
        "docs_source_filter": (
            "SELECT doc_id, source, lang FROM documents WHERE NOT ("
            "source IN ('src0', 'src7', 'src13') "
            "OR source LIKE 'src0.%' OR source LIKE 'src7.%' "
            "OR source LIKE 'src13.%')"
        ),
        "docs_mix_sample": (
            "SELECT doc_id, lang, h FROM (SELECT doc_id, lang, "
            "CAST('0x' || substr(md5('mix1' || CAST(doc_id AS VARCHAR)), "
            "1, 15) AS BIGINT) % 10000 AS h FROM documents) "
            "WHERE h < CASE lang WHEN 'en' THEN 5000 "
            "WHEN 'de' THEN 2500 WHEN 'fr' THEN 1000 ELSE 0 END"
        ),
        "docs_boilerplate": (
            "WITH w AS (SELECT doc_id, CASE WHEN "
            "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) = '' "
            "THEN []::VARCHAR[] ELSE string_split("
            "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') "
            "END AS ws FROM documents), "
            "occ AS (SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] "
            "FOR i IN generate_series(1, greatest(len(ws) - 1, 0))]) "
            "AS gram FROM w), "
            "dfq AS (SELECT gram FROM (SELECT gram, "
            "count(DISTINCT doc_id) AS df FROM occ GROUP BY gram) "
            "WHERE df > 0.2 * (SELECT count(*) FROM documents)), "
            "sc AS (SELECT o.doc_id, count(*) AS n_grams2, "
            "sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) "
            "AS n_boiler FROM occ o LEFT JOIN dfq b USING (gram) "
            "GROUP BY o.doc_id) "
            "SELECT d.doc_id, "
            "CAST(coalesce(n_grams2, 0) AS BIGINT) AS n_grams2, "
            "CAST(coalesce(n_boiler, 0) AS BIGINT) AS n_boiler, "
            "round(coalesce(n_boiler, 0) * 1.0 "
            "/ greatest(coalesce(n_grams2, 0), 1), 4) AS boiler_frac "
            "FROM documents d LEFT JOIN sc USING (doc_id)"
        ),
        "docs_ngram_counts": (
            "WITH w AS (SELECT doc_id, CASE WHEN "
            "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) = '' "
            "THEN []::VARCHAR[] ELSE string_split("
            "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') "
            "END AS ws FROM documents), "
            "g AS (SELECT unnest([ws[i] || ' ' || ws[i+1] "
            "FOR i IN generate_series(1, greatest(len(ws) - 1, 0))]) "
            "AS gram FROM w) "
            "SELECT gram, count(*) AS n FROM g GROUP BY gram "
            "ORDER BY n DESC, gram LIMIT 50"
        ),
        "ann_ivf_topk": (
            "WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v "
            "FROM embeddings), "
            "cent AS (SELECT vec_id AS cell, v AS cv FROM emb "
            "ORDER BY vec_id LIMIT 16), "
            "sc AS (SELECT e.vec_id, c.cell, "
            "list_cosine_similarity(e.v, c.cv) AS sim "
            "FROM emb e CROSS JOIN cent c), "
            "ranked AS (SELECT vec_id, cell, row_number() OVER ("
            "PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn "
            "FROM sc), "
            "idx AS (SELECT vec_id AS n_id, cell FROM ranked WHERE rn = 1), "
            "probe AS (SELECT vec_id AS q_id, cell FROM ranked "
            "WHERE rn <= 4 AND vec_id < 3), "
            "pairs AS (SELECT DISTINCT p.q_id, i.n_id FROM probe p "
            "JOIN idx i ON i.cell = p.cell WHERE i.n_id != p.q_id), "
            "scored AS (SELECT pr.q_id, pr.n_id, "
            "list_cosine_similarity(q.v, n.v) AS sim FROM pairs pr "
            "JOIN emb q ON q.vec_id = pr.q_id "
            "JOIN emb n ON n.vec_id = pr.n_id) "
            "SELECT q_id, n_id, rank FROM (SELECT q_id, n_id, "
            "row_number() OVER (PARTITION BY q_id "
            "ORDER BY sim DESC, n_id ASC) AS rank FROM scored) t "
            "WHERE rank <= 5"
        ),
    }
