"""Incremental ingestion (SURVEY.md §2.1 S4/S5, §2.10).

The reference's "streaming" is scheduled incremental batch: OAI-PMH
windows (from/until datestamps), resumption-token pagination, raw-XML
staging and replay (/root/reference/lib/oaiclient.rb:28-109,
scheduler.rb:276-344,477-485).  Spark-first equivalents:

 - window_batch: timestamp-window batch reads over the web_pages table
   (warc_ts predicate -> partition/file pruning at the scan);
 - run_available_now: Structured Streaming with Trigger.AvailableNow +
   checkpointLocation — exactly-once incremental conversion over a
   file-backed table; resumption tokens become the streaming offset log;
 - tombstone handling (U6): a deleted-flag column drives purges in the
   foreachBatch merge.

No watermarks/event-time windows are needed: OAI re-delivers whole
records and last-write-wins by warc_ts replaces late-data handling
(SURVEY.md §2.10)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import Library, Mapping
from ..plans.pipeline import TRIPLE_COLS, convert_pages
from ..schema import WEB_PAGES_SCHEMA


def window_batch(
    pages: DataFrame,
    from_ts: dt.datetime | None = None,
    until_ts: dt.datetime | None = None,
) -> DataFrame:
    """OAI-style from/until window (oaiclient.rb:28-44): a plain
    timestamp predicate the scan can prune on."""
    out = pages
    if from_ts is not None:
        out = out.filter(F.col("warc_ts") >= F.lit(from_ts))
    if until_ts is not None:
        out = out.filter(F.col("warc_ts") < F.lit(until_ts))
    return out


# OAI deleted-record header (scheduler.rb:379-383); the identifier's
# last colon-segment is the record id the reference purges by
TOMBSTONE_RE = r'<header\s+status="deleted">\s*<identifier>([^<]+)</identifier>'


def parse_tombstones(pages: DataFrame, library: Library | None = None) -> DataFrame:
    """S4 envelope slice: extract deleted-record subjects from OAI-style
    deleted headers embedded in page text.  Pure Column regex (no UDF);
    the id maps to a subject URI exactly like G1 minting."""
    lib = library or Library()
    ids = pages.select(
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(TOMBSTONE_RE), F.lit(1))
        ).alias("oai_id")
    )
    rec_id = F.regexp_extract(F.col("oai_id"), r"([^:]+)$", 1)
    return ids.select(
        F.concat(F.lit(lib.base + lib.prefix), rec_id).alias("subj")
    ).distinct()


def is_tombstone_page(text_col) -> "F.Column":
    return text_col.rlike(TOMBSTONE_RE)


# One OAI ListRecords <record> envelope (header + optional metadata);
# the backreferenced close tag keeps nested <mx:record> metadata inside
# the outer match (same contract as marc._RECORD_RE).
_OAI_RECORD_BLOCK_RE = r"(?s)<((?:[A-Za-z_][\w.\-]*:)?)record[\s>].*?</\1record\s*>"
_RESUMPTION_RE = r"<resumptionToken[^>]*>([^<]*)</resumptionToken>"


def parse_oai_envelope(
    pages: DataFrame, library: Library | None = None
) -> DataFrame:
    """OAI ListRecords envelope -> one row per harvested record:
    (url, oai_id, rec_id, deleted, subj, resumption_token).

    Re-expresses the reference's OAIResponse surface (oaiclient.rb:58-75,
    oaiclient_spec.rb:29-44: record count, per-record header identifier,
    deleted status, resumption token) as pure Column regex over page
    text — no UDF, so the scan stays in whole-stage codegen and the
    explode is the only row-multiplying step.  ``rec_id`` is the
    identifier's last colon-segment (header.identifier.split(':').last);
    ``subj`` is the G1-minted subject URI the tombstone/purge path keys
    on.  The resumption token is per-PAGE (the response header), carried
    onto each record row for the harvest loop's next-window bookkeeping
    (scheduler.rb:336-344)."""
    lib = library or Library()
    blocks = pages.select(
        "url",
        F.regexp_extract(F.col("text"), _RESUMPTION_RE, 1).alias(
            "resumption_token"
        ),
        F.explode(
            F.regexp_extract_all(
                F.col("text"), F.lit(_OAI_RECORD_BLOCK_RE), F.lit(0)
            )
        ).alias("block"),
    )
    oai_id = F.regexp_extract(
        F.col("block"), r"<identifier>([^<]+)</identifier>", 1
    )
    rec_id = F.regexp_extract(oai_id, r"([^:]+)$", 1)
    return blocks.select(
        "url",
        oai_id.alias("oai_id"),
        rec_id.alias("rec_id"),
        F.col("block").rlike(r'<header\s+status="deleted"').alias("deleted"),
        F.concat(F.lit(lib.base + lib.prefix), rec_id).alias("subj"),
        "resumption_token",
    )


def run_available_now(
    spark: SparkSession,
    pages_path: str,
    out_path: str,
    checkpoint_path: str,
    mapping: Mapping | str = "skeleton",
    library: Library | None = None,
) -> None:
    """Incremental convert of new page files since the last run
    (Trigger.AvailableNow): processes exactly the unseen files, then
    stops.  Re-running resumes from the checkpoint — the Spark-native
    form of the reference's resumption-token loop (scheduler.rb:336-344).

    Each micro-batch runs the full convert pipeline and appends
    deduplicated triples (per-batch dedup; global dedup happens in the
    materialize stage)."""

    stream = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(pages_path)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tomb = F.col("text").rlike(TOMBSTONE_RE)
        # A single OAI ListRecords response carries live AND deleted
        # records (scheduler.rb:376-383 walks them one by one), so
        # conversion sees every page: deleted-header envelopes parse to
        # field-less records and emit no triples, while live records on
        # the same page convert normally.  Pages that are pure
        # tombstone envelopes are skipped as a scan-level fast path.
        live = batch_df.filter(
            ~tomb | F.col("text").rlike(r"(?s)<(?:\w+:)?metadata[\s>]")
        )
        if not live.isEmpty():
            triples = convert_pages(live, mapping, library)
            # batch stamp: tombstones purge only triples appended in the
            # SAME OR EARLIER batch, so a record deleted in batch N and
            # legitimately re-delivered (un-deleted) in batch N+1
            # survives — matching the reference's immediate SPARQL
            # DELETE ordering (sparql_update.rb: delete happens when the
            # tombstone arrives, later re-harvests re-insert)
            triples.select(*TRIPLE_COLS).withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            ).write.mode("append").parquet(out_path)
        tombs = parse_tombstones(batch_df.filter(tomb), library)
        if not tombs.isEmpty():
            # merge-on-read deletion markers (resolved by read_converted)
            tombs.withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            ).write.mode("append").parquet(out_path + "_tombstones")

    (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def apply_tombstones(store: DataFrame, tombstones: DataFrame) -> DataFrame:
    """U6: OAI 'deleted' records (scheduler.rb:379-383) -> purge subjects
    including inbound edges."""
    from ..operators.store import purge_record

    return purge_record(store, tombstones)


def apply_tombstones_versioned(
    triples: DataFrame, tombstones: DataFrame
) -> DataFrame:
    """Batch-ordered tombstone resolution: a tombstone purges a
    subject's triples (incl. inbound edges) ONLY when the triple was
    appended in the same or an earlier batch.  Re-delivered records in
    later batches survive, matching the reference's delete-then-
    reinsert semantics (sparql_update.rb executes the DELETE at
    tombstone arrival; a later harvest re-inserts).

    SAME-BATCH tie-break: **tombstone wins**.  Batch id is the unit of
    ordering here, so a record re-delivered live in the SAME
    micro-batch as its tombstone is suppressed regardless of
    intra-response arrival order — a deliberate divergence from the
    reference's strictly per-record apply order (scheduler.rb walks
    records one by one), chosen because delete-wins is the safe
    resolution for a dedup/purge pipeline (a dropped record can be
    re-harvested; a leaked deleted record is a compliance bug).
    Callers needing the reference's within-response ordering should
    emit finer-grained batch stamps (e.g. a per-record sequence), not
    change this rule.

    Legacy rows with NULL batch_id (stores written before stamping, or
    mixed-schema reads) order as the PRE-STAMPING ERA: legacy triples
    coalesce to batch -2 and legacy TOMBSTONES to -1, so a legacy
    tombstone purges every legacy triple for its subject (the old
    unconditional-purge fallback, now deterministic) while stamped
    triples (batch >= 0) postdate it and survive; stamped tombstones
    purge legacy triples as "before everything".  Both sides must be
    coalesced — coalescing only the triple side would make a
    NULL-batch tombstone's max(batch_id) NULL and silently purge
    NOTHING, leaking exactly the deleted records the delete-wins rule
    exists to suppress.

    Two broadcast left joins against the per-subject max tombstone
    batch — the tombstone set is tiny relative to the store, so no
    store-sized shuffle."""
    tomb_max = F.broadcast(
        tombstones.select(
            "subj",
            F.coalesce(F.col("batch_id"), F.lit(-1).cast("long")).alias(
                "batch_id"
            ),
        )
        .groupBy("subj")
        .agg(F.max("batch_id").alias("tb"))
    )
    batch = F.coalesce(F.col("batch_id"), F.lit(-2).cast("long"))
    out = (
        triples.join(
            tomb_max.select(F.col("subj").alias("_ts"), F.col("tb").alias("_stb")),
            F.col("subj") == F.col("_ts"),
            "left",
        )
        .filter(F.col("_stb").isNull() | (F.col("_stb") < batch))
        .drop("_ts", "_stb")
    )
    return (
        out.join(
            tomb_max.select(F.col("subj").alias("_to"), F.col("tb").alias("_otb")),
            F.col("obj") == F.col("_to"),
            "left",
        )
        .filter(F.col("_otb").isNull() | (F.col("_otb") < batch))
        .drop("_to", "_otb")
    )


def read_converted(spark: SparkSession, out_path: str) -> DataFrame:
    """Merge-on-read view of the incrementally converted store: the
    appended triples minus tombstoned subjects (incl. inbound edges) —
    the lakehouse equivalent of the reference's immediate SPARQL DELETE
    (in Iceberg production this is a MERGE ... WHEN MATCHED THEN
    DELETE).  Tombstones always resolve in batch order (see
    apply_tombstones_versioned); a side written before batch stamping
    reads a NULL batch_id, so a legacy tombstone purges legacy triples
    only."""
    from pyspark.errors import AnalysisException

    # mergeSchema: a mixed store (stamped + pre-batch_id legacy files)
    # must surface batch_id whenever ANY file carries it, whichever
    # file Spark samples for the footer schema.
    triples = spark.read.option("mergeSchema", "true").parquet(out_path)
    try:
        tombs = spark.read.option("mergeSchema", "true").parquet(
            out_path + "_tombstones"
        )
    except AnalysisException:  # no tombstones staged yet
        return triples
    stamped = "batch_id" in triples.columns
    null_batch = F.lit(None).cast("long")
    if not stamped:
        triples = triples.withColumn("batch_id", null_batch)
    if "batch_id" not in tombs.columns:
        tombs = tombs.withColumn("batch_id", null_batch)
    out = apply_tombstones_versioned(triples, tombs)
    return out if stamped else out.drop("batch_id")
