"""Triple-store mutation operators (SURVEY.md §2.5, U1-U6) and the
SPARQL-like query patterns (§2.6 J1-J3, §2.7 A1/A3/A4).

The reference mutates an external Virtuoso store with per-record SPARQL
UPDATE (/root/reference/lib/sparql_update.rb); here the store is a triple
DataFrame (Iceberg table in production, parquet in the sandbox) and each
operator is a set-algebra expression — anti-joins for DELETE, unions for
INSERT — that Catalyst can optimize and AQE can re-plan.

Scale notes: the "record keys" sides of these joins (subjects being
updated per batch) are small relative to the store — they are broadcast;
the store side is never collected and never re-partitioned beyond the
join's own shuffle."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import local_frame
from ..vocab import RDF_TYPE, default_vocabulary

# authority classes whose stale nodes get deleted on record update
# (sparql_update.rb:44-63 lists FOAF.Person/Organization, SKOS.Concept,
# GEONAMES.Feature, BIBO.Series, YAGO.LiteraryGenres, MO.Genre)
AUTHORITY_CLASS_REFS = (
    "FOAF.Person",
    "FOAF.Organization",
    "SKOS.Concept",
    "GEONAMES.Feature",
    "BIBO.Series",
    "YAGO.LiteraryGenres",
    "MO.Genre",
)
# predicates preserved on authority deletion (sparql_update.rb:66-72)
AUTHORITY_PRESERVE_REFS = ("SKOS.broader", "SKOS.narrower", "OWL.sameAs")


def _expand_all(refs) -> list[str]:
    v = default_vocabulary()
    return [v.expand(r) for r in refs]


def _subjects_df(triples: DataFrame, subjects) -> DataFrame:
    if isinstance(subjects, DataFrame):
        return subjects.select(F.col(subjects.columns[0]).alias("subj")).distinct()
    spark = triples.sparkSession
    # dedupe driver-side: keeps the broadcast subtree shuffle-free
    return local_frame(
        spark, [{"subj": s} for s in sorted(set(subjects))], "subj string"
    )


def select_record(triples: DataFrame, subj: str) -> DataFrame:
    """U5: SELECT ?p ?o WHERE {S ?p ?o} (sparql_update.rb:103-109)."""
    return triples.filter(F.col("subj") == subj).select("pred", "obj")


def delete_record_preserving(
    triples: DataFrame, subjects, preserve_pred_refs=()
) -> DataFrame:
    """U1: DELETE {S ?p ?o} MINUS preserved predicates
    (sparql_update.rb:30-42; preserve list libraries.json:17-22).

    Rows of `subjects` with non-preserved predicates are removed.  The
    subjects side is broadcast (small per batch) and the store is only
    *filtered* — a broadcast left join + keep-predicate, so the store
    side never shuffles (the reference's own semantics is a per-subject
    predicate, not a bag difference)."""
    preserve = _expand_all(preserve_pred_refs)
    subs = F.broadcast(
        _subjects_df(triples, subjects).withColumn("__doomed", F.lit(True))
    )
    matched = F.col("__doomed").isNotNull()
    if preserve:
        doomed = matched & ~F.col("pred").isin(preserve)
    else:
        doomed = matched
    return (
        triples.join(subs, "subj", "left")
        .filter(~F.coalesce(doomed, F.lit(False)))
        .drop("__doomed")
    )


def purge_record(triples: DataFrame, subjects) -> DataFrame:
    """U4: delete {S ?p ?o} AND inbound {?x ?y S}
    (sparql_update.rb:90-99)."""
    subs = F.broadcast(_subjects_df(triples, subjects))
    out = triples.join(subs, "subj", "left_anti")
    return out.join(
        subs.withColumnRenamed("subj", "obj"), "obj", "left_anti"
    )


def authority_nodes(triples: DataFrame, class_refs=AUTHORITY_CLASS_REFS) -> DataFrame:
    """U2 candidates: subjects rdf:type'd as an authority class
    (sparql_update.rb:44-63)."""
    classes = _expand_all(class_refs)
    return (
        triples.filter(
            (F.col("pred") == RDF_TYPE) & F.col("obj").isin(classes)
        )
        .select("subj")
        .distinct()
    )


def delete_old_authorities(
    triples: DataFrame,
    fresh_triples: DataFrame,
    preserve_pred_refs=AUTHORITY_PRESERVE_REFS,
) -> DataFrame:
    """U2: delete store triples of authority nodes present in the fresh
    batch, preserving skos:broader/narrower + owl:sameAs.

    Same no-store-shuffle shape as delete_record_preserving: the (small)
    authority-subject set is broadcast and the store is filtered in
    place."""
    preserve = _expand_all(preserve_pred_refs)
    auth = F.broadcast(
        authority_nodes(fresh_triples).withColumn("__doomed", F.lit(True))
    )
    doomed = F.col("__doomed").isNotNull() & ~F.col("pred").isin(preserve)
    return (
        triples.join(auth, "subj", "left")
        .filter(~F.coalesce(doomed, F.lit(False)))
        .drop("__doomed")
    )


def upsert_records(
    store: DataFrame, fresh: DataFrame, preserve_pred_refs=()
) -> DataFrame:
    """U1+U3 modify cycle (scheduler.rb:394-425): delete each fresh
    subject's old triples (minus preserved), insert the fresh ones,
    store-level set semantics (A4 dedup-on-insert)."""
    cols = ["subj", "pred", "obj", "obj_is_uri", "lang", "dtype"]
    cleaned = delete_record_preserving(
        store, fresh.select("subj"), preserve_pred_refs
    )
    return cleaned.select(cols).unionByName(fresh.select(cols)).dropDuplicates(cols)


# ---------------------------------------------------------------------------
# query patterns (J1-J3, A1, A3)
# ---------------------------------------------------------------------------

def count_distinct_by_class(triples: DataFrame) -> DataFrame:
    """A1: SELECT class, COUNT(DISTINCT ?s) WHERE {?s a class}
    (batch_harvest.rb:32-39 generalized per class)."""
    return (
        triples.filter(F.col("pred") == RDF_TYPE)
        .groupBy(F.col("obj").alias("class_uri"))
        .agg(F.countDistinct("subj").alias("n_resources"))
    )


def bgp_join(
    triples: DataFrame, edge_pred: str, node_class: str
) -> DataFrame:
    """J1: 2-pattern BGP self-join — {?doc <edge_pred> ?node . ?node a
    <node_class>} (shape of batch_harvest.rb:116-124's edition/work BGP).
    Self-equi-join on the shared variable; Catalyst picks SMJ/broadcast
    via AQE."""
    edges = triples.filter(F.col("pred") == edge_pred).select(
        F.col("subj").alias("doc"), F.col("obj").alias("node")
    )
    typed = (
        triples.filter(
            (F.col("pred") == RDF_TYPE) & (F.col("obj") == node_class)
        )
        .select(F.col("subj").alias("node"))
        .distinct()
    )
    return edges.join(typed, "node", "left_semi").select("doc", "node")


def rdf2map(triples: DataFrame, preds: list[str]) -> DataFrame:
    """A3: fold a subject's statements into {pred: [distinct values]}
    (marcmodeler.rb:58-67) — reverse-conversion support."""
    out = triples.groupBy("subj")
    aggs = [
        F.sort_array(
            F.collect_set(F.when(F.col("pred") == p, F.col("obj")))
        ).alias(f"p{i}")
        for i, p in enumerate(preds)
    ]
    return out.agg(*aggs)
