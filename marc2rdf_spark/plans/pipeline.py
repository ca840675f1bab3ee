"""End-to-end pipeline assembly (SURVEY.md §3.1 re-expressed):

  web_pages -> extract+parse -> compiled mapping -> triples
    [-> link -> canonicalize] -> dedup -> N-Triples / Iceberg

plus the N-Triples materialize stage (G7/G8: deduplicated set output,
invalid-URI statements counted not written)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..compiler import MappingCompiler
from ..config import Library, Mapping, load_dummy_mapping, load_skeleton_mapping
from ..functions.exprs import nt_line
from ..sources.extract import extract_and_parse
from ..sources.synth import synth_web_pages

TRIPLE_COLS = ["subj", "pred", "obj", "obj_is_uri", "lang", "dtype"]


def load_mapping(name: str) -> Mapping:
    return load_skeleton_mapping() if name == "skeleton" else load_dummy_mapping()


def _convert(
    records: DataFrame,
    mapping: Mapping | str,
    library: Library | None,
) -> DataFrame:
    """Parsed records -> deduplicated triples: the one convert assembly
    behind every source (pages, binary ISO 2709)."""
    if isinstance(mapping, str):
        mapping = load_mapping(mapping)
    triples = MappingCompiler(mapping, library or Library()).convert(records)
    return triples.select(TRIPLE_COLS).dropDuplicates(TRIPLE_COLS)


def convert_pages(
    pages: DataFrame,
    mapping: Mapping | str = "skeleton",
    library: Library | None = None,
    urls_colocated: bool = False,
) -> DataFrame:
    """web_pages DF -> deduplicated triples DF.  ``urls_colocated``
    enables the shuffle-free in-partition LWW extract for url-bucketed
    input layouts (see extract_and_parse)."""
    # include_xml=False: straight conversion never reads the exact
    # snippet (that's the staging zone's concern), so don't pay the
    # Arrow round-trip for a full copy of every record's text
    records = extract_and_parse(
        pages, urls_colocated=urls_colocated, include_xml=False
    )
    return _convert(records, mapping, library)


def synth_and_convert(
    spark,
    n_pages: int,
    mapping: Mapping | str = "skeleton",
    partitions: int | None = None,
) -> DataFrame:
    """``n_pages`` synthetic web_pages -> deduplicated triples DF."""
    return convert_pages(synth_web_pages(spark, n_pages, partitions), mapping)


def convert_binary(
    spark,
    path: str,
    mapping: Mapping | str = "skeleton",
) -> DataFrame:
    """Binary ISO 2709 corpus (S1; reference MARC::ForgivingReader CLI
    path, marc2rdf.rb:50) -> deduplicated triples DF.  Same compiled
    mapping plan as convert_pages; only the source stage differs
    (binaryFile scan + forgiving Arrow parse instead of page-text
    extraction)."""
    from ..sources.binary_marc import read_binary_marc

    return _convert(read_binary_marc(spark, path), mapping, None)


def full_pipeline(
    triples: DataFrame,
    authorities: DataFrame,
    label_preds: list[str],
    threshold: float = 0.7,
    stats: dict | None = None,
) -> DataFrame:
    """North-star end-to-end tail: triples -> blocked linking -> CC ->
    canonicalize -> dedup.  ``stats`` is passed to connected_components
    (rounds, round_rows, node_ids).  The triple DF feeds three consumers
    (mention extraction, canonicalize, dedup) — localCheckpoint it once
    so (a) the conversion plan executes a single time and (b)
    downstream plans reference the materialized result instead of
    re-ANALYZING the large compiled-mapping expression tree on every
    action (analysis runs before the cache lookup, so plain persist()
    still costs seconds of driver time per downstream query).  At
    cluster scale this is the intermediate Iceberg materialization the
    resume path needs anyway (jobs/convert_job.py writes raw_triples)."""
    from ..operators.components import (
        canonicalize_triples,
        connected_components,
    )
    from ..operators.linking import link_mentions, mention_nodes, sameas_edges

    triples = triples.localCheckpoint(eager=True)
    mentions = mention_nodes(triples, label_preds)
    links = link_mentions(mentions, authorities, threshold=threshold)
    comps = connected_components(sameas_edges(links), stats=stats)
    return canonicalize_triples(triples, comps).dropDuplicates(TRIPLE_COLS)


def to_rdfxml(triples: DataFrame) -> DataFrame:
    """Second serialization (marc2rdf.rb:14,56 RDF::Writer-by-extension
    path): one rdf:Description block per subject, property elements
    rendered columnar with inline namespace declarations, properties
    lexically sorted for determinism.  Returns (subj, xml)."""
    from ..functions.exprs import is_uri, rdfxml_property, xml_escape

    valid = triples.filter(is_uri(F.col("subj")))
    props = valid.select(
        "subj",
        rdfxml_property(
            F.col("pred"), F.col("obj"), F.col("obj_is_uri"),
            F.col("lang"), F.col("dtype"),
        ).alias("prop"),
    )
    return props.groupBy("subj").agg(
        F.concat(
            F.lit('<rdf:Description rdf:about="'),
            xml_escape(F.col("subj")),
            F.lit('">'),
            F.array_join(F.sort_array(F.collect_list("prop")), ""),
            F.lit("</rdf:Description>"),
        ).alias("xml")
    )


def rdfxml_document(triples: DataFrame) -> DataFrame:
    """Full document lines (header + sorted blocks + footer) — write
    with coalesce(1).text for a single .rdf file, or keep distributed
    as line shards."""
    spark = triples.sparkSession
    header = spark.createDataFrame(
        [
            (0, '<?xml version="1.0" encoding="UTF-8"?>'),
            (
                1,
                '<rdf:RDF xmlns:rdf='
                '"http://www.w3.org/1999/02/22-rdf-syntax-ns#">',
            ),
        ],
        ["ord", "line"],
    )
    blocks = to_rdfxml(triples).select(
        F.lit(2).alias("ord"), F.col("xml").alias("line")
    )
    footer = spark.createDataFrame([(3, "</rdf:RDF>")], ["ord", "line"])
    return header.unionByName(blocks).unionByName(footer).orderBy(
        "ord", "line"
    ).select("line")


def to_ntriples(triples: DataFrame) -> DataFrame:
    """Materialize stage: render canonical N-Triples lines (G7).
    Statements whose subject is not a valid URI are the reference's
    'invalid statement skipped with warning' path (rdfmodeler.rb:317-321)
    — excluded from the rendered output."""
    from ..functions.exprs import is_uri

    valid = triples.filter(is_uri(F.col("subj")))
    return valid.select(
        nt_line(
            F.col("subj"), F.col("pred"), F.col("obj"),
            F.col("obj_is_uri"), F.col("lang"), F.col("dtype"),
        ).alias("line")
    )
