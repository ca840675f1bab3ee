"""Stored-rule engine (SURVEY.md §2 Rule, /root/reference/lib/rule.rb +
scheduler.rb:488-498).

A reference Rule is a stored SPARQL script run against the triplestore
via an ``isql`` subprocess, either globally or localized to one
library's graph (rule.rb:80-93 ``localize``/``globalize`` substitute
``DEFAULT_GRAPH`` and ``DEFAULT_PREFIX.term`` placeholders before
execution).  Spark-first equivalent: rules are **Spark SQL scripts over
a registered ``triples`` view** — the named graph becomes the view (or
an Iceberg table name), placeholder substitution is identical, and
execution is a driver-side ``spark.sql`` whose plan Catalyst optimizes
like any other query (no subprocess, no string-shipped engine).

last_result bookkeeping (scheduler.rb:493-496 stores the isql output
per run) becomes the result row count recorded per rule run.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession

from ..config import Library
from ..vocab import Vocabulary, default_vocabulary

DEFAULT_VIEW = "triples"


@dataclass(frozen=True)
class Rule:
    """rule.rb Struct subset that matters for execution: a named SQL
    script plus scheduling metadata (kept for config parity; scheduling
    itself is external cron per SURVEY.md §2.10)."""

    id: str
    name: str
    script: str
    type: str = "global"  # "global" | "local"  (rule.rb:7-9)
    tag: str = ""
    description: str = ""
    frequency: str = ""
    start_time: str = ""


def localize(
    rule: Rule,
    library: Library | None = None,
    vocab: Vocabulary | None = None,
    view: str = DEFAULT_VIEW,
) -> Rule:
    """rule.rb:80-93: DEFAULT_GRAPH -> the triples view/table name;
    DEFAULT_PREFIX.term -> '<base term-uri>' literal from the library's
    URI base (reference: library default_prefix + term)."""
    library = library or Library()
    script = rule.script.replace("DEFAULT_GRAPH", view)
    script = re.sub(
        r"DEFAULT_PREFIX\.(\S+)",
        lambda m: f"'{library.base}{m.group(1)}'",
        script,
    )
    if vocab is not None:
        # PREFIX.term vocabulary refs (e.g. BIBO.Document) -> full URIs.
        # Anchored on the REGISTERED prefixes only (ADVICE r1): a bare
        # uppercase-dotted pattern would also rewrite SQL alias
        # references like T.subj whenever the alias collides with a
        # vocab prefix, silently changing the query.
        prefixes = sorted(vocab.prefixes(), key=len, reverse=True)
        if prefixes:
            pat = (
                r"\b(?:" + "|".join(re.escape(p) for p in prefixes)
                + r")\.[A-Za-z_][\w]*"
            )
            script = re.sub(
                pat, lambda m: f"'{vocab.expand(m.group(0))}'", script
            )
    return replace(rule, script=script)


def run_rule(
    spark: SparkSession,
    triples: DataFrame,
    rule: Rule,
    library: Library | None = None,
    vocab: Vocabulary | None = None,
    view: str = DEFAULT_VIEW,
) -> DataFrame:
    """Execute one rule: register the triples view, localize the script,
    run it.  SELECT rules return their solution set; transformation
    rules (INSERT-style SELECT producing triple-shaped rows) return the
    new triple set for the caller to MERGE (store.upsert_records)."""
    triples.createOrReplaceTempView(view)
    resolved = localize(rule, library, vocab or default_vocabulary(), view)
    return spark.sql(resolved.script)


def run_rules_engine(
    spark: SparkSession,
    triples: DataFrame,
    rules: list[Rule],
    library: Library | None = None,
) -> list[tuple[Rule, int]]:
    """scheduler.rb:488-498 run_rules_engine: execute each rule in
    order, record last_result (here: result row count)."""
    out = []
    for rule in rules:
        df = run_rule(spark, triples, rule, library)
        out.append((rule, df.count()))
    return out


# Example rules mirroring the reference templates
# (config/templates/rules.json dummy_globalrule: "SPARQL SELECT * WHERE
# {?s a bibo:Document ; dct:title ?title}") re-expressed over the
# triple view.
# A LOCAL rule exercising the full localize() surface (rule.rb:80-93):
# DEFAULT_GRAPH -> view, DEFAULT_PREFIX.term -> library-base URI
# literal, registered vocab refs (DC.creator / RDF.type /
# BIBO.Document) -> full URIs — while the uppercase table alias ``T``
# (NOT a registered prefix) must survive unrewritten (ADVICE r1:
# prefix-anchored substitution, rules.py localize).
EXAMPLE_LOCAL_RULE = Rule(
    id="dummy_localrule",
    name="Example Local Rule",
    type="local",
    tag="localtest",
    script=(
        "SELECT T.subj AS doc, T.obj AS creator "
        "FROM DEFAULT_GRAPH T "
        "WHERE T.pred = DC.creator "
        "AND T.subj <> DEFAULT_PREFIX.id_7000000 "
        "AND EXISTS ("
        "  SELECT 1 FROM DEFAULT_GRAPH ty "
        "  WHERE ty.subj = T.subj "
        "  AND ty.pred = RDF.type "
        "  AND ty.obj = BIBO.Document)"
    ),
)

EXAMPLE_GLOBAL_RULE = Rule(
    id="dummy_globalrule",
    name="Example Global Rule",
    type="global",
    tag="globaltest",
    script=(
        "SELECT t.subj AS subj, t.obj AS title "
        "FROM DEFAULT_GRAPH t "
        "WHERE t.pred = 'http://purl.org/dc/terms/title' AND EXISTS ("
        "  SELECT 1 FROM DEFAULT_GRAPH ty "
        "  WHERE ty.subj = t.subj "
        "  AND ty.pred = "
        "'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' "
        "  AND ty.obj = 'http://purl.org/ontology/bibo/Document')"
    ),
)
