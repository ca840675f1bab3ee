"""The compiled mapping's one emission path (higher-order functions
over an object array): its plan size and its per-row stage switches.

Each pipeline stage in MappingCompiler._pipeline must reference its
predecessor once, with the per-row spec switch inside the element
lambda.  The form when(on, f(arr)).otherwise(arr) doubles the tree at
every stage; the size pin below catches it coming back.  The parity
test turns every stage switch on, in the object position and inside a
relation block, and checks the result against the pure-Python oracle.
The tree is built once per process: a warm convert() reuses it, plans
like a fresh build, and never serves another mapping's or library's
tree.
"""

import gc
import re
import threading
from collections import Counter

from marc2rdf_spark.compiler import MappingCompiler
from marc2rdf_spark.config import (
    SPEC_LIBRARY,
    Library,
    Mapping,
    load_dummy_mapping,
    load_skeleton_mapping,
)
from marc2rdf_spark.marc import (
    ControlField,
    DataField,
    Record,
    Subfield,
    record_to_dict,
    record_to_xml,
)
from marc2rdf_spark.oracle.converter import convert_records
from marc2rdf_spark.schema import RECORDS_SCHEMA
from marc2rdf_spark.sources.synth import variant_record

TRIPLE_COLS = ["subj", "pred", "obj", "obj_is_uri", "lang", "dtype"]

# analyzed skeleton conversion plan: 2,248 expression nodes with
# single-reference stages; the doubling form grows exponentially with
# the number of stages
MAX_EXPRESSION_NODES = 2600


def _expression_nodes(jplan) -> int:
    """Expression nodes of a JVM logical plan, counted by walking
    expressions()/children() through py4j."""
    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def count(expr) -> int:
        return 1 + sum(count(c) for c in seq(expr.children()))

    def walk(plan) -> int:
        return sum(count(e) for e in seq(plan.expressions())) + sum(
            walk(c) for c in seq(plan.children())
        )

    return walk(jplan)


def _records_df(spark, records: list[Record]):
    rows = [
        {"url": f"u{i}", "record_xml": record_to_xml(r),
         "record": record_to_dict(r)}
        for i, r in enumerate(records)
    ]
    return spark.createDataFrame(rows, RECORDS_SCHEMA)


def test_skeleton_plan_size_is_pinned(spark):
    records = spark.createDataFrame([], RECORDS_SCHEMA)
    triples = MappingCompiler(load_skeleton_mapping(), Library()).convert(
        records
    )
    n = _expression_nodes(triples._jdf.queryExecution().analyzed())
    assert n <= MAX_EXPRESSION_NODES, (
        f"analyzed conversion plan has {n} expression nodes "
        f"(> {MAX_EXPRESSION_NODES}): a pipeline stage references its "
        "predecessor more than once"
    )


LEXVO = "http://lexvo.org/id/iso639-3/"

# Between them the specs below switch on every pipeline stage: substr,
# regex_split, substitute, combine, strip, urlize, a relation block
# and a relation class.
STAGES_MAPPING = Mapping(tags={
    "008": {
        # substr in the object position, with a relation class
        "language": {
            "predicate": "DC.language",
            "object": {"datatype": "uri", "prefix": LEXVO,
                       "substr_offset": 3, "substr_length": 3},
            "relation": {"class": "LVONT.Language"},
        },
        # split without capture group; the blank piece must be dropped
        # (controlfield-only per-object guard)
        "parts": {
            "predicate": "DC.identifier",
            "object": {"datatype": "literal", "regex_split": "\\|"},
        },
    },
    "020": {"subfield": {
        # the same blank piece on a datafield is kept
        "a": {"predicate": "BIBO.isbn",
              "object": {"datatype": "literal", "regex_split": "\\|"}},
    }},
    "041": {"subfield": {
        # split WITH a capture group, then strip
        "a": {"predicate": "DC.language",
              "object": {"datatype": "uri", "prefix": LEXVO,
                         "regex_split": "(\\w{3})",
                         "regex_strip": "[\\W]+"}},
    }},
    "245": {"subfield": {
        # combine, then strip
        "a": {"predicate": "DC.title",
              "object": {"datatype": "literal", "combine": ["a", "b"],
                         "combinestring": " ", "regex_strip": "\\s*/$"}},
    }},
    "650": {"subfield": {
        # split, substitute ('bar' matches but is unmapped: dropped),
        # urlize
        "a": {"predicate": "DC.subject",
              "object": {"datatype": "uri",
                         "prefix": "http://example.org/subject/",
                         "regex_split": ";",
                         "regex_substitute": {
                             "orig": "foo|bar|baz",
                             "subs": {"foo": "Foo Fighters",
                                      "baz": "Baz Luhrmann"}},
                         "urlize": True}},
    }},
    "700": {"subfield": {
        "3": {
            "predicate": "DC.contributor",
            "object": {"datatype": "uri",
                       "prefix": "http://example.org/person/",
                       "substr_offset": 1, "substr_length": 4},
            "relation": {"class": "FABIO.Work", "subfield": {
                "a": {"predicate": "SKOS.prefLabel",
                      "object": {"datatype": "literal", "lang": ":no",
                                 "combine": ["a", "q"],
                                 "combinestring": " - "}},
                "b": {"predicate": "SKOS.notation",
                      "object": {"datatype": "literal",
                                 "substr_offset": 1, "substr_length": 2}},
                "c": {"predicate": "DC.identifier",
                      "object": {"datatype": "literal",
                                 "regex_split": ","}},
                "d": {"predicate": "DC.language",
                      "object": {"datatype": "uri", "prefix": LEXVO,
                                 "regex_split": "(\\w{3})",
                                 "regex_strip": "[\\W]+"}},
                "e": {"predicate": "DC.title",
                      "object": {"datatype": "literal",
                                 "regex_split": ";",
                                 "regex_substitute": {
                                     "orig": "foo|bar",
                                     "subs": {"foo": "Foo"}}}},
                "u": {"predicate": "DC.subject",
                      "object": {"datatype": "uri",
                                 "prefix": "http://example.org/s/",
                                 "urlize": True}},
            }},
        },
    }},
})


def _stage_records() -> list[Record]:
    def df(tag, *subs):
        return DataField(tag, " ", " ", [Subfield(c, v) for c, v in subs])

    return [
        Record(leader=" " * 24, fields=[
            ControlField("001", "s1"),
            ControlField("008", "abcnob|  |xyz"),
            df("020", ("a", "978| ")),
            df("041", ("a", "nob,eng. swe")),
            df("245", ("a", "Tittel :"), ("b", "undertittel /")),
            df("650", ("a", "Foo; bar ; Qux Quux; baz!")),
            df("700", ("3", "x1234567"), ("a", "Ås, Bjørn"),
               ("q", "1950-"), ("b", "k12x"), ("c", "id1,id2,,id3"),
               ("d", "nob, eng"), ("e", "foo; bar; Qux"),
               ("u", "Én ting")),
        ]),
        # switches whose guard fails: short 008 and 700$3 (no substr
        # object, so no relation triples), no 245$b to combine
        Record(leader=" " * 24, fields=[
            ControlField("001", "s2"),
            ControlField("008", "ab"),
            df("245", ("a", "Alene /")),
            df("700", ("3", "y9"), ("a", "Navn"), ("c", "z1")),
        ]),
    ]


def test_stage_switches_match_oracle(spark):
    records = _stage_records()
    records_df = _records_df(spark, records)
    comp = MappingCompiler(STAGES_MAPPING, Library())
    assert comp.regs.split, "fixture must reach the regex_split dispatch"
    got = Counter(
        tuple(r) for r in comp.convert(records_df).select(TRIPLE_COLS).collect()
    )
    expected = Counter(
        tuple(t)
        for t in convert_records(records, STAGES_MAPPING, Library(), dedup=False)
    )
    assert got == expected

    objs = {(re.split("[/#]", t[1])[-1], t[2]) for t in expected}
    # the switches really fired on this input
    assert ("identifier", "abcnob") in objs
    assert not any(o.strip() == "" for p, o in objs if p == "identifier")
    assert ("isbn", " ") in objs  # datafield keeps the blank piece
    assert not any("bar" in o.lower() for _p, o in objs)  # unmapped: dropped
    assert ("title", "Tittel : undertittel") in objs  # combine + strip
    assert ("prefLabel", "Ås, Bjørn - 1950-") in objs  # combine in relation
    assert ("notation", "12") in objs  # substr in relation
    assert ("language", LEXVO + "nob") in objs
    assert ("language", LEXVO + "eng") in objs


# ---------------------------------------------------------------------------
# The Column tree is built once per process and keyed by what it reads
# (identifier tag, subject base, split registry): a warm convert() only
# assembles the DataFrame, and no key ever serves another key's tree.
# ---------------------------------------------------------------------------

def _py4j_calls(fn) -> int:
    """py4j commands that fn() sends from this thread, with the cyclic
    collector off so that py4j's deletes of collected objects do not
    count (other threads send such deletes too)."""
    from py4j.java_gateway import GatewayClient

    calls = 0
    send = GatewayClient.send_command
    caller = threading.current_thread()

    def counting(self, *args, **kwargs):
        nonlocal calls
        calls += threading.current_thread() is caller
        return send(self, *args, **kwargs)

    gc.collect()
    gc.disable()
    GatewayClient.send_command = counting
    try:
        fn()
    finally:
        GatewayClient.send_command = send
        gc.enable()
    return calls


def test_warm_convert_reuses_the_tree(spark):
    records = _records_df(spark, [variant_record(i) for i in range(3)])
    MappingCompiler(load_skeleton_mapping(), Library()).convert(records)
    # a fresh compiler over an equal mapping: ~6,400 calls when the tree
    # is rebuilt, ~160 when it is reused
    calls = _py4j_calls(
        lambda: MappingCompiler(load_skeleton_mapping(), Library()).convert(
            records
        )
    )
    assert calls <= 300, f"warm convert() made {calls} py4j calls"


def test_cached_tree_plans_like_a_fresh_one(spark, monkeypatch):
    from marc2rdf_spark.compiler import compiler

    warm = _records_df(spark, [variant_record(0)])
    records = _records_df(spark, [variant_record(i) for i in range(1, 4)])
    comp = MappingCompiler(load_skeleton_mapping(), Library())
    comp.convert(warm)
    cached = comp.convert(records)._jdf.queryExecution().analyzed()
    monkeypatch.setattr(compiler, "_TREES", {})
    fresh = comp.convert(records)._jdf.queryExecution().analyzed()
    assert cached.sameResult(fresh)


def test_interleaved_conversions_keep_their_triples(spark):
    records = [variant_record(i) for i in range(4)]
    records_df = _records_df(spark, records)
    cases = [
        (load_skeleton_mapping(), Library()),
        (load_dummy_mapping(), Library()),
        (STAGES_MAPPING, Library()),
        (load_skeleton_mapping(), SPEC_LIBRARY),
        (load_dummy_mapping(), SPEC_LIBRARY),
        (load_skeleton_mapping(), Library()),
    ]
    for mapping, library in cases:
        got = Counter(
            tuple(r)
            for r in MappingCompiler(mapping, library)
            .convert(records_df).select(TRIPLE_COLS).collect()
        )
        expected = Counter(
            tuple(t)
            for t in convert_records(records, mapping, library, dedup=False)
        )
        assert got == expected
        assert got  # non-vacuous
