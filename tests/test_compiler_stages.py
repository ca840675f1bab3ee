"""The array (higher-order-function) branch of the compiled mapping:
its plan size and its per-row stage switches.

Each pipeline stage in MappingCompiler._pipeline must reference its
predecessor once, with the per-row spec switch inside the element
lambda.  The form when(on, f(arr)).otherwise(arr) doubles the tree at
every stage; the size pin below catches it coming back.  The parity
test turns every stage switch on, in the object position and inside a
relation block, and checks the result against the pure-Python oracle.
"""

import re
from collections import Counter

from marc2rdf_spark.compiler import MappingCompiler
from marc2rdf_spark.config import Library, Mapping, load_skeleton_mapping
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

TRIPLE_COLS = ["subj", "pred", "obj", "obj_is_uri", "lang", "dtype"]

# analyzed skeleton conversion plan: 3,092 expression nodes with
# single-reference stages, 22,310 with the doubling form
MAX_EXPRESSION_NODES = 4000


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

# Every spec below is on the array branch: it has a regex_split, a
# combine, a relation block or a relation class.
STAGES_MAPPING = Mapping(tags={
    "008": {
        # substr in the object position (relation class -> array branch)
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
    rows = [
        {"url": f"u{i}", "record_xml": record_to_xml(r),
         "record": record_to_dict(r)}
        for i, r in enumerate(records)
    ]
    records_df = spark.createDataFrame(rows, RECORDS_SCHEMA)
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
