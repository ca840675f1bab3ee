"""Driver-semantics gate: the library runs under Spark's default SQL
settings.

The driver's correctness harness builds a vanilla Spark 4.x session,
where ``spark.sql.ansi.enabled`` defaults to TRUE and
``spark.sql.mapKeyDedupPolicy`` defaults to EXCEPTION.  ``get_spark``
(session.py) keeps both defaults, so the whole suite runs under the
semantics the contract is graded in.  Round 2 shipped an operator
(connected_components' sum(xxhash64) checksum) that passed the local
suite and then crashed in the driver with ARITHMETIC_OVERFLOW, because
the local session had turned ANSI off.

This module executes every contract query from
``__spark_entry__.queries()`` against sf0.001 data, and pins that the
session keeps the defaults and that conversion does not change them.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from marc2rdf_spark.compiler import MappingCompiler
from marc2rdf_spark.config import Library, Mapping
from marc2rdf_spark.marc import (
    ControlField,
    DataField,
    Record,
    Subfield,
    record_to_dict,
    record_to_xml,
)
from marc2rdf_spark.schema import RECORDS_SCHEMA

SF_DIR = os.environ.get("SF_DIR_TINY", "/root/testdata/sf0.001")

_QUERIES = sorted(entrymod.queries().items())


@pytest.mark.parametrize("name,fn", _QUERIES, ids=[n for n, _ in _QUERIES])
def test_query_runs_under_ansi(spark, name, fn):
    df = fn(spark, SF_DIR)
    # Execution (not just plan analysis) is the point: ANSI failures are
    # runtime ArithmeticException/CastException, not analysis errors.
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_runs_under_ansi(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_session_keeps_default_sql_semantics(spark):
    """get_spark sets neither conf, convert() mutates neither, and a
    repeated subfield code resolves to its first occurrence (ruby-marc
    field[code]) under the EXCEPTION dedup policy."""
    conf = spark.conf
    assert conf.get("spark.sql.ansi.enabled") == "true"
    assert conf.get("spark.sql.mapKeyDedupPolicy") == "EXCEPTION"

    record = Record(leader=" " * 24, fields=[
        ControlField("001", "s1"),
        DataField("245", " ", " ", [
            Subfield("a", "first"), Subfield("b", "sub"),
            Subfield("a", "second"),
        ]),
    ])
    records = spark.createDataFrame(
        [{"url": "u0", "record_xml": record_to_xml(record),
          "record": record_to_dict(record)}],
        RECORDS_SCHEMA,
    )
    mapping = Mapping(tags={"245": {"subfield": {"a": {
        "predicate": "DC.title", "object": {"datatype": "literal"},
    }}}})
    rows = MappingCompiler(mapping, Library()).convert(records).collect()

    assert conf.get("spark.sql.mapKeyDedupPolicy") == "EXCEPTION"
    assert [r["obj"] for r in rows if r["pred"].endswith("/title")] == [
        "first"
    ]
