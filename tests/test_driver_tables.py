"""Driver-side tables are built in the JVM (schema.local_frame): the
compiler's spec table, the lineage log of a fresh run and the small
key lists of the store and curation operators.  None of them runs a
Python worker task or leaves an RDD-backed ``Scan ExistingRDD`` in a
plan, and a wrongly typed value raises instead of reading as null."""

import pytest

from marc2rdf_spark.compiler import MappingCompiler
from marc2rdf_spark.config import (
    Library,
    load_dummy_mapping,
    load_skeleton_mapping,
)
from marc2rdf_spark.marc import (
    parse_collection_xml,
    record_to_dict,
    record_to_xml,
)
from marc2rdf_spark.plans.lineage import LineageLog
from marc2rdf_spark.schema import RECORDS_SCHEMA


def _plain(v):
    """Row -> dict tree; maps compare as dicts, whatever their order."""
    if hasattr(v, "asDict"):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


@pytest.mark.parametrize(
    "load", [load_skeleton_mapping, load_dummy_mapping], ids=["skeleton", "dummy"]
)
def test_spec_table_holds_the_flattened_rows(spark, load):
    comp = MappingCompiler(load(), Library())
    got = [_plain(r) for r in comp.specs_df(spark).collect()]
    assert got == [_plain(r) for r in comp.spec_rows]
    assert len(got) == len(comp.spec_rows) > 0


@pytest.mark.parametrize(
    "field, value", [("substr_off", "three"), ("urlize", "yes")]
)
def test_wrongly_typed_spec_field_raises(spark, field, value):
    comp = MappingCompiler(load_dummy_mapping(), Library())
    row = comp.spec_rows[0]
    comp.spec_rows[0] = {**row, "spec": {**row["spec"], field: value}}
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        comp.specs_df(spark).collect()


def test_missing_lineage_log_runs_no_spark_job(spark, tmp_path):
    log = LineageLog(spark, str(tmp_path / "_lineage"))
    sc = spark.sparkContext
    group = "missing-lineage-probe"
    sc.setJobGroup(group, "done_buckets over a missing log")
    try:
        assert log.done_buckets(("r1", "extract")) == {("r1", "extract"): set()}
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    empty = log.read()
    assert empty.columns == [
        "run_id", "stage", "partition_id", "input_rows",
        "output_triples", "status", "updated_at",
    ]
    assert empty.count() == 0


def _executed_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_converted_plan_scans_no_python_rdd(spark, tmp_path):
    with open("fixtures/example.normarc.xml", encoding="utf-8") as f:
        records = parse_collection_xml(f.read())
    rows = [
        {"url": f"u{i}", "record_xml": record_to_xml(r),
         "record": record_to_dict(r)}
        for i, r in enumerate(records)
    ]
    path = str(tmp_path / "records")
    spark.createDataFrame(rows, RECORDS_SCHEMA).write.parquet(path)
    triples = MappingCompiler(load_dummy_mapping(), Library()).convert(
        spark.read.parquet(path)
    )
    assert len(triples.collect()) > 0
    plan = _executed_plan(spark, triples)
    assert "BroadcastHashJoin" in plan, "the spec table must be in the plan"
    assert "ExistingRDD" not in plan


def test_key_lists_are_jvm_tables(spark):
    from marc2rdf_spark.operators.curation import source_blocklist_filter
    from marc2rdf_spark.operators.store import _subjects_df

    docs = spark.range(3).selectExpr(
        "id AS doc_id", "concat('s', id) AS source", "'en' AS lang"
    )
    cases = [
        (source_blocklist_filter(docs, ["s1"]), "source", ["s0", "s2"]),
        (source_blocklist_filter(docs, []), "source", ["s0", "s1", "s2"]),
        (_subjects_df(docs, ["s2", "s1", "s2"]), "subj", ["s1", "s2"]),
    ]
    for df, key, want in cases:
        assert sorted(r[key] for r in df.collect()) == want
        assert "ExistingRDD" not in _executed_plan(spark, df)
