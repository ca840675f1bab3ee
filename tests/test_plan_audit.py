"""Pin the physical-plan audit (tools/plan_audit.py) in the suite.

The contract gate proves values; these tests prove the PLANS stay the
ones designed for 100 TB: zero-shuffle operators stay zero-shuffle,
broadcast-designed joins stay broadcast, and nothing grows a cartesian
product.  Only fast-to-plan queries are pinned here (plan construction
only — nothing executes); the full audit is run by
``python tools/plan_audit.py`` which regenerates BENCH/PLANS.md.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def _tree_ops(spark, df):
    from tools.plan_audit import parse_tree_ops

    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return parse_tree_ops(df._jdf.queryExecution().explainString(mode))


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entrymod

    return entrymod.queries()


def test_mix_sample_is_pure_narrow_scan(spark, queries):
    ops = _tree_ops(spark, queries["docs_mix_sample"](spark, SF_DIR))
    assert "Exchange" not in ops, "mix_sample must never shuffle"
    assert not any("Python" in o for o in ops), "must stay JVM-side"


def test_source_filter_broadcasts_blocklist(spark, queries):
    ops = _tree_ops(spark, queries["docs_source_filter"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in ops, (
        "suffix-match blocklist is designed as a broadcast anti-join")
    assert "Exchange" not in ops, "the corpus side must not shuffle"
    assert "CartesianProduct" not in ops


def test_lww_shuffles_at_most_one_row_per_key_per_partition(spark, queries):
    ops = _tree_ops(spark, queries["events_last_write_wins"](spark, SF_DIR))
    assert ops.count("Exchange") == 1
    shuffle_at = ops.index("Exchange")
    assert "WindowGroupLimit" in ops[shuffle_at:], (
        "map-side WindowGroupLimit below the shuffle is the "
        "partial-combine property — losing it means shuffling every row")


def test_decontaminate_broadcasts_bench_side(spark, queries):
    ops = _tree_ops(spark, queries["docs_decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in ops, (
        "MB-scale bench grams must broadcast, never shuffle the corpus")
    assert "SortMergeJoin" not in ops
    assert ops.count("Exchange") <= 3


def test_minhash_banding_never_all_pairs(spark, queries):
    ops = _tree_ops(spark, queries["docs_near_dup_minhash"](spark, SF_DIR))
    assert "CartesianProduct" not in ops
    assert "BroadcastNestedLoopJoin" not in ops, (
        "candidate pairs must come from (band,bucket) equi-joins")


def test_conversion_plan_shape(spark, queries):
    """The flagship conversion: one Arrow MapInPandas extract (records
    are read once), broadcast spec join, no sort-merge or cartesian,
    bounded shuffle count."""
    ops = _tree_ops(spark, queries["kg_convert_skeleton"](spark, SF_DIR))
    assert "MapInPandas" in ops, "record extract must be Arrow-batched"
    # the query synthesizes its pages with a MapInPandas too: one
    # synthesis plus one record extract
    assert ops.count("MapInPandas") == 2, "records must be extracted once"
    assert "BroadcastHashJoin" in ops, "the spec table must broadcast"
    assert "SortMergeJoin" not in ops
    assert "CartesianProduct" not in ops
    assert ops.count("Exchange") <= 5


def test_full_audit_expectations_resolve(queries):
    """Every pinned name in the audit table is a real contract query —
    a rename there must update the audit, not silently skip it."""
    from tools.plan_audit import EXPECT

    missing = [n for n in EXPECT if n not in queries]
    assert not missing, f"plan_audit EXPECT has stale names: {missing}"


def test_audit_cli_parses_out_apart_from_the_query_filter():
    """``--out PATH`` must not leak PATH into the query filter (that
    made the audit match zero queries and exit 0)."""
    from tools.plan_audit import parse_args

    args = parse_args(["--out", "foo.md"])
    assert (args.out, args.queries) == ("foo.md", [])
    args = parse_args(["kg_convert_skeleton", "--out", "foo.md"])
    assert (args.out, args.queries) == ("foo.md", ["kg_convert_skeleton"])
    for argv in (["--out"], ["no_such_query"]):
        with pytest.raises(SystemExit) as exc:
            parse_args(argv)
        assert exc.value.code == 2, argv


def test_audit_fails_when_the_filter_matches_nothing(monkeypatch, tmp_path):
    import __spark_entry__ as entrymod
    from tools.plan_audit import audit

    monkeypatch.setattr(entrymod, "queries", lambda: {})
    out = tmp_path / "PLANS.md"
    assert audit(["kg_convert_skeleton"], str(out)) == 1
    assert not out.exists()


def test_read_schema_width_counts_top_level_fields():
    from tools.plan_audit import read_schema_width

    assert read_schema_width("ReadSchema: struct<url:string>") == 1
    assert read_schema_width(
        "ReadSchema: struct<a:struct<b:int,c:map<string,int>>,"
        "d:array<struct<e:int,f:int>>,g:string>"
    ) == 3
    assert read_schema_width("ReadSchema: struct<>") == 0
    # cut short by spark.sql.maxMetadataStringLength: a lower bound
    assert read_schema_width("ReadSchema: struct<a:int,b:struct<c:i...") \
        == "2+"
