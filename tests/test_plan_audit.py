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


def _formatted(spark, df):
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return df._jdf.queryExecution().explainString(mode)


def _tree_ops(spark, df):
    from tools.plan_audit import parse_tree_ops

    return parse_tree_ops(_formatted(spark, df))


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
    assert "Scan ExistingRDD" not in ops, (
        "the spec table is a JVM literal, not a Python-built RDD")
    assert "SortMergeJoin" not in ops
    assert "CartesianProduct" not in ops
    assert ops.count("Exchange") <= 5


def test_link_plan_is_jvm_only(spark, queries):
    """Blocked linking scores in the JVM: no Python operator, candidate
    pairs from the (block, salt) equi-join, within the audited shuffle
    budget."""
    import re

    from tools.plan_audit import EXPECT, parse_tree_ops

    formatted = _formatted(spark, queries["kg_link_entities"](spark, SF_DIR))
    ops = parse_tree_ops(formatted)
    assert not any("Python" in o for o in ops), ops
    assert re.search(r"Left keys \[2\]: \[block#\d+, salt#\d+L?\]", formatted)
    budget = EXPECT["kg_link_entities"]["max_shuffles"]
    assert budget == 5
    assert ops.count("Exchange") <= budget, ops


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


def test_contract_cli_rejects_unknown_arguments():
    """An unknown option (``--ansi`` is none) or query name is a usage
    error, not a run that checks zero queries and exits 0."""
    from tools.check_contract import parse_args

    for argv in (["--ansi"], ["no_such_query"]):
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


def test_tree_ops_keep_the_scan_kind():
    """``Scan ExistingRDD`` and ``Scan parquet`` are different leaves; a
    ``forbid`` entry must be able to name one of them."""
    from tools.plan_audit import parse_tree_ops

    formatted = (
        "== Physical Plan ==\n"
        "AdaptiveSparkPlan (6)\n"
        "+- * BroadcastHashJoin Inner BuildRight (5)\n"
        "   :- * Filter (2)\n"
        "   :  +- * Scan parquet  (1)\n"
        "   +- BroadcastExchange (4)\n"
        "      +- * Scan ExistingRDD (3)\n"
        "\n\n"
        "(1) Scan parquet \n"
        "(3) Scan ExistingRDD [codegen id : 2]\n"
    )
    assert parse_tree_ops(formatted) == [
        "AdaptiveSparkPlan", "BroadcastHashJoin", "Filter", "Scan parquet",
        "BroadcastExchange", "Scan ExistingRDD",
    ]


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


def test_audit_reports_a_raising_query_and_goes_on(
    spark, queries, monkeypatch, tmp_path, capsys
):
    """A query whose callable raises gets a FAIL row; the other audited
    queries still get theirs, the report is written and the exit is 1."""
    import __spark_entry__ as entrymod
    from tools.plan_audit import audit

    def broken(spark, sf_dir):
        raise FileNotFoundError("no fixture here")

    monkeypatch.setattr(
        entrymod, "queries", lambda: {**queries, "docs_mix_sample": broken}
    )
    out = tmp_path / "PLANS.md"
    names = ["docs_mix_sample", "docs_source_filter", "events_last_write_wins"]
    assert audit(names, str(out)) == 1
    lines = capsys.readouterr().out.splitlines()
    assert any(ln.startswith("docs_mix_sample") and
               "FAIL: FileNotFoundError: no fixture here" in ln
               for ln in lines), lines
    for name in names[1:]:
        assert any(ln.startswith(name) and ln.endswith(" ok")
                   for ln in lines), (name, lines)
    report = out.read_text()
    assert "| docs_mix_sample |" in report and "FileNotFoundError" in report


def _committed_scan_rows(query):
    """``(scan, columns read, pushed filters)`` rows of ``query`` in the
    committed BENCH/PLANS.md scan-pruning table."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH", "PLANS.md")
    with open(path) as f:
        text = f.read()
    table = text.split("## Scan pruning", 1)[1]
    rows = []
    for line in table.splitlines():
        cells = line.strip().strip("|").split(" | ")
        if len(cells) == 4 and cells[0].strip() == query:
            rows.append(tuple(c.strip() for c in cells[1:]))
    return rows


def test_committed_scan_table_matches_the_plan(spark, queries):
    """The committed PLANS.md scan rows are what the audit prints today:
    a change that prunes or widens a scan must regenerate the table."""
    from tools.plan_audit import parse_scans

    for query in ("kg_select_record", "docs_mix_sample"):
        scans = parse_scans(_formatted(spark, queries[query](spark, SF_DIR)))
        got = [(s["loc"], str(s["cols"]), s["pushed"] or "—") for s in scans]
        assert got, query
        assert got == _committed_scan_rows(query), query
