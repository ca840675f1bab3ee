"""Physical-plan audit: pin the scale-critical properties of the
headline batch queries and publish them as BENCH/PLANS.md.

The correctness gate (tools/check_contract.py) proves the VALUES are
right; this tool proves the PLANS are the ones we'd want at 100 TB.
For each audited query it captures ``explain("formatted")`` WITHOUT
executing the query, parses the numbered operator tree, and asserts:

- ``forbid``: operators that must not appear anywhere in the plan
  (``CartesianProduct`` globally; ``SortMergeJoin`` where a broadcast
  join is the designed strategy; shuffle ``Exchange`` where the
  operator promises a zero-shuffle plan; ``Scan ExistingRDD`` where
  every driver-side table must be a JVM literal, not a Python RDD).
- ``require``: operators that must appear (the Arrow ``MapInPandas``
  extract stage, ``BroadcastHashJoin``/``BroadcastNestedLoopJoin``
  where a small side is deliberately broadcast, partial aggregation).
- ``max_shuffles``: a per-query budget on shuffle ``Exchange`` nodes —
  the count that was hand-audited as minimal for the semantics.  A
  regression that adds a shuffle (lost co-partitioning, a stray
  ``repartition``, a join that stopped broadcasting) fails the audit
  even while values stay correct.

It also extracts every parquet scan's ReadSchema width and
PushedFilters so column pruning / predicate pushdown are visible in
the artifact, not just claimed.

Streaming queries (docs_streaming_dedup, events_windowed_counts) and
iterative/fixpoint ones (kg_connected_components, kg_full_pipeline,
kg_resume_replay) are excluded: their queries() callables execute work
eagerly (micro-batches, fixpoint rounds), so a pre-execution explain
here would either run the job or describe only one round.  The CC
round's executed plan (three shuffles, two windows, no join) is pinned
by tests/test_operators.py::test_star_round_plan_is_three_shuffles_no_join;
the others' plan stories are told in the operator docstrings.

Usage: python tools/plan_audit.py [--out BENCH/PLANS.md] [query ...]
A query whose callable or explain raises gets a FAIL row with the
exception and the audit goes on.  Exit code 1 if any pinned
expectation fails, any query raises or no audited query is left to
run; exit code 2 (usage error) for a query name that is not
audited.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")

# Per-query pinned expectations.  Op names are exact tree-node names
# from the formatted plan ("Exchange" = shuffle; "BroadcastExchange"
# is counted separately and never against the shuffle budget).
#
# max_shuffles values are the hand-audited minimal counts for the
# semantics at the time of pinning — see BENCH/PLANS.md for the
# per-query justification strings published alongside.
EXPECT: dict[str, dict] = {
    # conversion: scan -> one Arrow extract -> broadcast spec join ->
    # one higher-order-function emission -> one dedup shuffle (+AQE reads)
    "kg_convert_skeleton": {
        "require": ["MapInPandas", "BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin",
                   "Scan ExistingRDD"],
        "max_shuffles": 5,
        "why": "Arrow extract + broadcast spec join; dedup is the only "
               "required wide stage",
    },
    "kg_convert_binary": {
        "require": ["MapInPandas", "BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin",
                   "Scan ExistingRDD"],
        "max_shuffles": 5,
        "why": "same emission plan as skeleton over the ISO-2709 reader",
    },
    # triple-store point/agg queries
    "kg_class_count": {
        "require": ["HashAggregate"],
        "forbid": ["CartesianProduct"],
        "max_shuffles": 8,
        "why": "COUNT DISTINCT by class = two-level partial agg over "
               "the conversion output",
    },
    "kg_bgp_join": {
        "forbid": ["CartesianProduct"],
        "max_shuffles": 10,
        "why": "BGP equi-join chain; small sides at sf0.01 may "
               "broadcast or shuffle under AQE",
    },
    # LLM-curation single-scan operators: zero shuffle, scan-pushable
    "docs_mix_sample": {
        "forbid": ["Exchange", "CartesianProduct", "BatchEvalPython",
                   "PythonUDF"],
        "max_shuffles": 0,
        "why": "md5(seed,doc_id) keep-rate is a pure narrow projection",
    },
    "docs_pii_scrub": {
        "forbid": ["Exchange", "CartesianProduct", "BatchEvalPython"],
        "max_shuffles": 0,
        "why": "regex scrub is one narrow projection over the scan",
    },
    "docs_text_features": {
        "forbid": ["Exchange", "CartesianProduct", "BatchEvalPython"],
        "max_shuffles": 0,
        "why": "lang-ID/quality/token counts are pure Column exprs",
    },
    "docs_winnow_fingerprint": {
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "max_shuffles": 2,
        "why": "winnowing is per-doc; only the fingerprint dedup "
               "aggregates",
    },
    # broadcast-designed joins
    "docs_source_filter": {
        "require": ["BroadcastNestedLoopJoin"],
        "forbid": ["Exchange", "CartesianProduct", "SortMergeJoin"],
        "max_shuffles": 0,
        "why": "domain blocklist is a broadcast anti-join with a "
               "non-equi suffix predicate: BNLJ-over-broadcast is the "
               "intended plan and the corpus side never shuffles",
    },
    "docs_decontaminate": {
        "require": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
        "max_shuffles": 3,
        "why": "bench grams dedup+broadcast; corpus scanned once; one "
               "per-doc count shuffle",
    },
    "docs_dedup_droplist": {
        "require": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
        "max_shuffles": 2,
        "why": "fingerprint agg shuffle reused by the join-back; "
               "winner set broadcasts",
    },
    "docs_clean_corpus": {
        "forbid": ["CartesianProduct", "SortMergeJoin",
                   "BatchEvalPython"],
        "max_shuffles": 2,
        "why": "one-scan quality gates; only survivors reach the "
               "dedup shuffle",
    },
    "docs_repetition": {
        "forbid": ["CartesianProduct"],
        "max_shuffles": 3,
        "why": "ONE tagged explode stream, map-side-combined "
               "shuffles, no per-feature joins",
    },
    "docs_ngram_counts": {
        "require": ["HashAggregate"],
        "forbid": ["CartesianProduct"],
        "max_shuffles": 3,
        "why": "partial-agg gram counts + TakeOrdered top-k",
    },
    # banded/bucketed similarity: equi-joins only, never all-pairs
    "docs_near_dup_minhash": {
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_shuffles": 8,
        "why": "explode + 64 partial-agg MINs + (band,bucket) "
               "equi-join; all-pairs would appear as BNLJ/Cartesian",
    },
    "docs_simhash": {
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_shuffles": 8,
        "why": "pigeonhole bit-block banding joins on equality",
    },
    "ann_topk": {
        "require": ["BroadcastNestedLoopJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
        "max_shuffles": 2,
        "why": "brute-force baseline: tiny query side broadcast over "
               "one corpus scan, then per-query top-k",
    },
    "ann_ivf_topk": {
        "forbid": ["CartesianProduct"],
        "max_shuffles": 6,
        "why": "centroid assignment is a zero-shuffle matmul; cell "
               "equi-join + exact re-rank",
    },
    "docs_boilerplate": {
        "require": ["SortMergeJoin"],
        "forbid": ["CartesianProduct"],
        "max_shuffles": 4,
        "why": "gram doc-freq table is corpus-sized (one row per "
               "distinct gram) so the join-back MUST be a gram-keyed "
               "SMJ, not a broadcast; n_docs folded into the same agg",
    },
    "events_last_write_wins": {
        "require": ["WindowGroupLimit"],
        "forbid": ["CartesianProduct"],
        "max_shuffles": 1,
        "why": "row_number-top-1 with the map-side WindowGroupLimit "
               "pushdown: the shuffle carries at most one row per key "
               "per input partition (the partial-combine property)",
    },
    "docs_pack_sequences": {
        "forbid": ["CartesianProduct"],
        "max_shuffles": 2,
        "why": "per-bucket window cumsum — shuffle on bucket, never a "
               "global ordering",
    },
    "kg_link_entities": {
        "forbid": ["CartesianProduct", "ArrowEvalPython",
                   "BatchEvalPython"],
        "max_shuffles": 5,
        "why": "blocked linking: candidate pairs come from one "
               "(block, salt) equi-join; both sides left-join one "
               "broadcast hot-block salt table; per-row MinHash, "
               "Column Jaccard on the carried trigram arrays",
    },
    "kg_convert_dummy": {
        "require": ["MapInPandas", "BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin",
                   "Scan ExistingRDD"],
        "max_shuffles": 5,
        "why": "same Arrow-extract + broadcast-spec emission plan "
               "over the dummy mapping",
    },
    # store point/maintenance ops: the mutation set (one record, a
    # tombstone batch, a delete list) is small BY CONSTRUCTION, so it
    # must broadcast and the corpus-sized store side must not shuffle
    "kg_select_record": {
        "forbid": ["Exchange", "CartesianProduct"],
        "max_shuffles": 0,
        "why": "subject point-lookup is a pushed filter over the "
               "store scan — no movement at all",
    },
    "kg_delete_preserving": {
        "require": ["BroadcastHashJoin"],
        "forbid": ["Exchange", "CartesianProduct", "SortMergeJoin"],
        "max_shuffles": 0,
        "why": "the delete set broadcasts; the store side never "
               "shuffles",
    },
    "kg_purge_record": {
        "require": ["BroadcastHashJoin"],
        "forbid": ["Exchange", "CartesianProduct", "SortMergeJoin"],
        "max_shuffles": 0,
        "why": "inbound-edge purge = broadcast anti-join on the "
               "purged subject set",
    },
    "kg_upsert_record": {
        "require": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
        "max_shuffles": 3,
        "why": "the incoming batch broadcasts against the store; "
               "dedup-on-insert is the only wide stage",
    },
    "kg_delete_old_authorities": {
        "require": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
        "max_shuffles": 3,
        "why": "stale-authority set is harvest-batch-sized and "
               "broadcasts",
    },
    "kg_tombstone_purge": {
        "require": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
        "max_shuffles": 3,
        "why": "tombstones arrive in OAI-batch quantities and "
               "broadcast; batch-ordered apply needs no global sort",
    },
    "kg_oai_envelope": {
        "forbid": ["Exchange", "CartesianProduct"],
        "max_shuffles": 0,
        "why": "envelope parse/status extraction is a narrow "
               "projection over the harvested pages",
    },
    "kg_batch_windows": {
        "forbid": ["CartesianProduct", "SortMergeJoin"],
        "max_shuffles": 3,
        "why": "LIMIT/OFFSET batch windows paginate a sorted key "
               "range, not a global collect",
    },
    "kg_nt_render": {
        "forbid": ["Exchange", "CartesianProduct", "BatchEvalPython"],
        "max_shuffles": 0,
        "why": "N-Triples serialization is a pure Column expression "
               "projection — JVM-side, zero movement",
    },
    "kg_rdfxml_render": {
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "max_shuffles": 1,
        "why": "RDF/XML groups triples per subject: exactly one "
               "subject-keyed shuffle",
    },
    "kg_reverse_marc": {
        "require": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
        "max_shuffles": 3,
        "why": "rdf2map reverse conversion broadcasts the inverted "
               "mapping spec, groups per record",
    },
    "kg_rule_engine": {
        "require": ["BroadcastHashJoin"],
        "forbid": ["Exchange", "CartesianProduct", "SortMergeJoin"],
        "max_shuffles": 0,
        "why": "stored rules are a config table: broadcast, no "
               "corpus movement",
    },
    "kg_rule_localize": {
        "require": ["BroadcastHashJoin"],
        "forbid": ["Exchange", "CartesianProduct", "SortMergeJoin"],
        "max_shuffles": 0,
        "why": "localize rewrites ride the broadcast rule table",
    },
    "kg_enrichment_join": {
        "require": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
        "max_shuffles": 5,
        "why": "harvest responses are HTTP-batch-sized and broadcast "
               "onto the store by harvest key",
    },
    "kg_work_lookup": {
        "forbid": ["CartesianProduct"],
        "max_shuffles": 7,
        "why": "typed-editions/objects/works are all corpus-sized "
               "projections of the same triple store, so these "
               "self-joins are legitimately sort-merge at scale "
               "(BHJ only when AQE sees a small side)",
    },
    "docs_ngram_jaccard": {
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_shuffles": 2,
        "why": "Jaccard verify runs on banded candidate pairs only — "
               "an equi-join, never all-pairs",
    },
    "docs_near_dup_embedding": {
        "require": ["BroadcastNestedLoopJoin"],
        "forbid": ["CartesianProduct"],
        "max_shuffles": 1,
        "why": "the DOCUMENTED all-pairs correctness baseline (the "
               "scale path is docs_near_dup_embedding_lsh); pinning "
               "the BNLJ keeps the exception explicit",
    },
    "docs_near_dup_embedding_lsh": {
        "require": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_shuffles": 2,
        "why": "hyperplane buckets equi-join; ids dedup before the "
               "vector re-attach",
    },
    "events_percentiles": {
        "forbid": ["CartesianProduct"],
        "max_shuffles": 1,
        "why": "exact per-type percentiles: one group shuffle (the "
               "approx/t-digest swap is events_percentiles_approx)",
    },
}

TREE_OP = re.compile(
    r"^[\s:+*-]*((?:Scan )?[A-Za-z][A-Za-z0-9]*)\b[^\n]*\((\d+)\)\s*$")
DETAIL_HDR = re.compile(r"^\(\d+\) ")


def parse_tree_ops(formatted: str) -> list[str]:
    """Operator names from the numbered tree section only (the detail
    section repeats every node and would double-count).  A scan keeps
    its kind (``Scan parquet``, ``Scan ExistingRDD``) so a ``forbid``
    entry can name one."""
    ops = []
    for line in formatted.splitlines():
        if DETAIL_HDR.match(line):
            break
        m = TREE_OP.match(line)
        if m:
            ops.append(m.group(1))
    return ops


def read_schema_width(line: str) -> int | str:
    """Top-level field count of a ``ReadSchema: struct<...>`` line:
    commas at nesting depth 1 (inside the outer struct<> only).  A
    payload cut short by spark.sql.maxMetadataStringLength gives a
    lower bound, shown as ``N+``."""
    payload = line.split(":", 1)[1].strip()
    if not payload.startswith("struct<") or payload == "struct<>":
        return 0
    depth, fields = 0, 1
    for ch in payload:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 1:
            fields += 1
    return fields if depth == 0 else f"{fields}+"


def parse_scans(formatted: str) -> list[dict]:
    """(table, n_columns, pushed_filters) for each parquet scan."""
    scans = []
    cur = None
    for line in formatted.splitlines():
        if re.match(r"^\(\d+\) Scan parquet", line):
            cur = {"cols": None, "pushed": "", "loc": ""}
            scans.append(cur)
        elif cur is not None:
            ls = line.strip()
            if ls.startswith("Location:"):
                m = re.search(r"([a-z_]+)\.parquet", ls)
                cur["loc"] = m.group(1) if m else ls[-40:]
            elif ls.startswith("ReadSchema:"):
                cur["cols"] = read_schema_width(ls)
            elif ls.startswith("PushedFilters:"):
                cur["pushed"] = ls.split(":", 1)[1].strip()
            elif not ls:
                cur = None
    return scans


def audit(only: list[str], out_path: str) -> int:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = []
    for n in EXPECT:
        if only and n not in only:
            continue
        if n not in qs:
            print(f"{n}: not in queries() — skipping", file=sys.stderr)
            continue
        names.append(n)
    if not names:
        # an empty audit must not pass as a green one
        print("no audited query matched the filter", file=sys.stderr)
        return 1

    from marc2rdf_spark.session import get_spark

    spark = get_spark(cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    fmt = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    rows, failures = [], []
    for name in names:
        exp = EXPECT[name]
        try:
            df = qs[name](spark, SF_DIR)
            formatted = df._jdf.queryExecution().explainString(fmt)
        except Exception as exc:  # one broken query must not end the audit
            traceback.print_exc()
            msg = (str(exc).strip().splitlines() or [""])[0]
            err = f"{type(exc).__name__}: {msg}"
            rows.append({
                "name": name, "shuffles": "?", "budget": exp["max_shuffles"],
                "joins": [], "scans": [], "why": exp["why"],
                "problems": [err],
            })
            print(f"{name:34s} FAIL: {err}")
            failures.append(name)
            continue
        ops = parse_tree_ops(formatted)
        shuffles = sum(1 for o in ops if o == "Exchange")
        probs = []
        for op in exp.get("require", []):
            if op not in ops:
                probs.append(f"missing required {op}")
        for op in exp.get("forbid", []):
            if op in ops:
                probs.append(f"forbidden {op} present")
        if shuffles > exp["max_shuffles"]:
            probs.append(
                f"{shuffles} shuffles > budget {exp['max_shuffles']}")
        joins = sorted({o for o in ops if "Join" in o})
        scans = parse_scans(formatted)
        rows.append({
            "name": name, "ops": ops, "shuffles": shuffles,
            "budget": exp["max_shuffles"], "joins": joins,
            "scans": scans, "why": exp["why"], "problems": probs,
        })
        status = "FAIL: " + "; ".join(probs) if probs else "ok"
        print(f"{name:34s} shuffles={shuffles}/{exp['max_shuffles']} "
              f"joins={','.join(joins) or '-'} {status}")
        if probs:
            failures.append(name)

    with open(out_path, "w") as f:
        f.write(
            "# Physical-plan audit (generated by tools/plan_audit.py)\n\n"
            f"Input: `{SF_DIR}` (plan shape is data-scale-independent; "
            "AQE may further coalesce at runtime).  "
            "`shuffles` counts shuffle `Exchange` nodes in the initial "
            "physical plan — `BroadcastExchange` is free of corpus "
            "movement and not counted.  Every row below is asserted by "
            "the tool; a violated pin exits non-zero.\n\n"
        )
        f.write("| query | shuffles (≤budget) | joins | pinned because | "
                "status |\n|---|---|---|---|---|\n")
        for r in rows:
            st = "**FAIL** " + "; ".join(r["problems"]) if r["problems"] \
                else "ok"
            f.write(f"| {r['name']} | {r['shuffles']} ≤ {r['budget']} | "
                    f"{', '.join(r['joins']) or '—'} | {r['why']} | "
                    f"{st} |\n")
        f.write("\n## Scan pruning (ReadSchema width / PushedFilters)\n\n"
                "| query | scan | columns read | pushed filters |\n"
                "|---|---|---|---|\n")
        for r in rows:
            for s in r["scans"]:
                f.write(f"| {r['name']} | {s['loc']} | {s['cols']} | "
                        f"{s['pushed'] or '—'} |\n")
        f.write(
            "\nExcluded from this audit — the 8 queries whose "
            "callables execute eagerly (fixpoint rounds, streaming "
            "micro-batches, driver-side tolerance checks), so a "
            "pre-execution explain would either run the job or "
            "describe only one round: kg_resume_replay, "
            "kg_connected_components, kg_full_pipeline, "
            "docs_streaming_dedup, events_windowed_counts, "
            "events_percentiles_approx, multimodal_features, and "
            "ann_lsh_topk (vectorized bucketing builds literal plans "
            "past the crossover).  The CC round's executed plan "
            "(3 shuffles, 2 windows, no join) is pinned by "
            "tests/test_operators.py::"
            "test_star_round_plan_is_three_shuffles_no_join.\n"
        )
    print(f"\nwrote {out_path}; {len(failures)} failure(s)")
    return 1 if failures else 0


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Audit the physical plans of the batch contract "
                    "queries and write the PLANS table.")
    ap.add_argument("--out", default="BENCH/PLANS.md",
                    help="markdown report path (default: %(default)s)")
    ap.add_argument("queries", nargs="*",
                    help="audit only these queries (default: all)")
    args = ap.parse_args(argv)
    unknown = sorted(set(args.queries) - set(EXPECT))
    if unknown:
        ap.error(f"not audited queries: {', '.join(unknown)} "
                 f"(audited: {', '.join(EXPECT)})")
    return args


if __name__ == "__main__":
    args = parse_args()
    sys.exit(audit(args.queries, args.out))
