"""Smoke-pin the two production spark-submit entry points as CLIs.

The north rule's runtime surface is ``spark-submit --py-files ...
jobs/convert_job.py`` (scheduler.rb's batch entry, reimagined as a
cluster job) and its curation counterpart ``jobs/curate_job.py``.
Everything else in the suite exercises the library in-process; these
tests run the actual job modules as child processes (plain ``python``
— same code path as spark-submit for a local master, minus the zip
ship) and assert the published JSON contract + on-disk layout, so a
broken argument parser, session bootstrap, or output writer cannot
hide behind green library tests.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


def _run_job(argv: list[str]) -> dict:
    proc = subprocess.run(
        [sys.executable, *argv],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    json_lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("{")
    ]
    assert json_lines, f"no JSON line on stdout: {proc.stdout[-500:]}"
    return json.loads(json_lines[-1])


def test_convert_job_cli(tmp_path):
    out = str(tmp_path / "kg")
    summary = _run_job([
        "jobs/convert_job.py",
        "--synth-pages", "120",
        "--out", out,
        "--run-id", "smoke",
        "--mapping", "skeleton",
        "--buckets", "4",
        "--cores", "4",
        "--link",
    ])
    assert summary["run_id"] == "smoke"
    assert summary["triples"] > 0
    for zone in ("raw_triples", "triples", "triples_canonical", "_lineage"):
        assert os.path.isdir(os.path.join(out, zone)), zone
    import duckdb

    n = duckdb.connect().execute(
        "SELECT count(*) FROM read_parquet(?)",
        [os.path.join(out, "triples_canonical", "**", "*.parquet")],
    ).fetchone()[0]
    assert n == summary["triples"]

    # the run record reports each committed zone's stored bytes as the
    # Hadoop FileSystem counts them: every file but the local
    # filesystem's ``.crc`` checksum sidecars
    zones = ["raw_records", "raw_triples", "triples", "_lineage",
             "triples_canonical"]
    assert sorted(summary["stored_bytes"]) == sorted(zones)
    for zone in zones:
        on_disk = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(os.path.join(out, zone))
            for f in files if not f.endswith(".crc")
        )
        assert on_disk > 0, zone
        assert summary["stored_bytes"][zone] == on_disk, zone


def test_curate_job_cli(tmp_path):
    out = str(tmp_path / "curated")
    summary = _run_job([
        "jobs/curate_job.py",
        "--docs", os.path.join(SF_DIR, "documents.parquet"),
        "--out", out,
        "--block", "src0,src7",
        "--mix", "en=0.5,de=0.25",
        "--scrub-pii",
        "--max-top-word-frac", "0.3",
        "--cores", "4",
    ])
    assert summary["docs_in"] == 500
    assert 0 < summary["docs_kept"] < summary["docs_in"]
    import duckdb

    con = duckdb.connect()
    glob = os.path.join(out, "*.parquet")
    n, = con.execute(
        "SELECT count(*) FROM read_parquet(?)", [glob]
    ).fetchone()
    assert n == summary["docs_kept"]
    cols = [
        r[0] for r in con.execute(
            "DESCRIBE SELECT * FROM read_parquet(?)", [glob]
        ).fetchall()
    ]
    # --scrub-pii publishes the scrubbed text under the original name
    # plus the per-kind hit counters
    for c in ("doc_id", "lang", "source", "text",
              "n_emails", "n_ipv4", "n_phones"):
        assert c in cols, c
