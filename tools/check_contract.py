"""Local replica of the driver's correctness gate: run every
__spark_entry__ query at sf0.01 side-by-side with its DuckDB oracle and
compare row count, column names, Arrow column types and
order-insensitive values.

Both sides are fetched as Arrow tables (``toArrow()`` /
``fetch_arrow_table()``) because the contract's correctness hash is
computed over Arrow-typed values: two results can be value-equal in
Python yet hash differently when their Arrow types diverge (DuckDB
HUGEINT -> decimal128(38,0) vs Spark int64, tz-aware vs naive
timestamps, decimal(22,2) vs decimal(38,2)).
The column types, sorted by column name, must match exactly.

Usage: python tools/check_contract.py [query ...]

An unknown query name or option is a usage error (exit 2); a run that
checks no query, or fails one, exits 1.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def norm(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def rowset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        tuple(norm(r[i]) for i in order) for r in rows
    )


def arrow_rows(tbl):
    """(column names, row tuples) of an Arrow table."""
    return tbl.column_names, list(zip(*(c.to_pylist() for c in tbl.columns)))


def sorted_types(tbl):
    """Arrow column types in column-name order (the hash's column order)."""
    names = [c.lower() for c in tbl.column_names]
    return [t for _, t in sorted(zip(names, tbl.schema.types),
                                 key=lambda nt: nt[0])]


def main(only: list[str]) -> int:
    from marc2rdf_spark.session import get_spark

    spark = get_spark(cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            tbl = fn(spark, SF_DIR).toArrow()
            cols, rows = arrow_rows(tbl)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(rows)} rows ({dt:.1f}s) [rows-only]")
            if not cols:
                failures += 1
            continue
        try:
            otbl = con.execute(oracles[name]).fetch_arrow_table()
            ocols, orows = arrow_rows(otbl)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error {e}")
            failures += 1
            continue
        ok_schema = sorted(c.lower() for c in cols) == sorted(
            c.lower() for c in ocols
        )
        ok_types = ok_schema and sorted_types(tbl) == sorted_types(otbl)
        a, b = rowset(rows, cols), rowset(orows, ocols)
        ok = ok_types and a == b
        status = "ok   " if ok else "FAIL "
        print(
            f"{status} {name}: spark={len(rows)} oracle={len(orows)} "
            f"schema={'ok' if ok_schema else f'{sorted(cols)} vs {sorted(ocols)}'} "
            f"({dt:.1f}s)"
        )
        if not ok:
            failures += 1
            if ok_schema and not ok_types:
                for col, st, ot in zip(sorted(c.lower() for c in cols),
                                     sorted_types(tbl),
                                     sorted_types(otbl)):
                    if st != ot:
                        print(f"   type skew {col}: spark={st} oracle={ot}")
            sa, sb = set(a), set(b)
            for r in list(sa - sb)[:3]:
                print("   spark-only:", r)
            for r in list(sb - sa)[:3]:
                print("   oracle-only:", r)
    spark.stop()
    if not checked:
        print("FAIL  no query checked")
        return 1
    return failures


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Check the contract queries against their DuckDB "
                    "oracles at SF_DIR.")
    ap.add_argument("queries", nargs="*",
                    help="check only these queries (default: all)")
    args = ap.parse_args(argv)
    unknown = sorted(set(args.queries) - set(entrymod.queries()))
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    return args


if __name__ == "__main__":
    sys.exit(1 if main(parse_args().queries) else 0)
