#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps for the behaviour invariant of a
refactor: the same oracle SQL and the same outputs.

Usage: compare_verify.py <dumpA> <dumpB>

Checks that:
  - `oracle_sql.json` is byte-identical in both dumps;
  - both dumps hold the same set of outputs (one directory per query);
  - every output has the same columns, column types, row count and
    `frame_hash` (check_oracle.py's row-order-insensitive value hash).

Parquet bytes and row order differ between two runs of the same commit,
so neither is compared. Prints one line per output that differs and exits
1 when any does, 0 otherwise.
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import frame_hash  # noqa: E402

ORACLE = "oracle_sql.json"


def outputs(dump):
    """Names of the query outputs in `dump` (its subdirectories)."""
    return {e.name for e in os.scandir(dump) if e.is_dir()}


def describe(con, path):
    """(columns, types, row count, frame_hash) of the parquet files under `path`."""
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols, types, rows = rel.columns, [str(t) for t in rel.types], rel.fetchall()
    return cols, types, len(rows), frame_hash(rows, cols)


def compare(dump_a, dump_b):
    """Every difference between the two dumps, one line each."""
    diffs = []
    oracles = []
    for dump in (dump_a, dump_b):
        path = os.path.join(dump, ORACLE)
        if os.path.isfile(path):
            with open(path, "rb") as f:
                oracles.append(f.read())
        else:
            diffs.append(f"{ORACLE}: missing in {dump}")
    if len(oracles) == 2 and oracles[0] != oracles[1]:
        diffs.append(f"{ORACLE}: not byte-identical")
    names_a, names_b = outputs(dump_a), outputs(dump_b)
    for name in sorted(names_a - names_b):
        diffs.append(f"{name}: only in {dump_a}")
    for name in sorted(names_b - names_a):
        diffs.append(f"{name}: only in {dump_b}")
    con = duckdb.connect()
    for name in sorted(names_a & names_b):
        try:
            a = describe(con, os.path.join(dump_a, name))
            b = describe(con, os.path.join(dump_b, name))
        except Exception as e:  # an unreadable output is a difference too
            diffs.append(f"{name}: unreadable ({e})")
            continue
        for label, x, y in zip(("columns", "types", "rows", "frame_hash"), a, b):
            if x != y:
                diffs.append(f"{name}: {label} {x} != {y}")
    return diffs, len(names_a & names_b)


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    missing = [d for d in argv[1:] if not os.path.isdir(d)]
    if missing:
        print(f"not a directory: {', '.join(missing)}", file=sys.stderr)
        return 2
    diffs, shared = compare(argv[1], argv[2])
    for d in diffs:
        print(f"DIFF {d}")
    print(f"== {shared} outputs compared, {len(diffs)} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
