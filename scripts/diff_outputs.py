#!/usr/bin/env python3
"""Exact comparison of two graft.Verify output directories.

Usage: python3 scripts/diff_outputs.py <parentOut> <changeOut>

For every query directory in either output it compares, with no rounding:
  - the column names and types, in order (DuckDB DESCRIBE);
  - the row counts;
  - the rows themselves, as multisets: DuckDB EXCEPT ALL in both
    directions must be empty.
A directory present on one side only, or holding a query error
(`_error.txt`) on either side, is a difference. Prints one line per
differing query and a summary; exits 1 on any difference, 0 when every
query is identical. This is the check behind "a refactor leaves the gate
rows unchanged": run graft.Verify on the parent commit and on the change,
then diff the two outputs.
"""
import glob
import os
import sys

import duckdb


def query_dirs(out_dir):
    return {n for n in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, n))}


def relation(d):
    """The SQL source of one query's rows, or None when it wrote no parquet."""
    if not glob.glob(os.path.join(d, "*.parquet")):
        return None
    return "read_parquet('" + os.path.join(d, "*.parquet").replace("'", "''") + "')"


def compare(con, a_dir, b_dir):
    """None when identical, else a one-line description of the difference."""
    for side, d in (("parent", a_dir), ("change", b_dir)):
        if os.path.exists(os.path.join(d, "_error.txt")):
            with open(os.path.join(d, "_error.txt")) as f:
                return f"query error on the {side} side: {f.read().strip()[:200]}"
    a, b = relation(a_dir), relation(b_dir)
    if a is None or b is None:
        return None if a is None and b is None else (
            f"no parquet on the {'parent' if a is None else 'change'} side")
    a_schema = [(r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM {a}").fetchall()]
    b_schema = [(r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM {b}").fetchall()]
    if a_schema != b_schema:
        return f"schema parent={a_schema} change={b_schema}"
    a_rows = con.execute(f"SELECT count(*) FROM {a}").fetchone()[0]
    b_rows = con.execute(f"SELECT count(*) FROM {b}").fetchone()[0]
    if a_rows != b_rows:
        return f"row count parent={a_rows} change={b_rows}"
    only_a = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})").fetchone()[0]
    only_b = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a})").fetchone()[0]
    if only_a or only_b:
        return f"rows differ: {only_a} only in parent, {only_b} only in change"
    return None


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    pa, ch = query_dirs(parent), query_dirs(change)
    diffs = {}
    for name in sorted(pa | ch):
        if name not in ch:
            diffs[name] = "missing from the change output"
        elif name not in pa:
            diffs[name] = "missing from the parent output"
        else:
            try:
                d = compare(con, os.path.join(parent, name),
                            os.path.join(change, name))
            except duckdb.Error as e:
                d = f"could not compare: {e}"
            if d is not None:
                diffs[name] = d
    for name, d in diffs.items():
        print(f"DIFF {name}: {d}")
    total = len(pa | ch)
    print(f"{total - len(diffs)}/{total} queries identical")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
