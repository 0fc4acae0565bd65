#!/usr/bin/env python3
"""Prove an oracle refactor: for each gate of the NEW oracle_sql.json, run
its old and its new oracle SQL in DuckDB against the test tables of <sfDir>
and compare the two results the way check_oracle.py compares a gate's
Spark result with its oracle (columns by name, rows sorted, exact values).

Each gate is reported as one of
  SAME     the oracle text is byte-identical (not run);
  EQUAL    the text changed and both texts return equal results;
  DIFFER   the text changed and the results differ;
  ERROR    a text fails to run, or the gate is absent from the old file.
Exits non-zero when any gate is DIFFER or ERROR.

Usage: python3 tools/oracle_diff.py <sfDir> <old oracle_sql.json> <new oracle_sql.json>
"""
import json
import sys

from check_oracle import canon, connect, create_views


def same_results(a, b):
    """Equal column names, row counts and values (NaN/None equal to each
    other) of two canon()-ed frames."""
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        eq = (av == bv) | (a[c].isna().values & b[c].isna().values)
        if not eq.all():
            return False
    return True


def diff(sf_dir, old_path, new_path):
    """Report every gate of the new file; returns the number of gates whose
    results differ or that fail to run."""
    old = json.load(open(old_path))
    new = json.load(open(new_path))
    con = connect()
    create_views(con, sf_dir)
    bad = 0
    for name in sorted(new):
        if name not in old:
            status = "ERROR absent from the old oracle_sql.json"
        elif old[name] == new[name]:
            status = "SAME"
        else:
            try:
                a = canon(con.execute(old[name]).df())
                b = canon(con.execute(new[name]).df())
                status = f"EQUAL rows={len(a)}" if same_results(a, b) else \
                    f"DIFFER old_rows={len(a)} new_rows={len(b)}"
            except Exception as e:
                status = f"ERROR {e}"
        if not status.startswith(("SAME", "EQUAL")):
            bad += 1
        print(f"{name:24s} {status}", flush=True)
    print(f"\n{len(new) - bad} same or equal, {bad} differ or error")
    return bad


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    sys.exit(1 if diff(*sys.argv[1:]) else 0)
