#!/usr/bin/env python3
"""Output-identity probe: do two kept validate_bucketed runs write the same
tables?

Compares, with DuckDB, every table under runs/p<N> (the last timed pass)
and runs/plain (the plain warm-up) of two work directories kept with
PERFBENCH_KEEP=1 — typically the same seed run on two checkouts. Per
table it compares the column names and types, and the rows as a multiset;
the wall-clock `committed_at` column is left out.

Usage: python3 tools/same_outputs.py <work dir A> <work dir B>
Prints one line per table, exits 1 if any differs.
"""
import glob
import os
import sys

import duckdb


def roots(work):
    passes = sorted((p for p in glob.glob(os.path.join(work, "runs", "p*"))
                     if os.path.basename(p)[1:].isdigit()),
                    key=lambda p: int(os.path.basename(p)[1:]))
    if not passes:
        sys.exit(f"no runs/p<N> under {work}")
    return {"pass": passes[-1], "plain": os.path.join(work, "runs", "plain")}


def tables(root):
    return sorted(d for d in os.listdir(root)
                  if glob.glob(os.path.join(root, d, "*.parquet")))


def main(a, b):
    con = duckdb.connect()
    ra, rb = roots(a), roots(b)
    bad = 0
    for kind in ("pass", "plain"):
        ta, tb = tables(ra[kind]), tables(rb[kind])
        if ta != tb:
            print(f"DIFF {kind}: tables {ta} != {tb}")
            bad += 1
        for t in sorted(set(ta) & set(tb)):
            src = [f"read_parquet('{r[kind]}/{t}/*.parquet')" for r in (ra, rb)]
            cols = [[(n, ty) for n, ty, *_ in con.execute(f"DESCRIBE SELECT * FROM {s}").fetchall()
                     if n != "committed_at"] for s in src]
            if cols[0] != cols[1]:
                print(f"DIFF {kind}/{t}: columns {cols[0]} != {cols[1]}")
                bad += 1
                continue
            sel = ", ".join(f'"{n}"' for n, _ in cols[0])
            q = [f"SELECT {sel} FROM {s}" for s in src]
            n = con.execute(f"SELECT count(*) FROM {src[0]}").fetchone()[0]
            extra = con.execute(f"SELECT count(*) FROM (({q[0]}) EXCEPT ALL ({q[1]}))").fetchone()[0]
            missing = con.execute(f"SELECT count(*) FROM (({q[1]}) EXCEPT ALL ({q[0]}))").fetchone()[0]
            if extra or missing:
                print(f"DIFF {kind}/{t}: {extra} rows only in A, {missing} only in B")
                bad += 1
            else:
                print(f"SAME {kind}/{t} ({n} rows, {len(cols[0])} columns)")
    print(f"== {bad} differing tables ==")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
