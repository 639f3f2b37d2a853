#!/usr/bin/env python3
"""Bit-exact diff of two graft.Verify output dirs.

Usage: diff_runs.py <out_dir_a> <out_dir_b>

Detects run-to-run float instability (shuffle-fetch merge order,
partition count) that the oracle check can miss when one run gets
lucky: any cell differing between the two runs means the query's
output is not deterministic and needs the identical-rounding
convention (CLAUDE.md hard rule 9).
"""
import json
import math
import sys

import duckdb


def key(r):
    return tuple((x is None, str(x)) for x in r)


def main():
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    oracle = json.load(open(f"{a_dir}/oracle_sql.json"))
    names = sorted(oracle.keys())
    # also compare result dirs that have no oracle entry (every catalog
    # gate has an oracle today, so this only picks up stray dirs)
    import os
    for d in sorted(os.listdir(a_dir)):
        if os.path.isdir(f"{a_dir}/{d}") and d not in names:
            names.append(d)
    n_same = n_diff = 0
    for name in names:
        try:
            ta = con.execute(
                f"SELECT * FROM read_parquet('{a_dir}/{name}/*.parquet')"
            ).fetch_arrow_table()
            tb = con.execute(
                f"SELECT * FROM read_parquet('{b_dir}/{name}/*.parquet')"
            ).fetch_arrow_table()
            ca, cb = sorted(ta.column_names), sorted(tb.column_names)
            if ca != cb:
                print(f"DIFF {name}: columns {ca} vs {cb}")
                n_diff += 1
                continue
            ra = sorted([tuple(r[c] for c in ca) for r in ta.to_pylist()], key=key)
            rb = sorted([tuple(r[c] for c in cb) for r in tb.to_pylist()], key=key)
            if len(ra) != len(rb):
                print(f"DIFF {name}: rows {len(ra)} vs {len(rb)}")
                n_diff += 1
                continue
            bad = None
            for i, (x, y) in enumerate(zip(ra, rb)):
                eq = all(
                    (u == v) or (isinstance(u, float) and isinstance(v, float)
                                 and math.isnan(u) and math.isnan(v))
                    for u, v in zip(x, y))
                if not eq:
                    bad = (i, x, y)
                    break
            if bad:
                print(f"DIFF {name}: first diff at sorted row {bad[0]}:\n  a: {bad[1]}\n  b: {bad[2]}")
                n_diff += 1
            else:
                n_same += 1
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {e}")
            n_diff += 1
    print(f"\n{n_same} identical, {n_diff} differ")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()
