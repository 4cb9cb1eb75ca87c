#!/usr/bin/env python3
"""Compare two graft.Verify output directories gate by gate.

Usage: python3 tools/outputs_diff.py <outA> <outB> [name1,name2,...]

For each gate (every <query>/ parquet directory present in either side,
or only the listed names) it compares the Arrow schema (column names
and types) and the rows, normalized with tools/check.py's `norm` — the
same equality the oracle gate applies (float cells at 6 dp, rows
sorted by all columns). It then lists the oracle_sql.json entries
whose text differs between the two sides, or exists on one side only.

Prints one SAME/DIFF line per gate and a summary; exits 0 iff every
compared gate has the same schema and rows on both sides. Oracle text
differences are reported but do not change the exit status.
"""
import json
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import norm  # noqa: E402


def gates(out_dir):
    return {n for n in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, n))}


def oracles(out_dir):
    try:
        return json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    except FileNotFoundError:
        return {}


def compare(a_dir, b_dir, name):
    """None when the gate matches, else a one-line reason."""
    paths = [os.path.join(d, name) for d in (a_dir, b_dir)]
    missing = [p for p in paths if not os.path.isdir(p)]
    if missing:
        return "missing on " + ", ".join(missing)
    ta, tb = (pq.read_table(p) for p in paths)
    if not ta.schema.equals(tb.schema):
        return f"schema A={ta.schema.to_string()!r} B={tb.schema.to_string()!r}"
    ga, gb = norm(ta.to_pandas()), norm(tb.to_pandas())
    if len(ga) != len(gb):
        return f"rows A={len(ga)} B={len(gb)}"
    if not ga.equals(gb):
        diff = (ga != gb).any(axis=1)
        return f"{int(diff.sum())} differing rows"
    return None


def main(a_dir, b_dir, names=None):
    wanted = sorted(names if names else gates(a_dir) | gates(b_dir))
    differ = []
    for name in wanted:
        reason = compare(a_dir, b_dir, name)
        if reason:
            differ.append(name)
            print(f"DIFF {name}: {reason}")
        else:
            print(f"SAME {name}")
    oa, ob = oracles(a_dir), oracles(b_dir)
    keys = sorted(set(wanted) & (oa.keys() | ob.keys())) if names \
        else sorted(oa.keys() | ob.keys())
    changed = [k for k in keys if oa.get(k) != ob.get(k)]
    for k in changed:
        side = ("only in B" if k not in oa else
                "only in A" if k not in ob else "text differs")
        print(f"ORACLE {k}: {side}")
    print(f"\n{len(wanted) - len(differ)}/{len(wanted)} gates identical; "
          f"{len(changed)}/{len(keys)} oracle texts differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2],
         sys.argv[3].split(",") if len(sys.argv) == 4 else None)
