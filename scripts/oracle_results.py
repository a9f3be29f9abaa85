#!/usr/bin/env python3
"""Run every oracle of an oracle_sql.json dump in DuckDB and compare the
results: across the queries of one dump, or query by query across two.

Usage: python3 scripts/oracle_results.py <sfDir> <oracle_sql.json> [<other.json>]

With one file it prints each group of queries whose results are
identical (the same canonical rows, column names aside): candidates for
retiring one row of the group. With a second file it prints every query
present in both whose result differs, and every query present in only
one; it exits 1 if any result differs, so an oracle edit that should
change no result can be checked against the parent's dump.

Each result is canonicalized as scripts/check.py does (columns sorted by
name, rows sorted), fetched exactly (no pandas float degradation), and
kept as a digest. A query whose oracle fails is reported by its error.
Dump a tree's oracles without running its queries with
`SPARK_GRAFT_ONLY=op_map` graft.Verify: it writes every oracle.
"""
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import canon, connect  # noqa: E402


def digests(con, oracle):
    """name -> (digest of the canonical rows, row count), or ("ERROR", msg)."""
    out = {}
    for name in sorted(oracle):
        try:
            cur = con.execute(oracle[name])
            cols = [d[0] for d in cur.description]
            _, rows = canon(cur.fetchall(), cols)
            out[name] = (hashlib.sha256(repr(rows).encode()).hexdigest(), len(rows))
        except Exception as e:  # an oracle error is a result to report
            out[name] = ("ERROR", str(e).splitlines()[0])
    return out


def main():
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__.split("\n\n")[1])
    con = connect(sys.argv[1])
    dumps = []
    for path in sys.argv[2:]:
        with open(path) as f:
            dumps.append(digests(con, json.load(f)))
    errors = sorted((n, r[1]) for d in dumps for n, r in d.items() if r[0] == "ERROR")
    for name, msg in errors:
        print(f"ERROR {name}: {msg}")
    if len(dumps) == 1:
        groups = {}
        for name, r in dumps[0].items():
            if r[0] != "ERROR":
                groups.setdefault(r, []).append(name)
        same = sorted(g for g in groups.values() if len(g) > 1)
        for g in same:
            print(f"IDENTICAL ({dumps[0][g[0]][1]} rows): {' '.join(g)}")
        print(f"== {len(dumps[0])} queries, {len(same)} groups of identical results")
        return
    a, b = dumps
    only_a, only_b = sorted(a.keys() - b.keys()), sorted(b.keys() - a.keys())
    differ = sorted(n for n in a.keys() & b.keys() if a[n] != b[n])
    for n in only_a:
        print(f"ONLY-FIRST {n}")
    for n in only_b:
        print(f"ONLY-SECOND {n}")
    for n in differ:
        print(f"DIFFERS {n}: {a[n]} vs {b[n]}")
    print(f"== {len(a.keys() & b.keys()) - len(differ)} identical, {len(differ)} differ, "
          f"{len(only_a)} only in first, {len(only_b)} only in second")
    sys.exit(1 if differ or errors else 0)


if __name__ == "__main__":
    main()
