#!/usr/bin/env python3
"""Compare the oracle SQL text of two graft.Verify dumps, key by key.

    python3 tools/oracle_text_diff.py A/oracle_sql.json B/oracle_sql.json

Each file is a JSON object of query name -> DuckDB oracle SQL. Two texts
are equal when they match after collapsing every whitespace run to one
space and stripping the ends, so re-indenting shared SQL is not a change.
Prints the key counts; exits 1 and names each key whose text differs or
that only one file has.
"""
import json
import re
import sys


def norm(s):
    return re.sub(r"\s+", " ", s).strip()


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = (json.load(open(p, encoding="utf-8")) for p in argv[1:3])
    differ = []
    for k in sorted(a.keys() | b.keys()):
        if k not in a or k not in b:
            differ.append(k)
            print(f"MISSING {k}: only in {'B' if k not in a else 'A'}")
        elif norm(a[k]) != norm(b[k]):
            differ.append(k)
            print(f"DIFF    {k}")
    print(f"{len(a)} keys in A, {len(b)} keys in B, {len(differ)} differ")
    if differ:
        print("differ: " + " ".join(differ))
        sys.exit(1)


if __name__ == "__main__":
    main(sys.argv)
