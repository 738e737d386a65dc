#!/usr/bin/env python3
"""Compare the parquet datasets under two output roots (graft.Verify dumps,
CorpusPipeline or ExtractJob outputs) by columns, types and sorted rows.

    python3 tools/parquet_diff.py DIR_A DIR_B [name ...]

A dataset is a directory holding parquet part files or a `_SUCCESS` marker;
its name is its path relative to the root (e.g. `stats/hll_registers`), and
hive partition directories (`bucket=3/`) below it are read as columns. With
names, only those datasets are compared; otherwise every dataset under
either root. Row order is ignored (rows are compared as a sorted multiset).
Prints one line per dataset; exits 1 and names the datasets that differ.
"""
import os
import sys

import duckdb


def datasets(root):
    """name -> sorted parquet files of every dataset under root."""
    out = {}
    for d, subdirs, files in os.walk(root):
        if "_SUCCESS" in files or any(f.endswith(".parquet") for f in files):
            name = os.path.relpath(d, root)
            out[name] = sorted(
                os.path.join(dd, f)
                for dd, _, ff in os.walk(d) for f in ff
                if f.endswith(".parquet") and not f.startswith((".", "_")))
            subdirs[:] = []  # a dataset's subdirectories are its partitions
        else:
            subdirs[:] = [s for s in subdirs if not s.startswith((".", "_"))]
    return out


def load(con, files):
    """(columns with types, sorted row reprs) of one dataset."""
    if not files:
        return [], []
    rel = con.read_parquet(files, hive_partitioning=True)
    cols = list(zip(rel.columns, map(str, rel.types)))
    return cols, sorted(repr(r) for r in rel.fetchall())


def compare(con, a, b):
    """None if equal, else the first difference found."""
    if a is None or b is None:
        return "missing under " + ("A" if a is None else "B")
    (ca, ra), (cb, rb) = load(con, a), load(con, b)
    if ca != cb:
        return f"columns A={ca} B={cb}"
    if len(ra) != len(rb):
        return f"rows A={len(ra)} B={len(rb)}"
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            k = next((j for j, (p, q) in enumerate(zip(x, y)) if p != q), min(len(x), len(y)))
            lo = max(k - 40, 0)
            return f"sorted row {i}, from char {k}: A=…{x[lo:k + 80]} B=…{y[lo:k + 80]}"
    return None


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    da, db = datasets(argv[1]), datasets(argv[2])
    names = argv[3:] or sorted(da.keys() | db.keys())
    con = duckdb.connect()
    differ = []
    for name in names:
        why = compare(con, da.get(name), db.get(name))
        if why:
            differ.append(name)
            print(f"DIFF {name}: {why}")
        else:
            print(f"ok   {name}")
    print(f"{len(names) - len(differ)}/{len(names)} datasets equal")
    if differ:
        print("differ: " + " ".join(differ))
        sys.exit(1)


if __name__ == "__main__":
    main(sys.argv)
