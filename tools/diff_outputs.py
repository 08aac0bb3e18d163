#!/usr/bin/env python3
"""Compare two directories of parquet outputs as row multisets.

    python3 tools/diff_outputs.py <dirA> <dirB>

Every `<name>` entry of either directory that holds parquet data (a
`<name>/` directory of part files, as `graft.Verify` writes them, or a
single `<name>.parquet` file) is read in DuckDB and compared with the entry
of the same name on the other side: same column names and types, and the
same rows counted with multiplicity (`EXCEPT ALL` both ways, columns taken
in name order, so row and column order do not matter). Prints one line per
name that differs or exists on one side only, then a summary, and exits 1
if any name differs.
"""
import glob
import os
import sys

import duckdb


def outputs(d):
    """name -> parquet glob for every parquet output directly under d."""
    found = {}
    for p in sorted(glob.glob(os.path.join(d, "*"))):
        base = os.path.basename(p)
        if os.path.isdir(p):
            if glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True):
                name = base[:-8] if base.endswith(".parquet") else base
                found[name] = os.path.join(p, "**", "*.parquet")
        elif base.endswith(".parquet"):
            found[base[:-8]] = p
    return found


def relation(con, pattern):
    """SQL for the output with its columns in name order, plus its schema."""
    src = f"read_parquet('{pattern}', hive_partitioning = true)"
    schema = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
    cols = sorted((c[0], c[1]) for c in schema)
    select = ", ".join('"' + c[0].replace('"', '""') + '"' for c in cols)
    return f"SELECT {select} FROM {src}", cols


def diff(con, pa, pb):
    """None when equal, else a short reason."""
    qa, ca = relation(con, pa)
    qb, cb = relation(con, pb)
    if ca != cb:
        return f"schema {ca} != {cb}"
    na = con.execute(f"SELECT count(*) FROM ({qa})").fetchone()[0]
    nb = con.execute(f"SELECT count(*) FROM ({qb})").fetchone()[0]
    only_a = con.execute(
        f"SELECT count(*) FROM ({qa} EXCEPT ALL {qb})").fetchone()[0]
    only_b = con.execute(
        f"SELECT count(*) FROM ({qb} EXCEPT ALL {qa})").fetchone()[0]
    if only_a or only_b:
        return (f"{na} vs {nb} rows; {only_a} only in A, "
                f"{only_b} only in B")
    return None


def main(dir_a, dir_b):
    con = duckdb.connect()
    a, b = outputs(dir_a), outputs(dir_b)
    bad = 0
    for name in sorted(set(a) | set(b)):
        if name not in b:
            print(f"MISSING in B: {name}")
        elif name not in a:
            print(f"MISSING in A: {name}")
        else:
            why = diff(con, a[name], b[name])
            if why is None:
                continue
            print(f"DIFF {name}: {why}")
        bad += 1
    total = len(set(a) | set(b))
    print(f"{total - bad}/{total} outputs equal, {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
