#!/usr/bin/env python3
"""Compare the manifests of two sharded tables row for row.

Usage: python3 scripts/manifest_parity.py <table_a> <table_b>

Each argument is a sharded-table root (the dir holding `_manifest/`).
Every snapshot version the two tables share is compared: all manifest
columns, with `data_dir` reduced to its version tag (`data-v3`,
`del-v3`): the table root and the random dir token differ between two
runs of the same writes. Prints one line per version and exits 1 on
any difference (also when the version lists differ).
"""
import os
import sys

import duckdb


def versions(table):
    root = os.path.join(table, "_manifest")
    return sorted(int(n[1:]) for n in os.listdir(root)
                  if n.startswith("v") and n[1:].isdigit())


def manifest(con, table, v):
    glob = os.path.join(table, "_manifest", f"v{v}", "*.parquet")
    rel = con.sql(
        "SELECT * REPLACE (regexp_replace(regexp_replace(data_dir, "
        r"'^.*/', ''), '-[0-9a-f]{8}$', '') AS data_dir) "
        f"FROM read_parquet('{glob}')")
    return rel.columns, sorted(rel.fetchall(), key=repr)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1:]
    con = duckdb.connect()
    va, vb = versions(a), versions(b)
    ok = va == vb
    if not ok:
        print(f"versions differ: {va} vs {vb}")
    for v in sorted(set(va) & set(vb)):
        ca, ra = manifest(con, a, v)
        cb, rb = manifest(con, b, v)
        if ca != cb:
            ok = False
            print(f"v{v}: columns differ: {ca} vs {cb}")
        elif ra != rb:
            ok = False
            print(f"v{v}: rows differ ({len(ra)} vs {len(rb)})")
            for r in [r for r in ra if r not in rb][:5]:
                print(f"  only in a: {r}")
            for r in [r for r in rb if r not in ra][:5]:
                print(f"  only in b: {r}")
        else:
            print(f"v{v}: {len(ra)} rows identical")
    print("MANIFESTS IDENTICAL" if ok else "MANIFESTS DIFFER")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
