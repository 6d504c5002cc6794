#!/usr/bin/env python3
"""Row-by-row compare of two graft index directories.

Usage: python3 tools/index_diff.py <dirA> <dirB>

Compares, as multisets of rows:
  postings  every column, partition columns (shard, bucket) included, with
            the three *_vb payloads as md5s of their hex;
  docstats  doc_id, url, doclen, shard;
  corpus    shard, n_docs, sum_dl, avgdl_build;
  manifest  partition_id, rows, blocks, committed.
Manifest `bytes` (the on-disk postings size, which depends on file layout)
is reported per partition_id but is not a difference. Doubles compare
exactly. Prints the row counts and up to 5 rows found in only one index per
table, and exits 1 if any table differs, 0 if none does.
"""
import glob
import os
import sys

import duckdb

TABLES = {
    "postings": "shard, bucket, term, salt, block_id, first_doc, last_doc, "
                "n_docs, max_tf, max_tfsat, md5(hex(doc_gaps_vb)) AS doc_gaps_md5, "
                "md5(hex(tfs_vb)) AS tfs_md5, md5(hex(dls_vb)) AS dls_md5",
    "docstats": "doc_id, url, doclen, shard",
    "corpus": "shard, n_docs, sum_dl, avgdl_build",
    "manifest": "partition_id, rows, blocks, committed",
}


def table(con, root, name, cols):
    """A view over one table's Parquet files, or None if it has none."""
    if not glob.glob(os.path.join(root, name, "**", "*.parquet"), recursive=True):
        return None
    return con.sql(
        f"SELECT {cols} FROM read_parquet('{root}/{name}/**/*.parquet', "
        f"hive_partitioning = true)")


def count(rel):
    return 0 if rel is None else rel.aggregate("count(*)").fetchone()[0]


def only_in(con, a, b):
    """Rows of `a` not matched one-for-one in `b` (EXCEPT ALL)."""
    if a is None:
        return []
    if b is None:
        return a.fetchall()
    return con.sql(f"{a.sql_query()} EXCEPT ALL {b.sql_query()}").fetchall()


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    da, db = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    differs = False
    for name, cols in TABLES.items():
        a, b = table(con, da, name, cols), table(con, db, name, cols)
        only_a, only_b = only_in(con, a, b), only_in(con, b, a)
        same = not only_a and not only_b
        differs |= not same
        print(f"{name}: {count(a)} vs {count(b)} rows, "
              f"{len(only_a)} only in A, {len(only_b)} only in B"
              f"{'' if same else '  DIFFERENT'}")
        for side, rows in (("A", only_a), ("B", only_b)):
            for r in sorted(rows, key=repr)[:5]:
                print(f"  only in {side}: {r}")

    q = ("SELECT partition_id, sum(bytes) AS bytes FROM read_parquet("
         "'{}/manifest/*.parquet') WHERE committed GROUP BY partition_id")
    if all(glob.glob(os.path.join(d, "manifest", "*.parquet")) for d in (da, db)):
        ba, bb = (dict(con.sql(q.format(d)).fetchall()) for d in (da, db))
        moved = sorted(p for p in ba.keys() | bb.keys() if ba.get(p) != bb.get(p))
        print(f"manifest bytes (not compared): {sum(ba.values())} vs "
              f"{sum(bb.values())}, {len(moved)} of {len(ba.keys() | bb.keys())} "
              f"partitions differ")
        for p in moved:
            print(f"  partition {p}: {ba.get(p)} vs {bb.get(p)}")
    print("DIFFERENT" if differs else "IDENTICAL")
    sys.exit(1 if differs else 0)


if __name__ == "__main__":
    main()
