#!/usr/bin/env python3
"""Re-chunk a parquet test dataset into bounded row groups.

The driver-generated /root/testdata/sf* files carry ONE row group per
file (and duckdb's own writer defaults to 122,880-row groups), so every
Spark scan is a single task regardless of table size — a fixed ~0.2 s
single-task floor that compresses per-query bench deltas and makes the
sf0.1 -> sf1 decade factor partly a task-count artifact (SCALING.md
"Benchmark floor note"). This derives a value-identical copy with exact
row-group sizes (pyarrow preserves row order and writes groups of
exactly the requested size), so scans can split the way they would on
production-written files.

Two things must BOTH hold for a multi-task scan, and this tool only
controls the first: row groups are the split GRANULARITY (a one-group
file is one task no matter the session config), while
spark.sql.files.maxPartitionBytes is the split SIZE — the compressed-
text tables are CPU-bound at tiny byte sizes (documents at sf10 = 6 MB
for 500k rows), so size the splits to the CPU density rather than the
default 128 MB with
GRAFT_JAVA_OPTS=-Dspark.sql.files.maxPartitionBytes=<bytes> dev/run.sh ...

Bench-only data: correctness still gates on the driver's sf0.01 parquet.
Usage: python3 dev/gen_rowgroups.py <srcdir> <outdir> [rows] [tbl=rows ...]
  e.g. python3 dev/gen_rowgroups.py /root/testdata/sf0.1 /tmp/sf0.1-rg \
         16384 documents=640 embeddings=256
"""
import glob
import os
import sys

import pyarrow.parquet as pq

SRC = sys.argv[1]
OUT = sys.argv[2]
ROWS = int(sys.argv[3]) if len(sys.argv) > 3 else 65536
PER_TABLE = dict(
    (kv.split("=")[0], int(kv.split("=")[1])) for kv in sys.argv[4:])


def main():
    os.makedirs(OUT, exist_ok=True)
    for src in sorted(glob.glob(f"{SRC}/*.parquet")):
        name = os.path.basename(src)
        rows = PER_TABLE.get(name.removesuffix(".parquet"), ROWS)
        table = pq.ParquetFile(src).read()
        pq.write_table(table, f"{OUT}/{name}", row_group_size=rows)
        meta = pq.ParquetFile(f"{OUT}/{name}").metadata
        print(f"{name}: {meta.num_rows} rows across {meta.num_row_groups} "
              f"row groups ({os.path.getsize(f'{OUT}/{name}')} bytes)")


if __name__ == "__main__":
    main()
