#!/usr/bin/env python3
"""Makes the benchmark's fixed input tables from the repository's TPC-H-style
test data (one `<table>.parquet` file per table under each scale factor).

Usage: python3 perfbench/data/extract.py <testdata root holding sf0.1/ and sf0.01/>

- sf0.1/lineitem.parquet: the sf0.1 lineitem's 600,000 rows, only the three
  columns `booked_fanout` reads (l_quantity, l_extendedprice, l_discount),
  zstd-compressed.
- sf0.01/{documents,embeddings,lineitem,orders}.parquet: byte-for-byte copies
  of the tables the gate pass reads.
"""
import shutil
import sys
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
FANOUT_COLUMNS = ["l_quantity", "l_extendedprice", "l_discount"]
GATE_TABLES = ["documents", "embeddings", "lineitem", "orders"]


def main(root: Path):
    (HERE / "sf0.1").mkdir(exist_ok=True)
    (HERE / "sf0.01").mkdir(exist_ok=True)
    lineitem = pq.read_table(root / "sf0.1" / "lineitem.parquet", columns=FANOUT_COLUMNS)
    pq.write_table(lineitem, HERE / "sf0.1" / "lineitem.parquet",
                   compression="zstd", compression_level=19)
    for t in GATE_TABLES:
        shutil.copyfile(root / "sf0.01" / f"{t}.parquet", HERE / "sf0.01" / f"{t}.parquet")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    main(Path(sys.argv[1]))
