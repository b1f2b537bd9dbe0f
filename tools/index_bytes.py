"""Where an index directory's bytes go, read from the parquet footers only.

    python tools/index_bytes.py <index_dir>

Prints, for the parquet table under ``<index_dir>/index``, each
column's compressed and uncompressed bytes and its codec(s), then the
table's file, row-group and row counts and its bytes on disk. It starts no
Spark session: only ``pyarrow.parquet`` footers are read, so it runs on an
index written by any Spark version or codec.
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict
from pathlib import Path

import pyarrow.parquet as pq


def column_bytes(files: list[Path]) -> tuple[dict, int, int]:
    """({column path: [compressed, uncompressed, codecs]}, row groups, rows)."""
    cols: dict[str, list] = defaultdict(lambda: [0, 0, set()])
    groups = rows = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        groups += md.num_row_groups
        rows += md.num_rows
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                cc = rg.column(c)
                entry = cols[cc.path_in_schema]
                entry[0] += cc.total_compressed_size
                entry[1] += cc.total_uncompressed_size
                entry[2].add(cc.compression)
    return cols, groups, rows


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print("usage: python tools/index_bytes.py <index_dir>", file=sys.stderr)
        return 2
    root = Path(argv[0], "index")
    files = sorted(root.rglob("*.parquet"))
    if not files:
        print(f"no parquet files under {root}", file=sys.stderr)
        return 1
    cols, groups, rows = column_bytes(files)
    print(f"{'column':<28} {'compressed':>12} {'uncompressed':>13}  codec")
    for name, (comp, raw, codecs) in cols.items():
        print(f"{name:<28} {comp:>12,} {raw:>13,}  {'/'.join(sorted(codecs))}")
    comp = sum(v[0] for v in cols.values())
    raw = sum(v[1] for v in cols.values())
    print(f"{'all columns':<28} {comp:>12,} {raw:>13,}")
    on_disk = sum(os.path.getsize(f) for f in files)
    print(f"files {len(files)}, row groups {groups}, rows {rows:,}, "
          f"bytes on disk {on_disk:,}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
