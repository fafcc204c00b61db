#!/usr/bin/env python3
"""Compare two export outputs for equal content.

    python3 tools/same_output.py <dirA> <dirB>

Parquet footers are not byte-reproducible between runs (the order of a
column chunk's `encodings` list varies), so this compares what a reader
sees instead of bytes. The files of each tree are grouped: Spark part files
(`part-NNNNN-<uuid>-c000.<ext>`) pool per directory and extension, any other
file (the `{start}-{end}-{resource}.txt` batch files) stands alone.

- NDJSON (`.json`, `.txt`): the sorted multiset of lines.
- Parquet: the schema (types, logical types and repetition, so
  nullability), the key-value metadata (Spark's row schema), the multiset
  of rows, the row count, and per column the set of encodings and the set
  of compression codecs over every column chunk. Read with DuckDB: pyarrow
  16 cannot open files holding Spark 4's VARIANT logical type.

Prints one line per difference and exits 1 on any, else prints a summary
and exits 0.
"""
import collections
import os
import re
import sys

import duckdb

PART = re.compile(r"^part-\d+-.*?(\.[a-z0-9.]+)$")


def groups(root):
    """{group key: [file paths]} for the data files under root."""
    out = collections.defaultdict(list)
    for d, _, files in os.walk(root):
        rel = os.path.relpath(d, root)
        for f in files:
            if f.startswith((".", "_")) or f.endswith(".crc"):
                continue
            m = PART.match(f)
            key = os.path.join(rel, "part-*" + m.group(1)) if m else os.path.join(rel, f)
            out[os.path.normpath(key)].append(os.path.join(d, f))
    return out


def ndjson(files):
    lines = []
    for p in files:
        with open(p, encoding="utf-8") as fh:
            lines.extend(l.rstrip("\n") for l in fh if l.strip())
    return sorted(lines)


def parquet(files):
    con = duckdb.connect()
    schemas, kv, encodings, codecs = set(), set(), {}, {}
    for p in files:
        schemas.add(tuple(con.execute(
            "SELECT name, type, logical_type, converted_type, repetition_type,"
            " num_children, scale, precision FROM parquet_schema(?)",
            [p]).fetchall()))
        kv.add(tuple(con.execute(
            "SELECT key, value FROM parquet_kv_metadata(?)", [p]).fetchall()))
        for path, enc, codec in con.execute(
                "SELECT path_in_schema, encodings, compression"
                " FROM parquet_metadata(?)", [p]).fetchall():
            encodings.setdefault(path, set()).update(enc.split(", "))
            codecs.setdefault(path, set()).add(codec)
    rows = con.execute("SELECT * FROM read_parquet(?)", [files]).fetchall()
    return {"schema": schemas, "metadata": kv, "rows": len(rows),
            "data": collections.Counter(repr(r) for r in rows),
            "encodings": encodings, "compression": codecs}


def main(a, b):
    ga, gb = groups(a), groups(b)
    diffs = []
    for key in sorted(set(ga) | set(gb)):
        if key not in ga or key not in gb:
            diffs.append(f"{key}: only in {a if key in ga else b}")
            continue
        if key.endswith(".parquet"):
            x, y = parquet(ga[key]), parquet(gb[key])
            for part in ("schema", "metadata", "rows", "data", "encodings",
                         "compression"):
                if x[part] != y[part]:
                    diffs.append(f"{key}: parquet {part} differs")
        elif ndjson(ga[key]) != ndjson(gb[key]):
            diffs.append(f"{key}: NDJSON lines differ")
    for d in diffs:
        print(d)
    if diffs:
        return 1
    print(f"same: {len(ga)} file groups")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
