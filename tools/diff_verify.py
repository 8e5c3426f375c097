#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories.

Usage: python3 tools/diff_verify.py <parentOut> <changeOut>

Each directory holds one parquet directory per `SparkEntry.queries`
entry and an `oracle_sql.json`. The two outputs match when:
  - they hold the same set of query directories;
  - each query has the same schema (field names, types, nullability and
    order) and the same rows in the same order (NaN equals NaN);
  - `oracle_sql.json` is byte-equal.

Prints one line per difference and a summary, and exits 0 when the
outputs match, 1 when they differ, 2 on a usage error.
"""
import math
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ORACLE = "oracle_sql.json"


def queries(out):
    return {n for n in os.listdir(out) if os.path.isdir(os.path.join(out, n))}


def read(qdir):
    """The query's rows in file order (Verify writes `coalesce(1)`, so
    one part file; several are concatenated in name order)."""
    parts = sorted(f for f in os.listdir(qdir)
                   if f.endswith(".parquet") and not f.startswith((".", "_")))
    if not parts:
        return None
    tables = [pq.read_table(os.path.join(qdir, f)) for f in parts]
    schema = tables[0].schema.remove_metadata()
    if any(not t.schema.remove_metadata().equals(schema) for t in tables[1:]):
        raise ValueError(f"{qdir}: part files disagree on schema")
    return pa.concat_tables([t.replace_schema_metadata(None) for t in tables])


def same_value(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same_value(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same_value(x, y) for x, y in zip(a, b))
    return a == b


def first_row_diff(a, b):
    """Index of the first differing row, or None when every row matches."""
    ra, rb = a.to_pylist(), b.to_pylist()
    for i, (x, y) in enumerate(zip(ra, rb)):
        if not same_value(x, y):
            return i
    return None if len(ra) == len(rb) else min(len(ra), len(rb))


def schema_text(schema):
    return ", ".join(f"{f.name}:{f.type}{'' if f.nullable else ' not null'}"
                     for f in schema)


def compare_query(name, pdir, cdir):
    a, b = read(pdir), read(cdir)
    if a is None or b is None:
        return [f"{name}: no parquet part file in "
                f"{'parent' if a is None else 'change'} output"]
    if not a.schema.equals(b.schema):
        return [f"{name}: schema differs\n  parent: {schema_text(a.schema)}\n"
                f"  change: {schema_text(b.schema)}"]
    if a.num_rows != b.num_rows:
        return [f"{name}: {a.num_rows} rows in parent, {b.num_rows} in change"]
    if a.combine_chunks().equals(b.combine_chunks()):
        return []
    i = first_row_diff(a, b)
    if i is None:
        return []  # differs only by NaN == NaN
    return [f"{name}: row {i} differs\n  parent: {a.slice(i, 1).to_pylist()[0]}\n"
            f"  change: {b.slice(i, 1).to_pylist()[0]}"]


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    parent, change = argv[1], argv[2]
    diffs = []

    po, co = os.path.join(parent, ORACLE), os.path.join(change, ORACLE)
    if not (os.path.isfile(po) and os.path.isfile(co)):
        diffs.append(f"{ORACLE}: missing in "
                     f"{'parent' if not os.path.isfile(po) else 'change'} output")
    else:
        with open(po, "rb") as f, open(co, "rb") as g:
            if f.read() != g.read():
                diffs.append(f"{ORACLE}: not byte-equal")

    pq_, cq = queries(parent), queries(change)
    for n in sorted(pq_ - cq):
        diffs.append(f"{n}: only in parent output")
    for n in sorted(cq - pq_):
        diffs.append(f"{n}: only in change output")
    common = sorted(pq_ & cq)
    for n in common:
        diffs.extend(compare_query(n, os.path.join(parent, n), os.path.join(change, n)))

    for d in diffs:
        print(d)
    print(f"{len(common)} common queries, {len(pq_)} in parent, {len(cq)} in change, "
          f"{len(diffs)} difference(s)")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
