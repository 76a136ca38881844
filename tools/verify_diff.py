"""Compares two `graft.Verify` output dirs (`runMain graft.Verify <sfDir>
<outDir>`) query by query.

    python3 tools/verify_diff.py <dirA> <dirB>

The two `oracle_sql.json` files must be equal. Every query dir (one per
catalog query, holding Spark's parquet part files) is read as a digest
of its schema (field names, types and nullability) and of its rows,
sorted, so the part-file split and the row order inside the files do
not count. Prints the query counts and every query that is only on one
side or differs, and exits 1 on any difference (0 when the two runs
wrote the same results, 2 on a usage error).
"""
import glob
import hashlib
import json
import os
import sys

import pyarrow.parquet as pq


def digest(query_dir):
    """md5 of the schema and of the sorted rows of one query's parquet."""
    files = sorted(glob.glob(os.path.join(query_dir, "*.parquet")))
    tables = [pq.read_table(f) for f in files]
    fields = [(f.name, str(f.type), f.nullable) for f in tables[0].schema] if tables else []
    rows = sorted(repr(tuple(r.values())) for t in tables for r in t.to_pylist())
    h = hashlib.md5(repr(fields).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def queries(root):
    """Query name -> digest, for every sub-directory of a Verify output."""
    return {q: digest(os.path.join(root, q)) for q in sorted(os.listdir(root))
            if os.path.isdir(os.path.join(root, q))}


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    oracles = []
    for d in argv[1:]:
        with open(os.path.join(d, "oracle_sql.json"), encoding="utf-8") as f:
            oracles.append(json.load(f))
    a, b = queries(argv[1]), queries(argv[2])
    print(f"{argv[1]}: {len(a)} queries, {argv[2]}: {len(b)} queries")
    problems = []
    if oracles[0] != oracles[1]:
        changed = sorted(q for q in set(oracles[0]) | set(oracles[1])
                         if oracles[0].get(q) != oracles[1].get(q))
        problems += [f"oracle_sql.json differs: {q}" for q in changed]
    problems += [f"only in {argv[1]}: {q}" for q in sorted(set(a) - set(b))]
    problems += [f"only in {argv[2]}: {q}" for q in sorted(set(b) - set(a))]
    problems += [f"differs: {q}" for q in sorted(set(a) & set(b)) if a[q] != b[q]]
    for p in problems:
        print(p)
    print("identical" if not problems else f"{len(problems)} differences")
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
