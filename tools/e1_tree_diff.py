"""Compares two E1 output trees (`LoadPortalMain <dataDir> <outDir>`)
file by file.

    python3 tools/e1_tree_diff.py <dirA> <dirB>

Each tree is read as relative path -> md5 of the file's bytes. Spark's
CSV part files carry a random UUID in their names, so `part-<n>-<uuid>`
is normalised to `part-<n>` first. Prints the file counts and every path
that is only on one side or differs, and exits 1 on any difference
(0 when the trees are identical, 2 on a usage error).
"""
import hashlib
import os
import re
import sys

PART = re.compile(r"part-(\d+)-[0-9a-f-]{36}(-c\d+)?")


def tree(root):
    """Relative path (part-file UUIDs normalised) -> md5 of every file."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[PART.sub(r"part-\1", os.path.relpath(path, root))] = hashlib.md5(fh.read()).hexdigest()
    return out


def diff(a, b):
    """(only in a, only in b, in both but different), each sorted."""
    return (sorted(set(a) - set(b)), sorted(set(b) - set(a)),
            sorted(k for k in set(a) & set(b) if a[k] != b[k]))


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = tree(argv[1]), tree(argv[2])
    only_a, only_b, changed = diff(a, b)
    print(f"{argv[1]}: {len(a)} files, {argv[2]}: {len(b)} files")
    for label, paths in (("only in " + argv[1], only_a), ("only in " + argv[2], only_b), ("differs", changed)):
        for p in paths:
            print(f"{label}: {p}")
    same = not (only_a or only_b or changed)
    print("identical" if same else f"{len(only_a) + len(only_b) + len(changed)} differences")
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
