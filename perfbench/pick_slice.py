"""Picks the catalog workload's query slice from a measured full-catalog
run (per-query seconds, as `graft.Bench` writes them):

    python3 perfbench/pick_slice.py BENCH_r21_full.json [--size 8]

Queries fall into three latency classes: under 0.5 s, 0.5 s to 2 s, and
2 s or more. Each class gets slots in proportion to its share of the
catalog's queries (largest remainder), at least one each, so the
fixed-cost head, the middle and the shuffle/compute-bound tail are all in
the slice. Within a class the picks sit at evenly spaced ranks of its
sorted times (the midpoints of equal strata). q44-q46 are not
candidates: they read a data directory outside the sf0.1 tables and fail
where it is absent. Prints the class table and the slice as JSON.
"""
import argparse
import json

CLASSES = [("under 0.5 s", 0.0, 0.5), ("0.5 s to 2 s", 0.5, 2.0), ("2 s or more", 2.0, float("inf"))]
EXCLUDED = ("q44_", "q45_", "q46_")


def pick(times, size):
    cands = {q: t for q, t in times.items() if not q.startswith(EXCLUDED)}
    members = [sorted((t, q) for q, t in cands.items() if lo <= t < hi) for _, lo, hi in CLASSES]
    n = len(cands)
    quota = [len(m) * size / n for m in members]
    slots = [max(1, int(x)) for x in quota]
    by_remainder = sorted(range(len(quota)), key=lambda i: quota[i] - int(quota[i]), reverse=True)
    for i in by_remainder:
        if sum(slots) >= size:
            break
        slots[i] += 1
    chosen = [[m[int((j + 0.5) * len(m) / k)] for j in range(k)] for m, k in zip(members, slots)]
    return members, slots, chosen


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("bench_json")
    ap.add_argument("--size", type=int, default=8)
    a = ap.parse_args()
    times = json.load(open(a.bench_json))["queries"]
    members, slots, chosen = pick(times, a.size)
    total_n = sum(len(m) for m in members)
    total_s = sum(t for m in members for t, _ in m)
    print("| class | queries | share of queries | share of time | slots | picked |")
    print("|---|---|---|---|---|---|")
    for (name, _, _), m, k, c in zip(CLASSES, members, slots, chosen):
        picked = ", ".join(f"{q} ({t:.2f} s)" for t, q in c)
        print(f"| {name} | {len(m)} | {len(m) / total_n:.1%} | {sum(t for t, _ in m) / total_s:.1%} "
              f"| {k} | {picked} |")
    print(json.dumps([q for c in chosen for _, q in c]))


if __name__ == "__main__":
    main()
