"""Alternating parent/change A/B of the repo benchmark (perfbench/run.py).

    python3 tools/perfbench_ab.py <parent-commit> [--workload etl_ref]
        [--seeds 12-21] [--seconds 5] [--clone-dir /tmp]

Run from the root of the checkout that holds the change. The parent
commit is cloned with `git clone` into <clone-dir>/perfbench_ab_<sha>;
a clone left there by an earlier run is reused only if it is checked
out at that commit with no tracked or untracked change, and made again
otherwise. For each seed, one pair: `perfbench/run.py
--workload W --seed S --seconds T --trace 0` in the parent clone and in
this checkout, one after the other, the side that runs first flipping
from pair to pair. Each run is a fresh process of the benchmark, with
the same benchmark settings on both sides.

Prints, per end-to-end metric of BENCHMARK.json, each side's median
[Q1, Q3] and the pairs the change won (ties count for neither), and
whether a gain holds by the rule of the choosing-metrics guide
(section 8): at least ten pairs, the change wins at least nine tenths of
them, and the medians differ, in the metric's better direction, by more
than the parent's interquartile range. Exits 1 if any run reports a
wrong result or a failed operation.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys


def quartiles(values):
    """(Q1, median, Q3) as perfbench/spread.py takes them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def wins(parent, change, better):
    """Pairs in which the change is strictly better; ties count for neither."""
    sign = -1 if better == "lower" else 1
    return sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)


def gain_holds(parent, change, better):
    """Section 8: >= 10 pairs, the change wins >= 9/10 of them, and its
    median beats the parent's by more than the parent's Q3 - Q1."""
    n = len(parent)
    if n < 10 or len(change) != n:
        return False
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    gap = pm - cm if better == "lower" else cm - pm
    return wins(parent, change, better) >= math.ceil(0.9 * n) and gap > p3 - p1


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def git(*args):
    return subprocess.run(["git", *args], capture_output=True, text=True, check=True).stdout.strip()


def is_clean_checkout(path, sha):
    """`path` is a git checkout at `sha` with nothing changed or added
    (ignored build output such as .bench_build/ aside)."""
    try:
        return git("-C", path, "rev-parse", "HEAD") == sha and git("-C", path, "status", "--porcelain") == ""
    except subprocess.CalledProcessError:
        return False


def clone(commit, clone_dir):
    sha = git("rev-parse", commit)
    path = os.path.join(clone_dir, f"perfbench_ab_{sha[:12]}")
    if os.path.isdir(path) and not is_clean_checkout(path, sha):
        print(f"perfbench_ab: {path} is not a clean checkout of {sha[:12]}; cloning it again", flush=True)
        shutil.rmtree(path)
    if not os.path.isdir(path):
        subprocess.run(["git", "clone", "-q", os.getcwd(), path], check=True)
        subprocess.run(["git", "-C", path, "checkout", "-q", sha], check=True)
    if not is_clean_checkout(path, sha):
        sys.exit(f"perfbench_ab: could not check out {sha[:12]} in {path}")
    return sha, path


def run_once(cwd, workload, seed, seconds):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=cwd, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        sys.exit(f"perfbench_ab: run failed in {cwd} (seed {seed}):\n{r.stderr[-2000:]}")
    return json.loads(lines[-1])


def report(specs, parent_runs, change_runs):
    """The table lines and whether every run was correct and failure-free."""
    out = [f"{'metric':24s} {'parent median [Q1, Q3]':34s} {'change median [Q1, Q3]':34s} won  gain"]
    for s in specs:
        name, better = s["name"], s["better"]
        p = [r["metrics"][name]["value"] for r in parent_runs]
        c = [r["metrics"][name]["value"] for r in change_runs]
        p1, pm, p3 = quartiles(p)
        c1, cm, c3 = quartiles(c)
        mark = "holds" if gain_holds(p, c, better) else "-"
        out.append(f"{name:24s} {f'{pm:.4g} [{p1:.4g}, {p3:.4g}]':34s} "
                   f"{f'{cm:.4g} [{c1:.4g}, {c3:.4g}]':34s} {wins(p, c, better):2d}/{len(p):<2d} {mark}")
    ok = all(r["correct"] and r["failed"] == 0 for r in parent_runs + change_runs)
    out.append(f"every run correct with no failed operation: {ok}")
    return out, ok


def main():
    ap = argparse.ArgumentParser(description="alternating parent/change perfbench A/B")
    ap.add_argument("parent")
    ap.add_argument("--workload", default="etl_ref")
    ap.add_argument("--seeds", default="12-21", help="inclusive range, one pair per seed")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--clone-dir", default="/tmp", help="where the parent is cloned")
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        specs = json.load(f)["end_to_end"]
    sha, parent_dir = clone(a.parent, a.clone_dir)
    seeds = seed_range(a.seeds)
    print(f"perfbench A/B: {a.workload}, parent {sha[:12]} ({parent_dir}) vs this checkout, "
          f"{len(seeds)} pairs on seeds {a.seeds}, --seconds {a.seconds}", flush=True)
    parent_runs, change_runs = [], []
    for i, seed in enumerate(seeds):
        sides = [("parent", parent_dir, parent_runs), ("change", os.getcwd(), change_runs)]
        for label, cwd, runs in (sides if i % 2 == 0 else sides[::-1]):
            runs.append(run_once(cwd, a.workload, seed, a.seconds))
            print(f"  seed {seed} {label}: " + " ".join(
                f"{s['name']}={runs[-1]['metrics'][s['name']]['value']:.4g}" for s in specs), flush=True)
    lines, ok = report(specs, parent_runs, change_runs)
    print("\n".join(lines))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
