"""Steadiness check: runs the benchmark once per seed and reports, per
end-to-end metric, the interquartile range of the values as a share of
their median next to the metric's bound.

    python3 perfbench/spread.py --workload etl_ref --seeds 1-10 [--out runs.jsonl]
"""
import argparse
import json
import statistics
import subprocess
import sys


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    values = {m["name"]: [] for m in bench["end_to_end"]}
    out = open(a.out, "a") if a.out else None
    for seed in seeds_of(a.seeds):
        r = subprocess.run([*bench["command"], "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
        res = json.loads(line) if r.returncode == 0 else {}
        if out:
            out.write(json.dumps({"workload": a.workload, "seed": seed, "rc": r.returncode, "result": res}) + "\n")
            out.flush()
        if r.returncode != 0 or not res.get("correct"):
            print(f"seed {seed}: rc={r.returncode} correct={res.get('correct')}", file=sys.stderr)
            continue
        for k in values:
            values[k].append(res["metrics"][k]["value"])
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        if len(v) < 4:
            continue
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{a.workload:10s} {m['name']:24s} median={statistics.median(v):12.4f} "
              f"spread={(q3 - q1) / statistics.median(v):.4f} bound={m['bound']}")


if __name__ == "__main__":
    main()
