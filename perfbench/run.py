"""Repo benchmark: the portal load (E1 -> K5 -> E2 -> E3 into embedded
Derby) and a stratified slice of the sf0.1 catalog.

    python3 perfbench/run.py --workload etl_ref --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Compiles the program from source into
`.bench_build/`, generates the workload's inputs from `--seed`, runs the
JVM harness in a closed loop for `--seconds`, checks every output against
the expected outcome, and prints one JSON line: the end-to-end metrics of
BENCHMARK.json (`--trace 0`) or its per-layer metrics (`--trace 1`).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
from gen import portal  # noqa: E402

BUILD = ".bench_build"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of the first Spark distribution
    whose `bin/spark-submit` is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(p, "spark-submit"))))
        for p in os.environ.get("PATH", "").split(os.pathsep) if os.path.isfile(os.path.join(p, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("no Spark jars found (set SPARK_HOME)")


def sources():
    main = sorted(p for p in glob.glob("**/src/main/scala/**/*.scala", recursive=True)
                  if not p.startswith((BUILD, "perfbench")))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not main:
        fail("no program sources (src/main/scala) under the current directory; "
             "run from the root of a checkout")
    return main, harness


def build():
    """Compiles the program and the harness with the Scala compiler Spark
    ships (the library has no dependencies beyond the Spark jars), only
    when a source changed."""
    main, harness = sources()
    h = hashlib.sha256()
    for p in main + harness:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "classes.sha256")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    with open(os.path.join(BUILD, "sources.txt"), "w") as f:
        f.write("\n".join(main + harness))
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-d", classes, "-classpath", cp, "-Ybackend-parallelism", "4", "-nowarn",
                        "@" + os.path.join(BUILD, "sources.txt")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def run_jvm(classes, args, work):
    os.makedirs(work, exist_ok=True)
    result = os.path.join(work, "result.json")
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           # a fixed, pre-touched heap: GC behaviour does not depend on
           # heap-growth decisions that vary from run to run, and the heap's
           # resident size is a known constant that peak_mem_mb takes out
           + ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}/tmp",
              "-cp", f"{classes}:{os.path.join(spark_jars(), '*')}", "perfbench.Harness"]
           + [f"{k}={v}" for k, v in args.items()] + [f"work={work}", f"result={result}"])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    spawn_ms = time.time() * 1000.0
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S} s (log: {work}/jvm.log)")
    if rc != 0 or not os.path.exists(result):
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
        fail(f"harness exited with {rc}:\n{tail}")
    with open(result) as f:
        return json.load(f), spawn_ms


def main():
    ap = argparse.ArgumentParser(description="repo benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; one of {sorted(workloads)}")
    w = workloads[a.workload]
    classes = build()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    args = {"mode": w["mode"], "seconds": a.seconds, "min_runs": w["min_runs"], "trace": a.trace, "seed": a.seed}
    expected = None
    problems = []
    if w["mode"] == "etl":
        data = os.path.join(work, "bundle")
        expected = portal.generate(data, w["scale"], a.seed)
        if a.trace:
            # the tracing overhead needs an untraced cold run to compare
            # with: one more process, untraced, over the same bundle
            plain, _ = run_jvm(classes, dict(args, data=data, trace=0), os.path.join(work, "plain"))
        raw, spawn_ms = run_jvm(classes, dict(args, data=data), work)
        if a.trace:
            raw["runs"] += plain["runs"]
        for r in raw["runs"]:
            problems += metrics.etl_mismatches(expected, r["obs"])
        attempted, failed = len(raw["runs"]), 0
    else:
        sf = os.environ.get("PERFBENCH_SF_DIR", w["sf"])
        if not os.path.isdir(sf):
            fail(f"catalog tables not found at {sf} (set PERFBENCH_SF_DIR)")
        raw, spawn_ms = run_jvm(classes, dict(args, sf=sf, queries=",".join(w["queries"])), work)
        problems += metrics.catalog_mismatches(w["goldens"], raw["checks"])
        attempted = sum(len(r["calls"]) for r in raw["runs"]) + len(raw["checks"])
        failed = sum(r["failed"] for r in raw["runs"]) + \
            sum(1 for c in raw["checks"].values() if "error" in c)
    if a.trace:
        values = metrics.per_layer(raw, w["mode"], expected)
        specs = bench["per_layer"]
        for r in raw["runs"]:
            if r["traced"]:
                t = r["trace"]
                share = metrics.unaccounted_share(r["wall_s"], t["spans"], t.get("sampler_gap_ns", 0))
                if share > metrics.UNACCOUNTED_TOLERANCE:
                    problems.append(f"the trace leaves {share:.1%} of a traced run unobserved "
                                    f"(tolerance {metrics.UNACCOUNTED_TOLERANCE:.0%})")
        with open(os.path.join(BUILD, f"trace-{a.workload}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "runs": [r for r in raw["runs"] if r["traced"]]}, f)
    else:
        values = metrics.end_to_end(raw, w["mode"], spawn_ms, expected)
        specs = bench["end_to_end"]
    with open(os.path.join(BUILD, f"raw-{a.workload}.json"), "w") as f:
        json.dump(raw, f)
    shutil.rmtree(work, ignore_errors=True)
    for p in problems[:20]:
        print(f"perfbench: wrong result: {p}", file=sys.stderr)
    print(metrics.result_line(specs, values, not problems and failed == 0, attempted, failed))


if __name__ == "__main__":
    main()
