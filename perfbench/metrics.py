"""Turns the harness's raw record of one benchmark run into metrics.

Pure functions over the JSON the JVM harness writes, so the span and
self-time arithmetic, the output checks and the printer are testable
without a JVM.
"""
import json
import statistics

# share of a traced run's wall the trace may leave unobserved: time outside
# every top-level span plus sampler intervals that overran (a breach fails
# the run, as the per-layer figures then rest on time nobody saw)
UNACCOUNTED_TOLERANCE = 0.10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ----------------------------------------------------------- span arithmetic

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self time} — a span's length minus the part of it its
    child spans cover (children clipped to the parent)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length([(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                                for c in kids.get(s["id"], [])])
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def unaccounted_share(wall_s, spans, sampler_gap_ns):
    """Share of a traced run's wall the trace did not observe: the part
    no top-level span covers, plus the excess of every sampling interval
    that overran (the sampler was starved and its layer split is a guess)."""
    top = union_length([(s["start_ms"], s["end_ms"]) for s in spans if s["parent"] < 0]) / 1000.0
    return (abs(wall_s - top) + sampler_gap_ns / 1e9) / wall_s


def peak_mem_mb(memory):
    """Peak live heap plus peak off-heap resident memory, in MiB: VmHWM
    minus the fixed heap, which is committed and pre-touched from the
    start, leaves what the program held outside the heap at its peak."""
    off_heap = memory["peak_rss_kb"] * 1024 - memory["heap_committed_bytes"]
    return (memory["peak_live_heap_bytes"] + off_heap) / 2 ** 20


def driver_only_ms(span, job_intervals):
    """Span wall minus the union of its job group's job intervals."""
    clipped = [(max(a, span["start_ms"]), min(b, span["end_ms"])) for a, b in job_intervals]
    return (span["end_ms"] - span["start_ms"]) - union_length(clipped)


# ------------------------------------------------------------ output checks

def etl_mismatches(expected, obs):
    """Names of the output checks one ETL run fails."""
    bad = []
    for section in ("e1", "reports", "fixtures", "derby", "obis"):
        for k, v in expected[section].items():
            if obs[section].get(k) != v:
                bad.append(f"{section}.{k}: expected {v}, got {obs[section].get(k)}")
    if obs["backup_rows"] != expected["backup_rows"]:
        bad.append(f"backup_rows: expected {expected['backup_rows']}, got {obs['backup_rows']}")
    got, want = obs["features"], expected["features"]
    wrong = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    if wrong:
        bad.append(f"features: {len(wrong)} datasets differ, e.g. {wrong[0]}: "
                   f"expected {want.get(wrong[0])}, got {got.get(wrong[0])}")
    return bad


def catalog_mismatches(goldens, checks):
    bad = []
    for q, want in goldens.items():
        got = checks.get(q, {})
        if any(got.get(k) != want[k] for k in ("rows", "hash")):
            bad.append(f"{q}: expected {want}, got {got}")
    return bad


# --------------------------------------------------------------- end to end

def end_to_end(raw, mode, spawn_ms, expected=None):
    runs = [r for r in raw["runs"] if not r["traced"]]
    setup_s = (raw["ready_ms"] - spawn_ms) / 1000.0
    run_s = median([r["wall_s"] for r in runs])
    if mode == "etl":
        # latency of the portal load's four jobs (E1, K5, E2, E3), the
        # calls an operator starts and waits for; the harness's own
        # session start is not one of them
        calls = [c["s"] for r in runs for c in r["calls"] if c["name"] != "session"]
        records = expected["input"]["records"]
        out_per_in = median([r["obs"]["out_bytes"] for r in runs]) / expected["input"]["bytes"]
    else:
        per_query = {}
        for r in runs:
            for c in r["calls"]:
                if "error" not in c:
                    per_query.setdefault(c["name"], []).append(c["s"])
        calls = [median(v) for v in per_query.values()] or [0.0]
        records = raw["input_rows"]
        out_bytes = sum(c.get("bytes", 0) for c in raw["checks"].values() if isinstance(c, dict))
        out_per_in = out_bytes / raw["input_bytes"]
    return {
        "setup_s": setup_s,
        "run_s": run_s,
        "records_per_s": records / run_s if run_s else 0.0,
        "query_s_p50": percentile(calls, 50),
        "query_s_p95": percentile(calls, 95),
        "peak_mem_mb": peak_mem_mb(raw["memory"]),
        "out_bytes_per_in_byte": out_per_in,
    }


# ---------------------------------------------------------------- per layer

SPARK_SUMS = {  # metric -> (group counter, scale)
    "spark.jobs": ("jobs", 1), "spark.stages": ("stages", 1), "spark.tasks": ("tasks", 1),
    "spark.sched_wait_s": ("sched_wait_ms", 1e-3), "spark.codegen_classes": ("codegen_classes", 1),
    "spark.task_busy_s": ("task_busy_ms", 1e-3), "spark.task_cpu_s": ("task_cpu_ns", 1e-9),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", 1),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", 1),
    "spark.shuffle_fetch_wait_s": ("shuffle_fetch_wait_ms", 1e-3),
    "spark.spill_bytes": ("spill_bytes", 1), "spark.input_rows": ("input_rows", 1),
    "spark.input_bytes": ("input_bytes", 1), "spark.task_failures": ("task_failures", 1),
}


def layer_metrics_of_run(run, mode, expected=None, input_rows=None):
    """Per-layer metrics of one traced run (ETL run or catalog pass)."""
    t = run["trace"]
    spans = t["spans"]
    top = [s for s in spans if s["parent"] < 0]
    groups = {g: c for g, c in t["groups"].items() if g not in ("none", "session")}
    m = {k: sum(c.get(key, 0) for c in groups.values()) * scale for k, (key, scale) in SPARK_SUMS.items()}
    plan = [p for p in t["plan"] if p["span"] not in ("none", "session")]
    m["spark.plan_s"] = sum(p["value"] for p in plan if p["key"] == "plan_ns") * 1e-9
    m["spark.broadcast_bytes"] = sum(p["value"] for p in plan if p["key"] == "broadcast_bytes")
    m["spark.driver_only_s"] = sum(
        driver_only_ms(s, t["jobs"].get(s["name"], [])) for s in top if s["name"] != "session") / 1000.0
    selfs = self_times(spans)
    m["trace.unaccounted_share"] = unaccounted_share(run["wall_s"], spans, t.get("sampler_gap_ns", 0))
    layer = {k: v / 1e9 for k, v in t["layers_ns"].items()}
    by_name = {}
    for s in top:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + (s["end_ms"] - s["start_ms"]) / 1000.0
    e1_self = sum(selfs[s["id"]] for s in top if s["name"] == "e1_load_portal_main") / 1000.0
    m.update({
        "io.csv.busy_s": layer.get("io.csv", 0.0),
        "io.csv.rows": sum(p["value"] for p in plan if p["key"] == "csv_rows"),
        "jobs.load_portal.busy_s": e1_self,
        "jobs.spatial_export.busy_s": layer.get("jobs.spatial_export", 0.0),
        "jobs.fixtures.busy_s": layer.get("jobs.fixtures", 0.0),
        "jobs.reports.busy_s": layer.get("jobs.reports", 0.0),
        "jobs.eov_to_keywords.busy_s": by_name.get("e2_eov_to_keywords", 0.0),
        "jobs.export_in_obis.busy_s": by_name.get("e3_export_in_obis", 0.0),
        "io.jdbc.upsert_s": by_name.get("k5_upsert_metadata", 0.0),
    })
    if mode == "etl":
        o = run["obs"]
        fmt = expected["input"]["by_format"]
        m.update({
            "io.xlsx.rows": fmt["xlsx"], "io.shp.features": fmt["shp"],
            "io.xlsx.busy_s": o["readers"]["xlsx_s"], "io.shp.busy_s": o["readers"]["shp_s"],
            "io.jdbc.statements": o["jdbc_statements"],
            "io.jdbc.rows_written": o["jdbc_inserts"] + o["derby"]["base_resourcebase_tkeywords"],
            "io.jdbc.scan_rows": o["backup_rows"],
            "io.jdbc.overwrite_rows": o["derby"]["base_resourcebase_tkeywords"],
            "jobs.spatial_export.files": o["spatial_files"], "jobs.spatial_export.bytes": o["spatial_bytes"],
            "Queries.build_s": 0.0, "Queries.exec_s": 0.0,
            "jvm.gc_s": o["gc_s"],
        })
        m["spark.scan_amplification"] = m["spark.input_rows"] / expected["input"]["records"]
    else:
        calls = [c for c in run["calls"] if "error" not in c]
        m.update({
            "io.xlsx.rows": 0, "io.shp.features": 0, "io.xlsx.busy_s": 0.0, "io.shp.busy_s": 0.0,
            "io.jdbc.statements": 0, "io.jdbc.rows_written": 0,
            "io.jdbc.scan_rows": 0, "io.jdbc.overwrite_rows": 0,
            "jobs.spatial_export.files": 0, "jobs.spatial_export.bytes": 0,
            "Queries.build_s": sum(c["build_s"] for c in calls),
            "Queries.exec_s": sum(c["exec_s"] for c in calls),
            "jvm.gc_s": run["gc_s"],
        })
        m["spark.scan_amplification"] = m["spark.input_rows"] / input_rows
    return m


def per_layer(raw, mode, expected=None):
    traced = [r for r in raw["runs"] if r["traced"]]
    plain = [r for r in raw["runs"] if not r["traced"]]
    per_run = [layer_metrics_of_run(r, mode, expected, raw.get("input_rows")) for r in traced]
    out = {k: statistics.mean(r[k] for r in per_run) for k in per_run[0]}
    traced_s = median([r["wall_s"] for r in traced])
    out["trace.run_s"] = traced_s
    out["trace.overhead_s"] = traced_s - median([r["wall_s"] for r in plain])
    return out


# ------------------------------------------------------------------ printer

def result_line(specs, values, correct, attempted, failed):
    """The final stdout line: every metric of `specs` (BENCHMARK.json
    entries), in that order, with the unit the spec gives it."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {s["name"]: {"value": float(values[s["name"]]), "unit": s["unit"]} for s in specs},
    })
