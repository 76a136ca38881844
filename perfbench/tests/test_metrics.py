"""Span/self-time arithmetic and the metric printer."""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import metrics  # noqa: E402

BENCH = json.load(open(os.path.join(HERE, "..", "..", "BENCHMARK.json")))


def span(i, name, s, e, parent=-1):
    return {"id": i, "name": name, "start_ms": s, "end_ms": e, "parent": parent}


class SpanArithmeticTest(unittest.TestCase):
    def test_union_length_merges_overlaps_and_skips_empty(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25), (30, 30)]), 20)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_subtracts_children_clipped_to_the_parent(self):
        spans = [span(0, "e1", 0, 100), span(1, "io.shp", 10, 30, 0), span(2, "io.shp", 30, 40, 0),
                 span(3, "jobs.reports", 90, 120, 0), span(4, "k5", 100, 160)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100 - 30 - 10)   # [10,40] and [90,100]
        self.assertEqual(st[1], 20)
        self.assertEqual(st[4], 60)
        # nested children partition their parent: self times sum to the top-level walls
        nested = [s for s in spans if s["id"] != 3]
        self.assertEqual(sum(metrics.self_times(nested).values()), 160)

    def test_driver_only_is_wall_minus_job_union(self):
        self.assertEqual(metrics.driver_only_ms(span(0, "e1", 0, 100), [[10, 20], [15, 30], [95, 130]]), 75)

    def test_unaccounted_share_sees_uncovered_time_and_sampler_gaps(self):
        spans = [span(0, "e1", 0, 1000), span(1, "io.shp", 100, 200, 0), span(2, "k5", 1000, 1500)]
        self.assertAlmostEqual(metrics.unaccounted_share(1.5, spans, 0), 0.0)
        # 500 ms of the run outside every top-level span
        self.assertAlmostEqual(metrics.unaccounted_share(2.0, spans, 0), 0.25)
        # a starved sampler: 150 ms of overrun intervals inside the spans
        self.assertAlmostEqual(metrics.unaccounted_share(1.5, spans, 150 * 10 ** 6), 0.1)

    def test_peak_mem_takes_the_fixed_heap_out(self):
        mem = {"peak_rss_kb": 3 * 1024 * 1024, "heap_committed_bytes": 2 * 2 ** 30,
               "peak_live_heap_bytes": 100 * 2 ** 20}
        self.assertEqual(metrics.peak_mem_mb(mem), 1024 + 100)

    def test_percentile(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertAlmostEqual(metrics.percentile([0, 10], 95), 9.5)
        self.assertEqual(metrics.percentile([7], 95), 7)


MEMORY = {"peak_rss_kb": 2 ** 21 + 2048, "heap_committed_bytes": 2 ** 31, "peak_live_heap_bytes": 2 ** 20}


def etl_raw():
    obs = {"out_bytes": 4000, "jdbc_statements": 10, "jdbc_inserts": 6, "backup_rows": 5,
           "derby": {"base_resourcebase_tkeywords": 5}, "spatial_files": 3, "spatial_bytes": 300,
           "gc_s": 0.1, "readers": {"shp_s": 0.004, "xlsx_s": 0.01}}
    trace = {"spans": [span(0, "session", 0, 10), span(1, "e1_load_portal_main", 10, 1010),
                       span(2, "io.shp", 100, 200, 1), span(3, "k5_upsert_metadata", 1010, 1510)],
             "groups": {"e1_load_portal_main": {"jobs": 2, "input_rows": 80, "task_busy_ms": 300}},
             "plan": [{"t_ms": 50, "span": "e1_load_portal_main", "key": "plan_ns", "value": 10 ** 8}],
             "jobs": {"e1_load_portal_main": [[100, 300]]}, "layers_ns": {"io.shp": 10 ** 8},
             "sampler_gap_ns": 0}
    return {"ready_ms": 3000.0, "memory": MEMORY,
            "runs": [{"wall_s": 1.51, "traced": True, "calls": [{"name": "e1", "s": 1.0}], "obs": obs,
                      "trace": trace},
                     {"wall_s": 1.4, "traced": False, "calls": [{"name": "session", "s": 0.1}, {"name": "e1", "s": 0.9}, {"name": "k5", "s": 0.5}],
                      "obs": obs}]}


EXPECTED = {"input": {"records": 100, "bytes": 1000, "by_format": {"xlsx": 7, "shp": 9}}}


class PrinterTest(unittest.TestCase):
    def check_line(self, specs, values):
        line = json.loads(metrics.result_line(specs, values, True, 3, 0))
        self.assertEqual(list(line["metrics"]), [s["name"] for s in specs])
        for s in specs:
            self.assertEqual(line["metrics"][s["name"]]["unit"], s["unit"])
            self.assertIsInstance(line["metrics"][s["name"]]["value"], float)
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})

    def test_end_to_end_names(self):
        values = metrics.end_to_end(etl_raw(), "etl", 1000.0, EXPECTED)
        self.assertEqual(values["setup_s"], 2.0)
        self.assertAlmostEqual(values["records_per_s"], 100 / 1.4)
        self.assertAlmostEqual(values["query_s_p50"], 0.7)
        self.check_line(BENCH["end_to_end"], values)

    def test_per_layer_names(self):
        values = metrics.per_layer(etl_raw(), "etl", EXPECTED)
        self.assertAlmostEqual(values["trace.overhead_s"], 0.11)
        self.assertAlmostEqual(values["jobs.load_portal.busy_s"], 0.9)
        self.assertAlmostEqual(values["spark.driver_only_s"], 0.8 + 0.5)
        self.assertAlmostEqual(values["spark.scan_amplification"], 0.8)
        self.assertAlmostEqual(values["io.shp.busy_s"], 0.004)
        self.assertAlmostEqual(values["trace.unaccounted_share"], 0.0)
        self.check_line(BENCH["per_layer"], values)

    def test_catalog_names(self):
        calls = [{"name": "q1", "s": 1.0, "build_s": 0.4, "exec_s": 0.6},
                 {"name": "q2", "s": 3.0, "build_s": 1.0, "exec_s": 2.0}]
        trace = {"spans": [span(0, "q1", 0, 1000), span(1, "build", 0, 400, 0), span(2, "exec", 400, 1000, 0)],
                 "groups": {"q1": {"jobs": 1, "input_rows": 50}}, "plan": [], "jobs": {}, "layers_ns": {}}
        raw = {"ready_ms": 5000.0, "memory": MEMORY, "input_rows": 100, "input_bytes": 1000,
               "checks": {"q1": {"rows": 1, "hash": 2, "bytes": 50}, "q2": {"rows": 1, "hash": 3, "bytes": 50}},
               "runs": [{"wall_s": 4.2, "traced": True, "gc_s": 0.1, "calls": calls, "trace": trace},
                        {"wall_s": 4.0, "traced": False, "gc_s": 0.1, "calls": calls}]}
        e2e = metrics.end_to_end(raw, "catalog", 0.0, None)
        self.assertEqual(e2e["query_s_p50"], 2.0)
        self.assertEqual(e2e["peak_mem_mb"], 3.0)
        self.assertAlmostEqual(e2e["out_bytes_per_in_byte"], 0.1)
        self.check_line(BENCH["end_to_end"], e2e)
        self.check_line(BENCH["per_layer"], metrics.per_layer(raw, "catalog"))


if __name__ == "__main__":
    unittest.main()
