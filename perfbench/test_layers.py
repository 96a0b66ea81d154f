"""Tests of the benchmark's own arithmetic and input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import tempfile
import unittest

import layers


class UnionLength(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(layers.union_length([(0, 2), (5, 7)], 0, 10), 4)

    def test_concurrent_jobs_count_once(self):
        # two jobs overlapping inside one op: 0-6 and 4-10 cover 10, not 12
        self.assertEqual(layers.union_length([(0, 6), (4, 10)], 0, 10), 10)

    def test_nested_and_touching(self):
        self.assertEqual(layers.union_length([(0, 10), (2, 3), (10, 12)], 0, 20), 12)

    def test_clipped_to_op(self):
        # a job starting before the op or ending after it counts only inside
        self.assertEqual(layers.union_length([(-5, 3), (8, 15)], 0, 10), 5)

    def test_open_job_runs_to_op_end(self):
        self.assertEqual(layers.union_length([(4, -1)], 0, 10), 6)

    def test_empty(self):
        self.assertEqual(layers.union_length([], 0, 10), 0)


class BusyAndGap(unittest.TestCase):
    def test_gap_is_wall_minus_union(self):
        op = {"start_ms": 1000, "end_ms": 14100}
        # job durations sum past the op's wall (concurrent jobs)
        jobs = [{"start_ms": 1100, "end_ms": 9000},
                {"start_ms": 2000, "end_ms": 11000},
                {"start_ms": 12000, "end_ms": 13000}]
        busy, gap = layers.job_busy_and_gap(op, jobs)
        self.assertAlmostEqual(busy, 10.9)
        self.assertAlmostEqual(gap, 13.1 - 10.9)
        self.assertLess(busy, sum(j["end_ms"] - j["start_ms"] for j in jobs) / 1000)

    def test_no_jobs_all_gap(self):
        busy, gap = layers.job_busy_and_gap({"start_ms": 0, "end_ms": 500}, [])
        self.assertEqual((busy, gap), (0.0, 0.5))


class PassLayers(unittest.TestCase):
    def test_sums_over_ops_and_attributes_modules(self):
        spans = [
            {"id": 1, "parent": 0, "name": "pass", "start_ms": 0, "end_ms": 3000},
            {"id": 2, "parent": 1, "name": "op:a", "start_ms": 0, "end_ms": 1000},
            {"id": 3, "parent": 1, "name": "op:b", "start_ms": 1000, "end_ms": 3000},
            {"id": 4, "parent": 2, "name": "job:0", "start_ms": 100, "end_ms": 600},
            {"id": 5, "parent": 3, "name": "job:1", "start_ms": 1500, "end_ms": 2500},
        ]
        op = lambda name, span, wall, cpu: {
            "op": name, "span": span, "wall_s": wall, "cpu_s": cpu,
            "jit_s": 0.5, "gc_s": 0.1,
            "heap_mb": 10.0, "leftover_blocks": 1, "leftover_cache_entries": 0,
            "leftover_dirs": 2, "error": None}
        p = {"span": 1, "traced": True, "output_bytes": 0,
             "ops": [op("a", 2, 1.0, 2.0), op("b", 3, 2.0, 3.0)]}
        counters = {"2": {"jobs": 1, "tasks": 4, "exec_cpu_ns": 1.5e9,
                          "scan_files_bytes": 100},
                    "3": {"jobs": 1, "tasks": 4, "task_failures": 1,
                          "exec_cpu_ns": 0.5e9, "scan_files_bytes": 50}}
        v = layers.pass_layers(p, spans, counters, {"a": "etl", "b": "graph"})
        self.assertEqual(v["etl.busy_s"], 1.0)
        self.assertEqual(v["graph.ops"], 1)
        self.assertAlmostEqual(v["scheduler.job_busy_s"], 1.5)
        self.assertAlmostEqual(v["scheduler.driver_gap_s"], 1.5)
        self.assertAlmostEqual(v["driver.cpu_s"], 3.0)
        self.assertAlmostEqual(v["jvm.jit_s"], 1.0)
        self.assertEqual(v["scan.files_bytes"], 150)
        self.assertEqual(v["storage.leftover_dirs"], 4)
        self.assertAlmostEqual(v["scheduler.task_ok_ratio"], 7 / 8)
        self.assertEqual(set(v), set(layers.PER_LAYER))


class PerOp(unittest.TestCase):
    def test_shares_are_medians_over_traced_passes_only(self):
        spans = [
            {"id": 1, "parent": 0, "name": "op:a", "start_ms": 0, "end_ms": 2000},
            {"id": 2, "parent": 1, "name": "job:0", "start_ms": 500, "end_ms": 1500},
            {"id": 3, "parent": 0, "name": "op:a", "start_ms": 0, "end_ms": 4000},
        ]
        run = lambda span, wall, cpu: {"op": "a", "span": span, "wall_s": wall,
                                       "cpu_s": cpu}
        result = {"passes": [{"traced": True, "ops": [run(1, 2.0, 4.0)]},
                             {"traced": False, "ops": [run(3, 4.0, 8.0)]}],
                  "counters": {"1": {"exec_cpu_ns": 1e9, "jobs": 1,
                                     "shuffle_write_bytes": 7}}}
        r = layers.per_op(result, spans)["a"]
        self.assertEqual(r["wall_s"], 2.0)
        self.assertAlmostEqual(r["exec_cpu_share"], 0.25)
        self.assertAlmostEqual(r["gap_share"], 0.5)
        self.assertEqual(r["shuffle_bytes"], 7)


class BenchmarkJson(unittest.TestCase):
    def test_metrics_and_workloads_match_what_run_prints(self):
        import json
        import run
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            os.pardir, "BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual(sorted({m for w in run.WORKLOADS.values()
                                 for m in w["ops"].values()}), sorted(layers.MODULES))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         layers.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         [(n, layers.unit_of(n)) for n in layers.PER_LAYER])


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_data_other_seed_other_data(self):
        import pyarrow.parquet as pq
        import gen
        d = tempfile.mkdtemp()
        try:
            for name, seed in (("a", 7), ("b", 7), ("c", 8)):
                gen.build(os.path.join(d, name), 0.01, seed)
            read = lambda n, t: pq.read_table(
                os.path.join(d, n, f"{t}.parquet")).to_pydict()
            for t in ("lineitem", "documents", "embeddings"):
                self.assertEqual(read("a", t), read("b", t))
                self.assertNotEqual(read("a", t), read("c", t))
            self.assertEqual(len(read("a", "orders")["o_orderkey"]), 1500)
        finally:
            shutil.rmtree(d)

    def test_spark_xxhash64(self):
        import gen
        # Spark: SELECT xxhash64(CAST(1 AS BIGINT)) and xxhash64(1)
        # (an INT literal) with the default seed 42
        self.assertEqual(int(gen.hash_long(1, 42)), -7001672635703045582)
        self.assertEqual(int(gen.hash_int(1, 42)), -6698625589789238999)


if __name__ == "__main__":
    unittest.main()
