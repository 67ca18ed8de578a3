"""Tests for the benchmark's own code: statistics, span accounting, and
the metric names printed against those declared in BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import benchlib  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    DECLARED = json.load(f)


class StatisticsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(benchlib.median([3, 1, 2]), 2)
        self.assertEqual(benchlib.median([4, 1, 3, 2]), 2.5)
        self.assertIsNone(benchlib.median([]))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(benchlib.nearest_rank(xs, 0.5), (50, 50))
        self.assertEqual(benchlib.nearest_rank(xs, 0.9), (90, 10))
        self.assertEqual(benchlib.nearest_rank([7], 0.9), (7, 0))

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(benchlib.supported_percentile(list(range(1, 101)), 0.9), 90)
        # 99 samples: the p90 is the 90th, and only 9 lie beyond it
        self.assertIsNone(benchlib.supported_percentile(list(range(1, 100)), 0.9))
        self.assertIsNone(benchlib.supported_percentile([], 0.9))
        # order of the input does not matter
        self.assertEqual(benchlib.supported_percentile(list(range(200, 0, -1)), 0.9), 180)


def span(i, parent, name, s, e):
    return {"id": i, "parent": parent, "name": name, "op": 1, "start_ms": s, "end_ms": e}


class SpanTest(unittest.TestCase):
    # parent [0, 100]; children [10, 40] and [30, 60] overlap, [90, 120]
    # runs past the parent's end; a grandchild [15, 20] sits in the first
    TREE = [
        span(0, -1, "op", 0.0, 100.0),
        span(1, 0, "harness.build", 10.0, 40.0),
        span(2, 0, "harness.build", 30.0, 60.0),
        span(3, 0, "harness.sink", 90.0, 120.0),
        span(4, 1, "spark.job", 15.0, 20.0),
    ]

    def test_union_length(self):
        self.assertEqual(benchlib.union_length([(10, 40), (30, 60), (90, 100)]), 60)
        self.assertEqual(benchlib.union_length([(5, 5), (1, 2)]), 1)
        self.assertEqual(benchlib.union_length([]), 0)

    def test_self_time_with_overlapping_children(self):
        st = benchlib.self_times(self.TREE)
        self.assertEqual(st[0], 100 - 60)   # covered: [10, 60] and [90, 100]
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)

    def test_layer_table_sums_by_name(self):
        rows = {r["layer"]: r for r in benchlib.layer_table(self.TREE)}
        self.assertEqual(rows["harness.build"]["spans"], 2)
        self.assertAlmostEqual(rows["harness.build"]["self_s"], 0.055)
        self.assertAlmostEqual(rows["harness.build"]["total_s"], 0.060)
        self.assertAlmostEqual(rows["op"]["self_s"], 0.040)


def spark_window(jobs):
    w = {k: 0.0 for k in benchlib.SPARK_UNITS if k not in ("job_busy_s", "driver_gap_s")}
    w.update(jobs=jobs, exec_cpu_s=0.5)
    return w


def synthetic_result(workload):
    """A minimal raw result as perfbench.Main writes it."""
    queries = benchlib.WORKLOADS["workloads"][workload]["queries"]
    batch = {"query": "s1", "batch": 0, "input_rows": 10, "state_rows": 1, "state_commit_ms": 3,
             "state_mem_b": 1024,
             "durations_ms": {"triggerExecution": 100, "addBatch": 80, "walCommit": 10,
                              "commitOffsets": 8}}

    def passes(traced):
        return {"idx": 0, "traced": traced, "wall_s": 0.5 * len(queries), "ops_wall_s": 0.4 * len(queries),
                "cpu_s": 5.0, "steal_s": 0.0, "heap_live_mb": 300.0,
                "spark": spark_window(4), "batches": [batch],
                "ops": [{"q": q, "op": i, "build_s": 0.3, "sink_s": 0.1, "wall_s": 0.4,
                         "ok": True, "spark": spark_window(2)} for i, q in enumerate(queries)]}
    # each traced op lasts 400 ms and runs two jobs that overlap: busy 250 ms
    spans = []
    for i in range(len(queries)):
        t = 1000.0 * i
        spans += [span(3 * i, -1, "op", t, t + 400), span(3 * i + 1, 3 * i, "spark.job", t + 50, t + 200),
                  span(3 * i + 2, 3 * i, "spark.job", t + 150, t + 300)]
        for s in spans[-3:]:
            s["op"] = i
    # prefix k of the chain takes 0.1 * (k + 1) s; the query itself 0.75 s
    chain = [{"layer": layer, "round": 0, "wall_s": wall, "rows_out": 5, "fp": "1:2",
              "spark": spark_window(1)}
             for layer, wall in [(benchlib.CHAIN_QUERY, 0.75)] + [
                 (layer, 0.1 * (k + 1)) for k, layer in enumerate(benchlib.CORPUS_LAYERS)]
             ] if workload == "corpus" else []
    return {"workload": workload, "queries": queries, "passes": [passes(False), passes(True)],
            "setup": {"setup_s": 30.0, "stage_s": 1.0}, "rss_peak_mb": 3000.0, "chain": chain,
            "spans": spans,
            "host": {"steal_s": 0.5, "load1_start": 1.0}}


class MetricNamesTest(unittest.TestCase):
    def test_declared_units_match(self):
        self.assertEqual({m["name"]: m["unit"] for m in DECLARED["end_to_end"]}, benchlib.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in DECLARED["per_layer"]},
                         benchlib.per_layer_units())

    def test_workloads_match(self):
        self.assertEqual({w["name"] for w in DECLARED["workloads"]},
                         set(benchlib.WORKLOADS["workloads"]))

    def test_printed_names_match_declared(self):
        for w in benchlib.WORKLOADS["workloads"]:
            result = synthetic_result(w)
            e2e, _ = benchlib.end_to_end(result)
            block = benchlib.metric_block(e2e, benchlib.E2E_UNITS)
            self.assertEqual(list(block), [m["name"] for m in DECLARED["end_to_end"]])
            values, _ = benchlib.per_layer(result)
            block = benchlib.metric_block(values, benchlib.per_layer_units())
            self.assertEqual(list(block), [m["name"] for m in DECLARED["per_layer"]])
            self.assertTrue(all(isinstance(v["value"], (int, float)) for v in block.values()))

    def test_driver_gap_is_op_wall_outside_its_jobs(self):
        result = synthetic_result("algebra")
        values, _ = benchlib.per_layer(result)
        n = len(result["queries"])
        self.assertAlmostEqual(values["op.q_scan.driver_gap_s"], 0.15)
        self.assertAlmostEqual(values["spark.job_busy_s"], 0.25 * n)
        self.assertAlmostEqual(values["spark.driver_gap_s"], 0.15 * n)

    def test_op_span_sum_counts_overlapping_jobs_twice(self):
        # op self 150 ms + two jobs of 150 ms = 450 ms against a 400 ms op
        _, checks = benchlib.per_layer(synthetic_result("algebra"))
        self.assertAlmostEqual(checks["op_span_sum_worst_rel_err"], 0.125)
        self.assertFalse(checks["op_span_sum_within_10pct"])
        # the ops cover 0.4 of every 0.5 s of a pass
        self.assertAlmostEqual(checks["ops_share_of_pass_min"], 0.8)
        self.assertFalse(checks["ops_share_of_pass_within_10pct"])

    def test_corpus_self_times_telescope(self):
        values, checks = benchlib.per_layer(synthetic_result("corpus"))
        total = sum(values[f"corpus.{layer}.self_s"] for layer in benchlib.CORPUS_LAYERS)
        self.assertAlmostEqual(total, 0.7)
        self.assertAlmostEqual(checks["corpus_self_sum_s"], 0.7)
        self.assertAlmostEqual(checks["corpus_self_sum_rel_err"], 0.05 / 0.75)
        self.assertTrue(checks["corpus_self_sum_within_10pct"])
        self.assertEqual(checks["batches_checked"], 1)
        self.assertAlmostEqual(checks["batch_parts_share_min"], 0.98)
        self.assertTrue(checks["batch_parts_all_within_10pct"])


if __name__ == "__main__":
    unittest.main()
