"""Unit tests of the benchmark's own arithmetic.

Run from the root of the checkout:  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import metrics  # noqa: E402
import oracle  # noqa: E402


def load(*parts):
    with open(os.path.join(BENCH, *parts)) as f:
        return json.load(f)


def ex(q, p, start, build_end, end, kind="warm", traced=False, error=None):
    e = dict(query=q, **{"pass": p}, kind=kind, traced=traced,
             start=start, build_end=build_end, end=end)
    if error:
        e["error"] = error
    return e


def stage(i, start, end, tasks=2, run_ms=100):
    return dict(id=i, attempt=0, start=start, end=end, tasks=tasks, run_ms=run_ms,
                cpu_ns=run_ms * 10 ** 6 // 2, gc_ms=1, shuffle_read=2 * metrics.MB,
                shuffle_write=metrics.MB, spill=0, input_bytes=metrics.MB, input_rows=10,
                result_bytes=1000)


def synthetic_run(traced_pass=2):
    """Cold pass 0, untraced warm pass 1, traced warm pass 2 of queries a, b.

    In the traced pass, a spans [1000, 1100] with its build [1000, 1030]
    holding job 1 [1010, 1020] (stage 1) and an analysis phase [1002, 1004];
    its execute part holds job 2 [1040, 1090] with stages 2 [1040, 1070]
    and 3 [1060, 1085]. b spans [1100, 1150] with job 3 [1110, 1140]
    (stage 4 [1110, 1140])."""
    execs = [ex("a", 0, 0, 20, 200, kind="cold"), ex("b", 0, 200, 210, 300, kind="cold"),
             ex("a", 1, 500, 530, 610), ex("b", 1, 610, 620, 660),
             ex("a", traced_pass, 1000, 1030, 1100, traced=True),
             ex("b", traced_pass, 1100, 1110, 1150, traced=True)]
    return {
        "nproc": 2, "jvm_boot_s": 0.5, "setup_s": [3.0, 0.2, 0.4, 0.3], "peak_rss_mb": 512.0,
        "live_heap_mb": 72.0,
        "execs": execs,
        "codegen": [{"pass": 0, "compile_s": 0.25, "classes": 7},
                    {"pass": 1, "compile_s": 0.01, "classes": 0}],
        "jobs": [dict(id=1, start=1010, end=1020, stages=[1]),
                 dict(id=2, start=1040, end=1090, stages=[2, 3]),
                 dict(id=3, start=1110, end=1140, stages=[4])],
        "stages": [stage(1, 1010, 1020), stage(2, 1040, 1070), stage(3, 1060, 1085),
                   stage(4, 1110, 1140)],
        "phases": [dict(name="analysis", start=1002, end=1004, plan_nodes=5),
                   dict(name="analysis", start=1031, end=1033, plan_nodes=6),
                   dict(name="optimization", start=1033, end=1036, plan_nodes=6),
                   dict(name="planning", start=1036, end=1038, plan_nodes=6)],
    }


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlap_and_nesting(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30), (22, 25)]), 25)

    def test_union_touching_and_empty(self):
        self.assertEqual(metrics.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(3, 3), (5, 4)]), 0)

    def test_union_is_order_independent(self):
        self.assertEqual(metrics.union_length([(20, 30), (0, 10), (5, 15)]), 25)

    def test_clip(self):
        self.assertEqual(metrics.clip([(0, 10), (15, 30), (40, 50)], 5, 20), [(5, 10), (15, 20)])

    def test_self_time_subtracts_child_union_inside_span(self):
        # children overlap each other and one pokes out of the parent
        self.assertEqual(metrics.self_time((0, 100), [(10, 30), (20, 40), (90, 120)]), 60)
        self.assertEqual(metrics.self_time((0, 100), []), 100)


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(19)), 0.5)
        self.assertEqual(metrics.percentile(list(range(20)), 0.5), 9.5)
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(91)), 0.9)
        self.assertAlmostEqual(metrics.percentile(list(range(92)), 0.9), 81.9)
        self.assertAlmostEqual(metrics.percentile(list(range(100)), 0.9), 89.1)

    def test_interpolates_between_ranks_of_unsorted_input(self):
        xs = [float(x) for x in range(100, 0, -1)]
        self.assertAlmostEqual(metrics.percentile(xs, 0.9), 90.1)


class FailureTest(unittest.TestCase):
    def test_thrown_and_mismatched_queries_both_fail(self):
        execs = [ex("a", 0, 0, 1, 2), ex("b", 0, 2, 3, 4, error="boom"), ex("c", 0, 4, 5, 6)]
        self.assertEqual(metrics.failures(execs, {"c": "digest differs"}),
                         {"b": "boom", "c": "digest differs"})

    def test_failed_query_leaves_every_timing(self):
        run = synthetic_run()
        run["execs"].append(ex("c", 1, 660, 661, 9000))  # slow but never timed
        run["execs"].append(ex("c", 0, 300, 301, 400, kind="cold", error="boom"))
        failed = metrics.failures(run["execs"], {})
        e2e = metrics.end_to_end(run, [0.1, 0.0, 0.0, 0.0], failed)
        self.assertAlmostEqual(e2e["wall_s"], 0.16)
        self.assertAlmostEqual(e2e["cold_s"], 0.3)
        self.assertNotIn("c", metrics.query_times(run, failed))

    def test_no_successful_pass_is_an_error_not_a_time(self):
        run = synthetic_run()
        failed = {"a": "x", "b": "y"}
        with self.assertRaises(ValueError):
            metrics.end_to_end(run, [0, 0, 0, 0], failed)

    def test_oracle_compare_rules(self):
        import pandas as pd
        want = pd.DataFrame({"b": [1.5, float("nan")], "a": ["x", "y"]})
        self.assertEqual(oracle.compare(want[["a", "b"]], want), [])
        self.assertTrue(oracle.compare(pd.DataFrame({"a": ["x"], "b": [1.5]}), want)[0].startswith("rows"))
        got = pd.DataFrame({"a": ["x", "y"], "b": [1.5, 2.0]})
        self.assertIn("b: row 1", oracle.compare(got, want)[0])
        ints = pd.DataFrame({"a": ["x", "y"], "b": [1, 2]})
        self.assertTrue(any("dtype" in w for w in oracle.compare(ints, want)))

    def test_digest_follows_row_order_and_values_not_widening(self):
        import pandas as pd
        df = pd.DataFrame({"b": [1.5, 2.5, float("nan")], "a": ["x", "y", "z"],
                           "n": pd.array([1, 2, 3], dtype="int32")})
        d = oracle.digest(df)
        self.assertTrue(d.startswith("a:O,b:f,n:i|3|"))
        self.assertEqual(oracle.digest(df[["n", "a", "b"]]), d)
        self.assertEqual(oracle.digest(df.astype({"n": "int64"})), d)
        swapped = df.iloc[[1, 0, 2]].reset_index(drop=True)
        self.assertNotEqual(oracle.digest(swapped), d)
        changed = df.copy()
        changed.loc[2, "b"] = 0.0
        self.assertNotEqual(oracle.digest(changed), d)

    def test_digest_compare_reads_parts_in_order(self):
        import tempfile
        import pandas as pd
        with tempfile.TemporaryDirectory() as out:
            os.makedirs(os.path.join(out, "a"))
            os.makedirs(os.path.join(out, "b"))
            parts = [pd.DataFrame({"x": [1, 2]}), pd.DataFrame({"x": [3]})]
            for i, p in enumerate(parts):
                p.to_parquet(os.path.join(out, "a", f"part-{i:05d}.parquet"))
            whole = oracle.digest(pd.concat(parts, ignore_index=True))
            reordered = oracle.digest(pd.DataFrame({"x": [3, 1, 2]}))
            self.assertEqual(oracle.digest_failures(out, {"a": whole}, ["a"]), {})
            self.assertIn("a", oracle.digest_failures(out, {"a": reordered}, ["a"]))
            self.assertEqual(oracle.digest_failures(out, {"b": whole}, ["b"]), {"b": "no output written"})
            self.assertIn("c", oracle.digest_failures(out, {}, ["c"]))


class LayerTest(unittest.TestCase):
    def test_end_to_end(self):
        e2e = metrics.end_to_end(synthetic_run(), [2.0, 0.1, 0.1, 0.1], {})
        self.assertAlmostEqual(e2e["wall_s"], 0.16)
        self.assertAlmostEqual(e2e["cold_s"], 0.3)
        # boot 0.5 + median(0.3, 0.5, 0.4); the first set-up (5.0) is left out
        self.assertAlmostEqual(e2e["setup_s"], 0.9)
        self.assertEqual(e2e["live_heap_mb"], 72.0)

    def test_scheduler_gap_is_wall_minus_stage_union(self):
        m = metrics.per_layer(synthetic_run(), {})
        # a: stages cover [1010,1020] + [1040,1085] = 55 of 100 ms; b: 30 of 50
        self.assertAlmostEqual(m["exec.stage_busy_s"], 0.085)
        self.assertAlmostEqual(m["scheduler.gap_s"], 0.150 - 0.085)
        self.assertEqual(m["scheduler.jobs"], 3)
        self.assertEqual(m["scheduler.stages"], 4)
        self.assertEqual(m["scheduler.tasks"], 8)
        self.assertAlmostEqual(m["exec.core_util"], 0.4 / (2 * 0.085))
        self.assertAlmostEqual(m["exec.shuffle_read_mb"], 8.0)

    def test_build_self_time_excludes_its_jobs_and_phases(self):
        m = metrics.per_layer(synthetic_run(), {})
        # a's build [1000,1030] minus job 1 (10 ms) and its analysis (2 ms);
        # b's build [1100,1110] has no children
        self.assertAlmostEqual(m["SparkEntry.build_s"], (30 - 12 + 10) / 1e3)
        self.assertEqual(m["SparkEntry.build_jobs"], 1)
        self.assertAlmostEqual(m["catalyst.analysis_s"], 0.004)
        self.assertAlmostEqual(m["catalyst.optimization_s"], 0.003)
        self.assertEqual(m["catalyst.plan_nodes"], 11)
        self.assertEqual(m["codegen.classes"], 7)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.15 / 0.16 - 1.0)

    def test_overhead_skips_the_first_warm_pass_when_it_can(self):
        run = synthetic_run()
        run["execs"] += [ex("a", 3, 2000, 2010, 2090), ex("b", 3, 2090, 2100, 2140)]
        m = metrics.per_layer(run, {})
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.15 / 0.14 - 1.0)

    def test_span_tree(self):
        run = synthetic_run()
        p = metrics.timed(run["execs"], {}, "warm", traced=True)[2]
        spans = {sp["id"]: sp for sp in metrics.spans_of_pass(p, run)}
        self.assertEqual(spans["2:a/build/job1"]["parent"], "2:a/build")
        self.assertEqual(spans["2:a/execute/job2/stage3.0"]["parent"], "2:a/execute/job2")
        self.assertEqual(spans["2:b/execute/job3"]["query"], "b")
        self.assertEqual({sp["query"] for sp in spans.values()}, {"a", "b"})


class ContractTest(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        bench = load("..", "BENCHMARK.json")
        run = synthetic_run()
        self.assertEqual({m["name"] for m in bench["end_to_end"]},
                         set(metrics.end_to_end(run, [0, 0, 0, 0], {})))
        self.assertEqual({m["name"] for m in bench["per_layer"]}, set(metrics.per_layer(run, {})))

    def test_workloads_match_benchmark_json(self):
        bench = load("..", "BENCHMARK.json")
        spec = load("workloads.json")
        self.assertEqual([w["name"] for w in bench["workloads"]], list(spec["workloads"]))
        for wl in spec["workloads"].values():
            self.assertEqual(len(wl["queries"]), len(set(wl["queries"])))


if __name__ == "__main__":
    unittest.main()
