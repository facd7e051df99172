"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The statistics and trace tooling are tested here directly; the generator and
the correctness checks run in the JVM (perfbench.SelfTest), after a build.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(stats.median([]), 0.0)

    def test_quartiles_and_spread(self):
        q1, q2, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 1.0)

    def test_percentile_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([5.0], 90), 5.0)

    def test_ten_beyond_rule(self):
        self.assertEqual(stats.beyond(list(range(1, 101)), 90), 10)
        self.assertEqual(stats.tail_percentile(list(range(1, 101)), 90), 90)
        self.assertIsNone(stats.tail_percentile(list(range(1, 100)), 90))
        self.assertIsNone(stats.tail_percentile(list(range(1, 21)), 90))
        self.assertEqual(stats.highest_reportable_percentile(list(range(1, 21))),
                         (50, 10))
        self.assertIsNone(stats.highest_reportable_percentile(list(range(1, 10))))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4.0)
        self.assertAlmostEqual(stats.geomean([2.0]), 2.0)
        self.assertEqual(stats.geomean([]), 0.0)


def span(i, parent, layer, start, end, **attrs):
    return {"id": i, "parent": parent, "name": f"s{i}", "layer": layer,
            "start": start, "end": end, "attrs": attrs}


class TraceTest(unittest.TestCase):
    def test_union_and_self_time(self):
        self.assertEqual(layers.union_ms([(0, 2), (1, 3), (5, 6)]), 4)
        parent = span(1, 0, "op", 0, 10)
        kids = [span(2, 1, "spark.job", 1, 4), span(3, 1, "spark.job", 3, 6),
                span(4, 1, "spark.job", 8, 12)]
        self.assertEqual(layers.self_ms(parent, kids), 10 - 5 - 2)

    def test_layer_metrics_attribute_jobs_to_layers(self):
        spans = [
            span(1, 0, "workload", 0, 100),
            span(2, 1, "op", 0, 50),
            span(3, 2, "query.build", 0, 10),
            span(4, 2, "query.exec", 10, 50, fanout_exchanges=0),
            span(5, 0, "check", 60, 90),
            span(10, 3, "spark.job", 1, 9, tasks=2, task_s=0.01, input_bytes=100),
            span(11, 4, "spark.job", 11, 49, tasks=4, task_s=0.1,
                 shuffle_write_bytes=7),
            # a check's job is outside every timed operation
            span(12, 5, "spark.job", 61, 89, tasks=9, task_s=5.0),
        ]
        spans[6]["stage_times"] = [[0.01, 0.006, 0.004]]
        m = layers.layer_metrics(spans, {"jvm.gc_s": 0.5}, 4)
        self.assertEqual(m["spark.jobs"], 2)
        self.assertEqual(m["spark.tasks"], 6)
        self.assertAlmostEqual(m["spark.task_s"], 0.11)
        self.assertAlmostEqual(m["spark.idle_core_s"], 0.05 * 4 - 0.11)
        self.assertEqual(m["query.build_jobs"], 1)
        self.assertEqual(m["query.exec_jobs"], 1)
        self.assertEqual(m["tables.input_bytes"], 100)
        self.assertEqual(m["spark.shuffle_write_bytes"], 7)
        self.assertAlmostEqual(m["spark.stage_skew"], 1.5)
        self.assertEqual(m["jvm.gc_s"], 0.5)
        self.assertEqual(m["etl.write_bytes"], 0)

    def test_by_op_keeps_operations_apart(self):
        spans = [
            span(1, 0, "workload", 0, 100),
            {**span(2, 1, "op", 0, 40), "name": "w/qa"},
            {**span(3, 1, "op", 50, 90), "name": "w/qb"},
            {**span(4, 1, "op", 95, 99), "name": "w/qa"},
            span(5, 2, "query.exec", 0, 40),
            span(10, 5, "spark.job", 1, 39, tasks=3),
            span(11, 3, "spark.job", 51, 89, tasks=5),
            span(12, 4, "spark.job", 96, 98, tasks=1),
        ]
        m = layers.by_op(spans, 4)
        self.assertEqual(sorted(m), ["w/qa", "w/qb"])
        self.assertEqual((m["w/qa"]["spark.jobs"], m["w/qa"]["spark.tasks"]), (2, 4))
        self.assertEqual((m["w/qb"]["spark.jobs"], m["w/qb"]["spark.tasks"]), (1, 5))
        self.assertEqual(m["w/qa"]["query.exec_jobs"], 1)

    def test_every_per_layer_metric_is_produced(self):
        spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        rec = {"ops": [], "counters": {}, "failed": 0, "attempted": 1,
               "setup": {"jvm_s": 1, "session_s": [1], "inputs_s": 0},
               "sweeps_s": [], "peak_rss_mb": 1}
        produced = set(layers.layer_metrics([], {}, 4)) | set(run.etl_metrics(rec))
        produced |= {"trace.run_s", "trace.spans", "peak_rss_mb"}
        self.assertEqual({m["name"] for m in spec["per_layer"]}, produced)
        self.assertEqual({m["name"] for m in spec["end_to_end"]},
                         set(run.end_to_end(rec)))


class JvmSelfTest(unittest.TestCase):
    def test_generator_and_checks(self):
        out = build.build()
        work = out / "selftest"
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        cmd = build.java(out, work, "perfbench.SelfTest", [build.FIXTURE, work])
        try:
            r = subprocess.run(cmd, cwd=str(work), stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True, timeout=600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        sys.stderr.write(r.stdout)
        self.assertEqual(r.returncode, 0, r.stdout)


if __name__ == "__main__":
    unittest.main()
