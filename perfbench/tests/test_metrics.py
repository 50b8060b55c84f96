"""Tests for the benchmark's own arithmetic and input generation.

    python3 -m unittest discover -s perfbench/tests

The generator test runs the built harness (`perfbench/run.py` builds it on
first use) and is skipped when no build is present.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PB = os.path.dirname(HERE)
sys.path.insert(0, PB)

import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        p, v, n = metrics.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(v, 90)  # 91..100 are the ten beyond it
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(p, 100.0 * 89 / 99)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 3.0, 2.0] * 8
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_few_samples_report_the_median(self):
        xs = [float(x) for x in range(1, 21)]  # rank n-11 is below the median
        p, v, n = metrics.tail(xs)
        self.assertEqual((p, v, n), (50.0, 10.5, 20))

    def test_boundary_above_the_median(self):
        xs = [float(x) for x in range(1, 23)]  # 22 samples: rank 11, value 12
        p, v, _ = metrics.tail(xs)
        self.assertEqual(v, 12.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertGreater(p, 50.0)

    def test_empty(self):
        p, v, n = metrics.tail([])
        self.assertEqual(n, 0)
        self.assertNotEqual(v, v)  # NaN


class SelfTime(unittest.TestCase):
    def span(self, s, e):
        return {"start": s, "end": e}

    def test_no_children(self):
        self.assertEqual(metrics.self_time(self.span(0, 10), []), 10)

    def test_overlapping_children_count_once(self):
        kids = [self.span(1, 4), self.span(3, 6), self.span(8, 9)]
        self.assertEqual(metrics.self_time(self.span(0, 10), kids), 10 - 5 - 1)

    def test_children_clipped_to_parent(self):
        kids = [self.span(-5, 2), self.span(9, 20)]
        self.assertEqual(metrics.self_time(self.span(0, 10), kids), 10 - 2 - 1)

    def test_nested_children(self):
        kids = [self.span(2, 8), self.span(3, 4)]
        self.assertEqual(metrics.self_time(self.span(0, 10), kids), 4)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 1), (1, 2), (5, 7)]), 4)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 5), 3)


class CallSites(unittest.TestCase):
    def test_file_from_call_site(self):
        self.assertEqual(metrics.site_file("parquet at DedupIndex.scala:105"), "DedupIndex")
        self.assertEqual(metrics.site_file("job collect at ReportQueries.scala:49"),
                         "ReportQueries")
        self.assertEqual(metrics.site_file("start at CorpusStream.scala:12"), "CorpusStream")
        self.assertEqual(metrics.site_file("run at ThreadPoolExecutor.java:1136"),
                         "ThreadPoolExecutor")
        self.assertEqual(metrics.site_file(""), "unknown")

    def test_layers(self):
        self.assertEqual(metrics.site_layer("save at AnnIndex.scala:80"), "standing")
        self.assertEqual(metrics.site_layer("count at Generations.scala:3"), "standing")
        self.assertEqual(metrics.site_layer("collect at Relational.scala:9"), "queries")
        self.assertEqual(metrics.site_layer("x at CorpusStream.scala:1"), "pipeline")
        self.assertEqual(metrics.site_layer("parquet at IndexServing.scala:3"), "benchmark")
        self.assertEqual(metrics.site_layer("run at Unknown.scala:1"), "other")

    def test_every_engine_file_has_one_layer(self):
        files = [f for fs in metrics.LAYERS.values() for f in fs]
        self.assertEqual(len(files), len(set(files)))


class Summaries(unittest.TestCase):
    def result(self):
        def op(name, s, e, r, w, traced):
            return {"name": name, "start": s, "end": e, "read_ms": r, "write_ms": w,
                    "ok": True, "attrs": {"traced": traced}}
        return {
            "ops": [op("a", 0, 1000, 800, 200, 0), op("a", 1000, 2100, 900, 200, 1),
                    op("b", 2100, 2600, 500, 0, 0), op("b", 2600, 3200, 600, 0, 1)],
            "setup": {"setup_s": 12.5}, "docs": 1000, "docs_wall_ms": 2000,
            "state_bytes": 2 * 1048576, "peak_old_gen_mb": 300.0, "driver_gc_ms": 40,
            "plans": {"7": {"analysis_ms": 3, "optimization_ms": 5, "planning_ms": 2,
                            "sort_aggregates": 1}},
            "traffic": {"read_share": 0.5}, "failed": 0,
        }

    def test_end_to_end(self):
        m, d = metrics.end_to_end(self.result())
        self.assertAlmostEqual(m["op_s_p50"], 0.8)
        self.assertAlmostEqual(m["ops_per_s"], 4 / 3.2)
        self.assertAlmostEqual(m["docs_per_s"], 500)
        self.assertAlmostEqual(m["read_s_p50"], 0.7)
        self.assertAlmostEqual(m["write_s_p50"], 0.2)
        self.assertAlmostEqual(m["state_mb"], 2.0)
        self.assertEqual(d["op_samples"], 4)

    def test_overhead_is_median_over_op_names(self):
        # a: traced 1100 vs 1000; b: traced 600 vs 500
        self.assertAlmostEqual(metrics.overhead_ms(self.result()), 100.0)
        # a cold untraced run of c does not pull the overhead negative
        res = self.result()
        res["ops"] += [
            {"name": "c", "start": 0, "end": 9000, "read_ms": 0, "write_ms": 9000,
             "ok": True, "attrs": {"traced": 0}},
            {"name": "c", "start": 0, "end": 3000, "read_ms": 0, "write_ms": 3000,
             "ok": True, "attrs": {"traced": 1}}]
        self.assertAlmostEqual(metrics.overhead_ms(res), 100.0)

    def test_per_layer_from_spans(self):
        spans = [
            {"id": 7, "parent": 0, "trace": 7, "name": "op a", "kind": "op",
             "start": 1000, "end": 2100, "attrs": {}},
            {"id": 8, "parent": 7, "trace": 7, "name": "queries.build", "kind": "call",
             "start": 1000, "end": 1100, "attrs": {}},
            {"id": 1 << 40, "parent": 7, "trace": 7, "name": "job collect at Relational.scala:1",
             "kind": "job", "start": 1200, "end": 1800, "attrs": {}},
            {"id": 1 << 50, "parent": 1 << 40, "trace": 7, "name": "stage x", "kind": "stage",
             "start": 1250, "end": 1750, "attrs": {"tasks": 4, "run_ms": 1600, "cpu_ms": 1500,
                                                   "gc_ms": 10, "delay_ms": 20,
                                                   "shuffle_read_b": 1048576}},
        ]
        m, d = metrics.per_layer(self.result(), spans, cores=4)
        self.assertAlmostEqual(m["driver.self_ms"], 1100 - 600)
        self.assertEqual(m["scheduler.jobs"], 1)
        self.assertEqual(m["scheduler.tasks"], 4)
        self.assertAlmostEqual(m["executor.busy_share"], 1600 / (1100 * 4))
        self.assertAlmostEqual(m["shuffle.read_mb"], 1.0)
        self.assertEqual(m["queries.build_ms"], 100)
        self.assertEqual(m["driver.optimization_ms"], 5)
        self.assertEqual(m["plan.sort_aggregates"], 1)
        self.assertEqual(d["site.jobs.Relational"], 1)
        self.assertAlmostEqual(d["self_ms.job"], 100)
        self.assertTrue(set(metrics.PER_LAYER) <= set(m))


def built_classpath():
    cp = os.path.join(os.path.dirname(PB), ".bench_build", "perfbench", "classpath")
    return open(cp).read().strip() if os.path.exists(cp) else None


@unittest.skipIf(built_classpath() is None, "harness not built (run perfbench/run.py once)")
class GeneratorDeterminism(unittest.TestCase):
    """Same seed -> identical inputs (by fingerprint); another seed -> different."""

    def fingerprints(self, seed):
        with tempfile.TemporaryDirectory() as d:
            cmd = ["java", "-Xmx2g", "--add-opens", "java.base/sun.nio.ch=ALL-UNNAMED",
                   "--add-opens", "java.base/java.nio=ALL-UNNAMED",
                   "--add-opens", "java.base/java.lang.invoke=ALL-UNNAMED",
                   "--add-opens", "java.base/java.util=ALL-UNNAMED",
                   f"-Djava.io.tmpdir={d}", "-cp", built_classpath(),
                   "perfbench.GenCheck", d, str(seed)]
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
            self.assertEqual(out.returncode, 0, out.stderr[-2000:])
            return json.loads(out.stdout.strip().splitlines()[-1])

    def test_seeded(self):
        a, b, c = self.fingerprints(1), self.fingerprints(1), self.fingerprints(2)
        self.assertEqual(a, b)
        fixed = {"warehouse.region", "warehouse.nation"}  # seed-free dimension tables
        for k in set(a) - fixed:
            self.assertNotEqual(a[k], c[k], k)


if __name__ == "__main__":
    unittest.main()
