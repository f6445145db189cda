"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench/tests"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import ingest_gen  # noqa: E402
import metrics  # noqa: E402


def tree_hash(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            path = os.path.join(d, f)
            h.update(os.path.relpath(path, root).encode())
            h.update(open(path, "rb").read())
    return h.hexdigest()


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 0.5), 50)
        self.assertEqual(metrics.percentile(xs, 0.9), 90)
        self.assertEqual(metrics.percentile([3.0], 0.9), 3.0)
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 0.5), 3)

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(metrics.supported_percentile(100), 0.9)
        self.assertEqual(metrics.supported_percentile(99), 0.75)
        self.assertEqual(metrics.supported_percentile(40), 0.75)
        self.assertEqual(metrics.supported_percentile(39), 0.5)
        self.assertEqual(metrics.supported_percentile(20), 0.5)
        self.assertIsNone(metrics.supported_percentile(19))


class EndToEndTest(unittest.TestCase):
    def test_pass_and_execution_statistics(self):
        def p(cold, walls, heap):
            return {"cold": cold, "wall_s": sum(walls), "heap_live_mb": heap,
                    "execs": [{"op": f"q{i}", "wall_s": w} for i, w in enumerate(walls)]}
        record = {"setup_s": 5.0, "passes": [
            p(True, [3.0, 2.0], 50.0), p(False, [1.0, 2.0], 60.0), p(False, [1.5, 2.5], 55.0),
            p(False, [1.0, 3.0], 58.0)]}
        m = {k: v for k, (v, _) in metrics.end_to_end(record).items()}
        self.assertEqual(m["cold_batch_s"], 5.0)
        self.assertEqual(m["warm_batch_s"], 4.0)
        self.assertEqual(m["warm_min_s"], 1.0 + 2.0)
        self.assertEqual(m["query_p50_s"], 1.5)
        self.assertEqual(m["query_p90_s"], 3.0)
        self.assertEqual(m["heap_live_peak_mb"], 60.0)


class SelfTimeTest(unittest.TestCase):
    def span(self, id, parent, start, end):
        return {"id": id, "parent": parent, "start_s": start, "end_s": end}

    def test_overlapping_children_count_once(self):
        spans = [self.span(0, -1, 0.0, 10.0), self.span(1, 0, 1.0, 4.0),
                 self.span(2, 0, 3.0, 6.0), self.span(3, 0, 8.0, 9.0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 5.0 - 1.0)
        self.assertAlmostEqual(st[1], 3.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(0, -1, 2.0, 5.0), self.span(1, 0, 1.0, 3.0), self.span(2, 0, 4.0, 7.0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 3.0 - 1.0 - 1.0)

    def test_nested_grandchildren_do_not_count_against_grandparent(self):
        spans = [self.span(0, -1, 0.0, 4.0), self.span(1, 0, 1.0, 3.0), self.span(2, 1, 1.5, 2.5)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 2.0)
        self.assertAlmostEqual(st[1], 1.0)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            t1 = ingest_gen.generate(7, os.path.join(d, "a"))
            t2 = ingest_gen.generate(7, os.path.join(d, "b"))
            t3 = ingest_gen.generate(8, os.path.join(d, "c"))
            self.assertEqual(tree_hash(os.path.join(d, "a")), tree_hash(os.path.join(d, "b")))
            self.assertEqual(t1, t2)
            self.assertNotEqual(tree_hash(os.path.join(d, "a")), tree_hash(os.path.join(d, "c")))
            self.assertNotEqual(t1["soccer.standings"], t3["soccer.standings"])

    def test_corpus_holds_the_reference_dirt(self):
        with tempfile.TemporaryDirectory() as d:
            truth = ingest_gen.generate(3, d)
            names = [f for _, _, fs in os.walk(os.path.join(d, "repo")) for f in fs]
            texts = [open(os.path.join(r, f)).read() for r, _, fs in os.walk(os.path.join(d, "repo"))
                     for f in fs]
            self.assertTrue(any(".10.json" in n for n in names))
            self.assertTrue(any('"rounds"' in t for t in texts))
            self.assertTrue(any('"matches"' in t for t in texts))
            self.assertNotIn("corrupt=0;", truth["soccer.run"])
            self.assertNotIn("missing=0", truth["soccer.run"])
            self.assertTrue(os.path.getsize(os.path.join(d, "aliases.tsv")) > 0)


if __name__ == "__main__":
    unittest.main()
