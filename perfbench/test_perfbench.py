"""Tests for the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import tempfile
import unittest
from unittest import mock

import gen
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


def tree_digest(d):
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(d)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.tpch = os.path.join(cls.tmp.name, "tpch")
        with mock.patch.object(gen, "TPCH_SF", 0.01):
            gen.tpch(cls.tpch)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def make(self, kind, seed, tag):
        out = os.path.join(self.tmp.name, f"{kind}-{seed}-{tag}")
        with mock.patch.object(gen, "REPLAY_STATEMENTS", 40), \
                mock.patch.object(gen, "CORPUS_DOCS", 600):
            if kind == "replay":
                gen.replay(out, seed, self.tpch)
            else:
                gen.corpus(out, seed)
        os.remove(os.path.join(out, "_DONE"))
        return out

    def check(self, kind):
        a, b, c = self.make(kind, 5, "a"), self.make(kind, 5, "b"), self.make(kind, 6, "a")
        self.assertEqual(tree_digest(a), tree_digest(b), "same seed, same inputs")
        self.assertNotEqual(tree_digest(a), tree_digest(c), "another seed, other inputs")

    def test_replay_log_is_a_function_of_the_seed(self):
        self.check("replay")

    def test_corpus_is_a_function_of_the_seed(self):
        self.check("corpus")

    def test_replay_template_mix_does_not_depend_on_the_seed(self):
        mixes = []
        for seed in (1, 2):
            out = self.make("replay", seed, "mix")
            mixes.append(json.load(open(os.path.join(out, "expected.json")))["templates"])
        self.assertEqual(mixes[0], mixes[1])
        self.assertEqual(len(set(mixes[0])), gen.N_TEMPLATES)

    def test_cached_inputs_are_reused(self):
        out = os.path.join(self.tmp.name, "cached")
        with mock.patch.object(gen, "CORPUS_DOCS", 300):
            gen.corpus(out, 1)
            shard = os.path.join(out, "docs.parquet", "part-0.parquet")
            before = os.path.getmtime(shard)
            gen.corpus(out, 1)
        self.assertEqual(before, os.path.getmtime(shard))


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 95), 95)
        self.assertEqual(metrics.percentile(xs, 100), 100)
        self.assertEqual(metrics.percentile([7], 95), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(10_000), 99.9)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(999), 95.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(199), 90.0)
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertIsNone(metrics.tail_percentile(19))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class FailedFraction(unittest.TestCase):
    def test_accounting(self):
        self.assertEqual(metrics.failed_frac(200, 0), 0.0)
        self.assertEqual(metrics.failed_frac(200, 5), 0.025)
        for attempted, failed in ((0, 0), (10, 11), (10, -1)):
            with self.assertRaises(ValueError):
                metrics.failed_frac(attempted, failed)

    def test_result_line_shape(self):
        line = metrics.result_line(True, 12, 0, {"wall_s": 1.5}, {"wall_s": "s"})
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(line["metrics"], {"wall_s": {"value": 1.5, "unit": "s"}})


class MetricNames(unittest.TestCase):
    def test_format(self):
        self.assertTrue(metrics.valid_name("pipeline.neardup.shuffle_write_mb"))
        for bad in ("", ".x", "a b", "a/b", "x" * 65, "lat(ms)"):
            self.assertFalse(metrics.valid_name(bad), bad)

    def test_declared_names_match_the_code(self):
        spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.assertEqual(e2e, metrics.END_TO_END)
        self.assertEqual(layer, metrics.PER_LAYER)
        for name in list(e2e) + list(layer) + [w["name"] for w in spec["workloads"]]:
            self.assertTrue(metrics.valid_name(name), name)


class Witnesses(unittest.TestCase):
    def test_differences_are_listed(self):
        ref = {"replay": {k: 1 for k in metrics.WITNESS_KEYS}}
        same = metrics.witness_diffs(ref, [ref, ref])
        self.assertEqual(same, [])
        moved = {"replay": dict(ref["replay"], tasks=2)}
        self.assertEqual(metrics.witness_diffs(ref, [moved]), ["pass 0: replay.tasks 1 != 2"])


if __name__ == "__main__":
    unittest.main()
