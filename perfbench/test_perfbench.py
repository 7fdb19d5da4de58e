#!/usr/bin/env python3
"""Tests of the benchmark itself: the seeded input generator, the
percentile rule behind the end-to-end metrics, the result summary's
failure counting, and the result digest.

    python3 perfbench/test_perfbench.py
"""
import hashlib
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import gen  # noqa: E402
from run import percentile, summarize  # noqa: E402


def sha(path):
    """Hash of a file's bytes, or of a directory's relative names and bytes."""
    root = Path(path)
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")) if root.is_dir() else [root]:
        if p.is_file():
            h.update(p.relative_to(root).as_posix().encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_corpus(self):
        with tempfile.TemporaryDirectory() as d:
            gen.corpus(f"{d}/a.parquet", 7)
            gen.corpus(f"{d}/b.parquet", 7)
            self.assertEqual(sha(f"{d}/a.parquet"), sha(f"{d}/b.parquet"))

    def test_other_seed_gives_other_corpus(self):
        with tempfile.TemporaryDirectory() as d:
            gen.corpus(f"{d}/a.parquet", 7)
            gen.corpus(f"{d}/b.parquet", 8)
            self.assertNotEqual(sha(f"{d}/a.parquet"), sha(f"{d}/b.parquet"))

    def test_corpus_copies_are_key_shifted_and_edited(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.corpus(f"{d}/c.parquet", 3, base_docs=50, copies=10)
            t = pq.read_table(f"{d}/c.parquet").to_pydict()
        by_id = dict(zip(t["doc_id"], t["text"]))
        self.assertEqual(len(by_id), 500)
        edited = sum(by_id[i] != by_id[9 * gen.COPY_KEY_SHIFT + i] for i in range(50))
        self.assertGreater(edited, 40)
        self.assertTrue(any("@" in by_id[i] for i in range(50)))

    def test_tables_are_deterministic(self):
        with tempfile.TemporaryDirectory() as d:
            gen.tables(f"{d}/a")
            gen.tables(f"{d}/b")
            self.assertEqual(sha(f"{d}/a"), sha(f"{d}/b"))
            names = sorted(p.stem for p in Path(f"{d}/a").glob("*.parquet"))
        self.assertEqual(names, sorted("region nation customer supplier part orders lineitem "
                                       "events documents embeddings".split()))


class PercentileTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(percentile([3, 1, 2], 50), 2)
        self.assertEqual(percentile([4, 1, 3, 2], 50), 2.5)

    def test_linear_interpolation_matches_numpy(self):
        import numpy as np
        xs = [0.31, 0.12, 0.77, 0.45, 1.9, 0.2, 0.66, 0.05, 0.5, 0.41, 0.33]
        for q in (0, 10, 50, 85, 99, 100):
            self.assertAlmostEqual(percentile(xs, q), float(np.percentile(xs, q)))

    def test_p85_of_100_samples_leaves_15_beyond(self):
        xs = list(range(100))
        p = percentile(xs, 85)
        self.assertEqual(sum(x > p for x in xs), 15)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            percentile([], 50)


class SummaryTest(unittest.TestCase):
    SPEC = {"per_layer": [{"name": "exec.jobs", "unit": "count"}, {"name": "exec.spill_bytes", "unit": "bytes"}],
            "end_to_end": []}

    def result(self, **kw):
        res = {"failures": [], "phase_s": {}, "digests": {"q1": "d1", "q2": "d2"}}
        res.update(kw)
        return res

    def test_missing_per_layer_metric_is_a_failure_not_a_zero(self):
        metrics, failures = summarize(self.result(per_layer={"exec.jobs": 3.0}), self.SPEC,
                                      {"q1": "d1", "q2": "d2"}, trace=True)
        self.assertEqual(metrics, {"exec.jobs": {"value": 3.0, "unit": "count"}})
        self.assertEqual(failures, ["metric exec.spill_bytes: not measured"])

    def test_measured_zero_is_reported(self):
        metrics, failures = summarize(
            self.result(per_layer={"exec.jobs": 3.0, "exec.spill_bytes": 0.0}), self.SPEC,
            {"q1": "d1", "q2": "d2"}, trace=True)
        self.assertEqual(metrics["exec.spill_bytes"]["value"], 0.0)
        self.assertEqual(failures, [])

    def test_wrong_or_missing_digest_is_a_failure(self):
        _, failures = summarize(self.result(per_layer={"exec.jobs": 1.0, "exec.spill_bytes": 0.0}),
                                self.SPEC, {"q1": "other", "q2": "d2", "q3": "d3"}, trace=True)
        self.assertEqual(failures, ["q1: result digest d1 != expected other", "q3: no result"])


class DigestTest(unittest.TestCase):
    def test_digest_is_order_insensitive_and_value_sensitive(self):
        classes = build.build(HERE.parent)
        opens = ["--add-opens", "java.base/sun.nio.ch=ALL-UNNAMED"]
        done = subprocess.run(["java", *opens, "-cp", f"{classes}:{build.spark_jars()}/*",
                               "graft.perfbench.DigestSelfTest"],
                              capture_output=True, text=True, env=dict(os.environ))
        self.assertEqual(done.returncode, 0, done.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
