"""Tests of the seeded input generators: python3 perfbench/test_gen.py"""
import collections
import hashlib
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):

    def write(self, fn, seed, **kw):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        stats = fn(d, seed, **kw)
        return d, stats

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def test_suite_same_seed_same_bytes_other_seed_differs(self):
        a, _ = self.write(gen.suite_tables, 7, sf=0.01)
        b, _ = self.write(gen.suite_tables, 7, sf=0.01)
        c, _ = self.write(gen.suite_tables, 8, sf=0.01)
        self.assertEqual(digest(a), digest(b))
        self.assertNotEqual(digest(a), digest(c))

    def test_hotspot_same_seed_same_bytes_other_seed_differs(self):
        a, _ = self.write(gen.hotspot_docs, 7, n_docs=5000)
        b, _ = self.write(gen.hotspot_docs, 7, n_docs=5000)
        c, _ = self.write(gen.hotspot_docs, 8, n_docs=5000)
        self.assertEqual(digest(a), digest(b))
        self.assertNotEqual(digest(a), digest(c))

    def test_hotspot_doc_ids_unique(self):
        d, stats = self.write(gen.hotspot_docs, 3, n_docs=20000)
        ids = pq.read_table(os.path.join(d, "documents.parquet")).column("doc_id").to_pylist()
        self.assertEqual(len(ids), len(set(ids)))
        self.assertEqual(len(ids), stats["documents"]["rows"])

    def test_top_level12_cell_holds_intended_share(self):
        n = 20000
        d, stats = self.write(gen.hotspot_docs, 11, n_docs=n, hot_share=0.3, n_hot=4)
        ids = pq.read_table(os.path.join(d, "documents.parquet")).column("doc_id").to_pylist()
        cells = collections.Counter(gen.level12_cell(*gen.doc_point(i)) for i in ids)
        top = [c / n for _, c in cells.most_common(4)]
        want = gen.zipf_shares(0.3, 4)
        # each hot residue owns its own cell; the uniform background adds
        # well under 1% of the docs to any one cell
        for got, exp in zip(top, want):
            self.assertGreaterEqual(got, exp - 1.0 / n)
            self.assertLess(got, exp + 0.01)
        self.assertAlmostEqual(stats["top_share"], want[0], delta=1.0 / n)


if __name__ == "__main__":
    unittest.main()
