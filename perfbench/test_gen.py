"""Tests of the seeded input generators.

Run from the repository root: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import collections
import json
import os
import tempfile
import unittest

import gen


def tree(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


class GenTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        base = cls.tmp.name
        cls.a = tree(gen.generate(7, os.path.join(base, "a", "7")))
        cls.b = tree(gen.generate(7, os.path.join(base, "b", "7")))
        cls.c = tree(gen.generate(8, os.path.join(base, "c", "8")))
        cls.base = base

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_is_byte_identical(self):
        self.assertEqual(sorted(self.a), sorted(self.b))
        for k in self.a:
            self.assertEqual(self.a[k], self.b[k], k)

    def test_other_seed_differs(self):
        self.assertEqual(sorted(self.a), sorted(self.c))
        differ = [k for k in self.a if k != "DONE" and self.a[k] != self.c[k]]
        self.assertIn("tables/lineitem.parquet", differ)
        self.assertIn("corpus/documents.parquet", differ)
        self.assertIn("statements.jsonl", differ)

    def test_cached_by_seed(self):
        out = os.path.join(self.base, "a", "7")
        stamp = os.stat(os.path.join(out, "tables", "lineitem.parquet")).st_mtime_ns
        gen.generate(7, out)
        self.assertEqual(stamp, os.stat(os.path.join(out, "tables", "lineitem.parquet")).st_mtime_ns)

    def test_statement_mix(self):
        stmts = [json.loads(l) for l in self.a["statements.jsonl"].decode().splitlines()]
        names = [t[0] for t in gen._templates()]
        k = len(names)
        # every round holds each template once, so any stretch has the same mix
        for r in range(0, len(stmts), k):
            self.assertEqual(sorted(s["template"] for s in stmts[r:r + k]), sorted(names))
        repeats = sum(s["repeat"] for s in stmts) / len(stmts)
        self.assertGreater(repeats, 0.4)
        self.assertLess(repeats, 0.6)
        # a repeat is an exact earlier text of its template
        seen = collections.defaultdict(set)
        for s in stmts:
            if s["repeat"]:
                self.assertIn(s["bql"], seen[s["template"]])
            seen[s["template"]].add(s["bql"])

    def test_stream_manifest(self):
        manifest = json.loads(self.a["stream/files.json"])
        self.assertEqual(len(manifest), gen.STREAM_FILES)
        self.assertTrue(all(n in self.a for n in (f"stream/{f}" for f in manifest)))


if __name__ == "__main__":
    unittest.main()
