"""The input generators are pure functions of the seed.

    python3 perfbench/test_gen.py

Same seed: byte-identical files. Different seed: different files. Also
pins the properties the workloads rely on: fics.json covers most
(bank, fund) pairs, about 2% of fecha_corte values fall outside the
folder month, and the planted drop shares are recorded.
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def three(self, fn, **kw):
        paths = [os.path.join(self.tmp.name, f"{fn.__name__}{i}") for i in range(3)]
        for p, seed in zip(paths, (7, 7, 8)):
            fn(p, seed, **kw)
        return [digest(p) for p in paths], paths

    def test_fic_etl(self):
        (a, b, c), paths = self.three(gen.fic_etl, docs=400)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        with open(os.path.join(paths[0], "expected.json")) as f:
            exp = json.load(f)
        jul, aug = exp["months"]["json_raw_2025_07"], exp["months"]["json_raw_2025_08"]
        self.assertGreater(exp["lookup_pairs"], 0.7 * exp["funds"])
        off = (jul["skipped"] + aug["skipped"]) / exp["docs_total"]
        self.assertTrue(0.002 < off < 0.06, off)
        self.assertGreater(aug["replaced"], 0.35 * jul["docs"])

    def test_drop_epochs(self):
        (a, b, c), paths = self.three(gen.drop_epochs, drops=3, per_drop=200)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        with open(os.path.join(paths[0], "planted.json")) as f:
            planted = json.load(f)
        self.assertEqual(planted["docs_per_drop"], 200)
        self.assertGreater(planted["planted_near_dups"], 0)
        self.assertGreater(planted["planted_spans"], 0)

    def test_corpus(self):
        (a, b, c), _ = self.three(gen.corpus, scale=0.1)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
