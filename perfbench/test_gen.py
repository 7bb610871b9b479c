"""Generator determinism: same seed, same content; another seed, other content.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest
from unittest import mock

import gen

SMALL = {
    "dna": {"genome_bases": 2_000, "files": 3, "sub_rate": 0.01},
    "zipf": {"docs": 60, "vocab": 500, "zipf_s": 1.0, "min_words": 5, "max_words": 20,
             "chains": 4, "chain_len": 3, "edit_frac": 0.1},
    "loops": {"docs": 40, "vocab": 300, "zipf_s": 1.0, "min_words": 5, "max_words": 20,
              "chains": 3, "chain_len": 3, "edit_frac": 0.1, "orders": 50, "parts": 30,
              "max_lines": 6, "part_zipf_s": 0.8},
}


class GeneratorDeterminism(unittest.TestCase):
    def generate(self, family, seed):
        with tempfile.TemporaryDirectory() as root:
            out, meta = gen.ensure(root, family, seed)
            self.assertTrue(os.path.exists(os.path.join(out, "meta.json")))
            return meta

    def test_same_seed_same_digest_other_seed_other_digest(self):
        with mock.patch.dict(gen.FAMILIES, SMALL):
            for family in SMALL:
                with self.subTest(family=family):
                    a = self.generate(family, 7)
                    b = self.generate(family, 7)
                    c = self.generate(family, 8)
                    self.assertEqual(a["content_digest"], b["content_digest"])
                    self.assertNotEqual(a["content_digest"], c["content_digest"])
                    self.assertEqual(a["rows"], SMALL[family].get("docs", SMALL[family].get("files")))

    def test_reuses_a_finished_directory(self):
        with mock.patch.dict(gen.FAMILIES, SMALL), tempfile.TemporaryDirectory() as root:
            out, meta = gen.ensure(root, "dna", 3)
            again, meta2 = gen.ensure(root, "dna", 3)
            self.assertEqual(out, again)
            self.assertEqual(meta, meta2)


if __name__ == "__main__":
    unittest.main()
