"""Generator determinism: same seed -> byte-identical inputs, another
seed -> different inputs, for every workload."""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402


def files(d):
    return sorted(f for f in os.listdir(d) if f != "meta.json")


class GenTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        for w in sorted(gen.WORKLOADS):
            with self.subTest(workload=w), tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                gen.generate(w, 11, a)
                gen.generate(w, 11, b)
                gen.generate(w, 12, c)
                self.assertEqual(files(a), files(b))
                _, mismatch, errors = filecmp.cmpfiles(a, b, os.listdir(a), shallow=False)
                self.assertEqual((mismatch, errors), ([], []))
                _, mismatch, _ = filecmp.cmpfiles(a, c, files(a), shallow=False)
                self.assertTrue(mismatch, f"{w}: seed 12 gave the same files as seed 11")

    def test_curate_plants_the_stated_cluster(self):
        with tempfile.TemporaryDirectory() as t:
            meta = gen.generate("curate", 3, t)
            self.assertEqual(len(meta["hot_cluster_ids"]), gen.CURATE_HOT_CLUSTER)
            self.assertEqual(meta["docs"], gen.CURATE_DOCS)


if __name__ == "__main__":
    unittest.main()
