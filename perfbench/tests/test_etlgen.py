"""The etl_load generator is a pure function of its seed."""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import etlgen  # noqa: E402


def tree_hash(root):
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class EtlGenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for name, seed in (("a", 11), ("b", 11), ("c", 12)):
            d = os.path.join(cls.tmp.name, name)
            etlgen.generate(seed, d)
            cls.dirs[name] = d

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_inputs(self):
        self.assertEqual(tree_hash(self.dirs["a"]), tree_hash(self.dirs["b"]))

    def test_other_seed_other_inputs(self):
        for part in ("d1/crime.csv", "d2/immigration.csv", "cdc/crime.csv",
                     "truth/fact_crime.jsonl"):
            with open(os.path.join(self.dirs["a"], part), "rb") as f:
                a = f.read()
            with open(os.path.join(self.dirs["c"], part), "rb") as f:
                c = f.read()
            self.assertNotEqual(a, c, part)

    def test_truth_matches_expected_counts(self):
        d = self.dirs["a"]
        with open(os.path.join(d, "expected.json")) as f:
            exp = json.load(f)
        for table in ("dim_country", "fact_population", "fact_crime",
                      "fact_immigration"):
            with open(os.path.join(d, "truth", table + ".jsonl")) as f:
                rows = [json.loads(line) for line in f]
            self.assertEqual(len(rows), exp["table." + table], table)
            keys = [(r["country_iso3_id"], r.get("year_id")) for r in rows]
            self.assertEqual(len(keys), len(set(keys)), table)

    def test_facts_reference_the_country_dimension(self):
        d = self.dirs["a"]
        with open(os.path.join(d, "truth", "dim_country.jsonl")) as f:
            dim = {json.loads(line)["country_iso3_id"] for line in f}
        for table in ("fact_population", "fact_crime", "fact_immigration"):
            with open(os.path.join(d, "truth", table + ".jsonl")) as f:
                codes = {json.loads(line)["country_iso3_id"] for line in f}
            self.assertTrue(codes <= dim, table)

    def test_half_even_matches_spark_bround(self):
        self.assertEqual(etlgen.half_even(110.125, 2), 110.12)
        self.assertEqual(etlgen.half_even(46999999.5, 0), 47000000.0)
        self.assertEqual(etlgen.half_even(46999998.5, 0), 46999998.0)
        self.assertEqual(etlgen.half_even(123.456, 2), 123.46)


if __name__ == "__main__":
    unittest.main()
