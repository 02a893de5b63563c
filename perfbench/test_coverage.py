#!/usr/bin/env python3
"""Coverage self-check of the benchmark's id tables.

    python3 perfbench/test_coverage.py

Every `Queries.all` id sits in exactly one of `olap` and `pipeline`; the
committed id -> module map in ids.tsv agrees with the modules each id's
source calls (modmap.py); the measured pass draws only on `pipeline` ids
(`olap` is classified but not run) and reaches every module; expected.tsv
has an expected output for every id.
"""
import json
import os
import re
import unittest

import modmap

HERE = os.path.dirname(os.path.abspath(__file__))


def _tsv(name):
    with open(os.path.join(HERE, name)) as f:
        return [l.rstrip("\n").split("\t") for l in f
                if l.strip() and not l.startswith("#")]


class Coverage(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.derived = modmap.module_map()
        cls.ids = modmap.read_ids()
        cls.rows = _tsv("ids.tsv")

    def test_every_id_in_exactly_one_workload(self):
        registry = [qid for qid, _ in self.derived]
        self.assertEqual(len(registry), len(set(registry)))
        listed = [r[0] for r in self.rows]
        self.assertEqual(sorted(listed), sorted(registry))
        for qid, (workload, _, _) in self.ids.items():
            self.assertIn(workload, ("olap", "pipeline"), qid)

    def test_module_map_matches_source(self):
        for qid, mods in self.derived:
            workload, listed, _ = self.ids[qid]
            self.assertEqual(listed, mods, qid)
            self.assertEqual(workload, "pipeline" if mods else "olap", qid)

    def test_measured_pass(self):
        measured = [q for q, (_, _, p) in self.ids.items() if p]
        for qid in measured:
            self.assertEqual(self.ids[qid][0], "pipeline", qid)
        covered = {m for q in measured for m in self.ids[q][1]}
        self.assertEqual(covered, set(modmap.MODULES))

    def test_expected_outputs(self):
        expected = {r[0]: r[1:] for r in _tsv("expected.tsv")}
        self.assertEqual(set(expected), set(self.ids))
        for key, (rows, digest) in expected.items():
            self.assertTrue(rows == "-" or rows.isdigit(), key)
            self.assertTrue(digest == "-" or re.fullmatch("[0-9a-f]{16}", digest), key)

    def test_metric_names_match(self):
        """The Scala runner's module list and per-layer names agree with
        modmap.py and BENCHMARK.json."""
        src = open(os.path.join(HERE, "src", "main", "scala", "graft", "perfbench",
                                "PerfBench.scala")).read()
        mods = re.search(r"val Modules: Seq\[String\] = Seq\(([^)]*)\)", src).group(1)
        self.assertEqual(re.findall(r'"(\w+)"', mods), modmap.MODULES)
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [m["name"] for m in spec["per_layer"]]
        layers = src[src.index("object Layers"):src.index("object PerfBench")]
        literal = set(re.findall(r'"([a-z_]+\.[a-z_0-9]+)"', layers))
        operators = {"operators.%s.%s" % (m, k) for m in modmap.MODULES + ["none"]
                     for k in ("wall_s", "cpu_s", "jobs")}
        self.assertEqual(set(names), literal | operators)


if __name__ == "__main__":
    unittest.main()
