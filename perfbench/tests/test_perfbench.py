"""Self-tests for the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
from gentree import Fn, Module, Tree, block_id  # noqa: E402


def tree_files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def same_tree(a, b):
    files = tree_files(a)
    if files != tree_files(b):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    return not mismatch and not errors


class GeneratorTest(unittest.TestCase):

    def write(self, seed, root):
        return Tree(seed, files=12, fns_per_file=5).write(root)

    def test_same_seed_gives_identical_tree(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertEqual(self.write(7, a), self.write(7, b))
            self.assertTrue(same_tree(a, b))

    def test_different_seed_gives_different_tree(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.write(7, a)
            self.write(8, b)
            self.assertFalse(same_tree(a, b))

    def test_edits_replay_from_the_seed(self):
        t1, t2 = Tree(3, 12, 5), Tree(3, 12, 5)
        self.assertEqual([t1.edit()[1:] for _ in range(5)],
                         [t2.edit()[1:] for _ in range(5)])
        self.assertEqual(t1.render(t1.modules[4]), t2.render(t2.modules[4]))


def tiny_tree():
    """Two modules, checked by hand below:

    src/gen/p00/Mod0000.scala           src/gen/p00/Mod0001.scala
     3 object Mod0000 {                  3 import gen.p00.Mod0000
     5   def fa(x: Int): Int = {         5 object Mod0001 {
     7     fb(y)                         6   val LIMIT_X = 1
     8   }                               8   def fc(x: Int): Int = {
    10   def fb(x: Int): Int = {        10     fa(y) + fb(y) + nosuch(y)
    13   }                              11   }
    14 }                                12 }
    """
    t = Tree.__new__(Tree)
    m0, m1 = Module(0, 4), Module(1, 4)
    m0.fns = [Fn("fa", ["fb"]), Fn("fb", [])]
    m1.imports, m1.consts = [0], ["LIMIT_X"]
    m1.fns = [Fn("fc", ["fa", "fb", "nosuch"])]
    t.modules = [m0, m1]
    return t


class OracleTest(unittest.TestCase):

    def setUp(self):
        self.model = tiny_tree().model("ws")
        p0, p1 = "src/gen/p00/Mod0000.scala", "src/gen/p00/Mod0001.scala"
        self.uid = {"fa": p0 + ":Mod0000:fa", "fb": p0 + ":Mod0000:fb",
                    "fc": p1 + ":Mod0001:fc", "M0": p0 + ":Mod0000",
                    "M1": p1 + ":Mod0001", "imp": p1 + ":import:Mod0000",
                    "lim": p1 + ":Mod0001:LIMIT_X"}
        self.id = {k: block_id("ws", v) for k, v in self.uid.items()}

    def test_units_and_lines(self):
        u = self.model.units
        self.assertEqual(sorted(u), sorted(self.uid.values()))
        self.assertEqual(u[self.uid["fa"]][4:], (5, 8))
        self.assertEqual(u[self.uid["fb"]][4:], (10, 13))
        self.assertEqual(u[self.uid["M0"]][4:], (3, 14))
        self.assertEqual(u[self.uid["imp"]][4:], (3, 3))
        self.assertEqual(u[self.uid["lim"]][4:], (6, 6))
        self.assertEqual(u[self.uid["fc"]][4:], (8, 11))

    def test_edges_resolve_and_drop_unknown_targets(self):
        e = {(s, d, t) for s, d, t in self.model.edges}
        U = self.uid
        self.assertEqual(e, {
            (U["fa"], U["fb"], "calls"), (U["fc"], U["fa"], "calls"),
            (U["fc"], U["fb"], "calls"), (U["fa"], U["M0"], "method_of"),
            (U["fb"], U["M0"], "method_of"), (U["fc"], U["M1"], "method_of"),
            (U["imp"], U["M0"], "imports")})
        self.assertEqual(self.model.status(), (7, 7))

    def test_find(self):
        self.assertEqual(self.model.find("function", "fb"), [(
            self.id["fb"], self.uid["fb"],
            "file://src/gen/p00/Mod0000.scala#L10-L13")])
        self.assertEqual(self.model.find("const", "LIMIT_X")[0][1], self.uid["lim"])
        self.assertEqual(self.model.find("function", "nosuch"), [])

    def test_show(self):
        i = self.id
        self.assertEqual(self.model.show("callers", "fb", 2),
                         [(i["fb"], 0)] + sorted([(i["fa"], 1), (i["fc"], 1)]))
        self.assertEqual(self.model.show("callees", "fc", 1),
                         [(i["fc"], 0)] + sorted(
                             [(i["fa"], 1), (i["fb"], 1), (i["M1"], 1)]))
        # the import unit's id ends in the imported name, so it seeds too
        self.assertEqual(self.model.show("imports", "Mod0000", 3),
                         sorted([(i["M0"], 0), (i["imp"], 0)]))

    def test_trace_paths(self):
        i = self.id
        self.assertEqual(self.model.trace("callers", "fb", 3), [
            (i["fb"], 0, [i["fb"]])] + sorted(
                [(i["fa"], 1, [i["fb"], i["fa"]]), (i["fc"], 1, [i["fb"], i["fc"]])]))
        deep = self.model.trace("callees", "fc", 2)
        self.assertIn((i["fb"], 1, [i["fc"], i["fb"]]), deep)
        self.assertIn((i["M0"], 2, min([i["fc"], i["fa"], i["M0"]],
                                        [i["fc"], i["fb"], i["M0"]])), deep)


class PercentileTest(unittest.TestCase):

    def test_linear_interpolation(self):
        self.assertEqual(run.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertAlmostEqual(run.percentile(list(range(1, 11)), 90), 9.1)
        self.assertEqual(run.percentile([7], 90), 7)
        self.assertEqual(run.percentile([1, 2, 3], 0), 1)
        self.assertEqual(run.percentile([1, 2, 3], 100), 3)

    def test_median_of_odd_and_even(self):
        self.assertEqual(run.median([3, 1, 2]), 2)
        self.assertEqual(run.median([1, 2, 3, 10]), 2.5)


if __name__ == "__main__":
    unittest.main()
