"""Unit tests for tools/plandiff.py.

    python3 -m unittest tools/test_plandiff.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from plandiff import differing, mask, split_dump  # noqa: E402

DUMP = """[info] running (fork) graft.Explain a b

===================== a =====================
== Physical Plan ==
(1) Scan ExistingRDD
Arguments: [event_type#49, n#55L], MapPartitionsRDD[6] at localCheckpoint at A.scala:39, ExistingRDD

===================== b =====================
== Physical Plan ==
Arguments: hashpartitioning(event_type#3, 4), ENSURE_REQUIREMENTS, [plan_id=56]

[success] Total time: 40 s
"""


class PlanDiffTest(unittest.TestCase):

    def test_split_keeps_each_query_and_drops_sbt_lines(self):
        plans = split_dump(DUMP)
        self.assertEqual(sorted(plans), ["a", "b"])
        self.assertEqual(plans["b"], [
            "== Physical Plan ==",
            "Arguments: hashpartitioning(event_type#3, 4), "
            "ENSURE_REQUIREMENTS, [plan_id=56]"])

    def test_mask_expression_plan_and_rdd_ids(self):
        self.assertEqual(mask("[event_type#49, n#55L]"), "[event_type#, n#]")
        self.assertEqual(mask("[plan_id=56]"), "[plan_id=]")
        self.assertEqual(
            mask("MapPartitionsRDD[6] at localCheckpoint at A.scala:39, x"),
            "MapPartitionsRDD[] at localCheckpoint, x")

    def test_renumbered_ids_are_no_difference(self):
        other = (DUMP.replace("#49", "#7").replace("#55L", "#8L")
                 .replace("[6]", "[12]").replace("A.scala:39", "B.scala:50")
                 .replace("plan_id=56", "plan_id=90"))
        self.assertEqual(differing(split_dump(DUMP), split_dump(other)), [])

    def test_changed_operator_and_missing_query_differ(self):
        before = split_dump(DUMP)
        after = split_dump(DUMP.replace("ENSURE_REQUIREMENTS",
                                        "REPARTITION_BY_COL"))
        del after["a"]
        names = [n for n, _ in differing(before, after)]
        self.assertEqual(names, ["a", "b"])
        diff = dict(differing(before, after))["b"]
        self.assertTrue(any(l.startswith("+") and "REPARTITION_BY_COL" in l
                            for l in diff))


if __name__ == "__main__":
    unittest.main()
