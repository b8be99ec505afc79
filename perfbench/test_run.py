"""Self-test of the result accounting in run.py: wrong view or registry
answers add to the JVM's failed operations, and a missing metric is an error.

    python3 -m unittest perfbench/test_run.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class AccountingTest(unittest.TestCase):
    def jvm(self, attempted, failed):
        return {"attempted": attempted, "failed": failed,
                "metrics": {"a": {"value": 1.5, "unit": "s"}, "b": {"value": 2, "unit": "ms"}}}

    def test_clean_run_is_correct(self):
        r = run.account(self.jvm(10, 0), 0, ["a"])
        self.assertEqual(r, {"correct": True, "attempted": 10, "failed": 0,
                             "metrics": {"a": {"value": 1.5, "unit": "s"}}})

    def test_wrong_answers_count_as_failed(self):
        r = run.account(self.jvm(10, 1), 2, ["a", "b"])
        self.assertFalse(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (10, 3))

    def test_nothing_attempted_is_not_correct(self):
        r = run.account(self.jvm(0, 0), 0, ["a"])
        self.assertFalse(r["correct"])
        self.assertEqual(r["attempted"], 1)

    def test_missing_metric_is_an_error(self):
        with self.assertRaises(RuntimeError):
            run.account(self.jvm(1, 0), 0, ["a", "missing"])

    def test_answer_comparison(self):
        self.assertTrue(run.answer_matches([("x", "1"), ("y", "2")], [["y", 2], ["x", 1]], ordered=False))
        self.assertFalse(run.answer_matches([("x", "1"), ("y", "2")], [["y", 2], ["x", 1]], ordered=True))
        self.assertFalse(run.answer_matches([("x", "1")], [["x", 1], ["x", 1]], ordered=False))
        self.assertTrue(run.answer_matches([(None, "3")], [[None, 3]], ordered=True))

    def test_registry_answers_compare_as_sets_of_rows(self):
        import duckdb
        con = duckdb.connect()
        a = run.canonical(con, "SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(n, s)")
        b = run.canonical(con, "SELECT s, n FROM (VALUES (2, 'y'), (1, 'x')) t(n, s)")
        c = run.canonical(con, "SELECT * FROM (VALUES (1, 'x'), (2, 'z')) t(n, s)")
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
