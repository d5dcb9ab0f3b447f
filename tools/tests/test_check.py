"""Unit tests of tools/check.py's result canonicalization and its
per-name report.

    python3 -m unittest discover -s tools/tests
"""

import contextlib
import io
import json
import math
import sys
import tempfile
import unittest
from pathlib import Path
from unittest import mock

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import check  # noqa: E402
import duckdb  # noqa: E402


class Canon(unittest.TestCase):

    def test_columns_sort_by_name_and_rows_follow(self):
        cols, rows = check.canon([(1, "x"), (0, "y")], ["b", "a"])
        self.assertEqual(cols, ["a", "b"])
        self.assertEqual(rows, [("x", 1), ("y", 0)])

    def test_doubles_round_to_nine_decimals(self):
        _, a = check.canon([(0.1 + 0.2,)], ["v"])
        _, b = check.canon([(0.3,)], ["v"])
        self.assertEqual(a, b)
        _, c = check.canon([(0.3 + 2e-9,)], ["v"])
        self.assertNotEqual(a, c)

    def test_negative_zero_is_zero(self):
        _, rows = check.canon([(-0.0,), (-1e-12,)], ["v"])
        self.assertEqual(rows, [(0.0,), (0.0,)])
        self.assertEqual([math.copysign(1.0, r[0]) for r in rows], [1.0, 1.0])

    def test_nan_compares_equal_to_nan(self):
        _, a = check.canon([(float("nan"), 1)], ["v", "k"])
        _, b = check.canon([(float("nan"), 1)], ["v", "k"])
        self.assertEqual(a, b)
        self.assertEqual(a, [(1, "NaN")])

    def test_nulls_sort_last(self):
        _, rows = check.canon([(None,), (2,), (1,)], ["v"])
        self.assertEqual(rows, [(1,), (2,), (None,)])


class Report(unittest.TestCase):

    def test_unknown_name_is_a_fail_row(self):
        with tempfile.TemporaryDirectory() as tmp:
            sf, out = Path(tmp, "sf"), Path(tmp, "out")
            sf.mkdir()
            (out / "q_one").mkdir(parents=True)
            con = duckdb.connect()
            for t in check.TABLES:
                con.execute(f"COPY (SELECT 1 AS x) TO '{sf}/{t}.parquet' (FORMAT PARQUET)")
            con.execute(f"COPY (SELECT 1 AS x) TO '{out}/q_one/part.parquet' (FORMAT PARQUET)")
            (out / "oracle_sql.json").write_text(json.dumps({"q_one": "SELECT 1 AS x"}))
            args = ["--no-verify", "q_one", "g75_typo"]
            printed = io.StringIO()
            with mock.patch.multiple(check, SF=str(sf), OUT=str(out), ARGS=args,
                                     ONLY=["q_one", "g75_typo"]), \
                    contextlib.redirect_stdout(printed), \
                    self.assertRaises(SystemExit) as exit_:
                check.main()
        self.assertEqual(exit_.exception.code, 1)
        self.assertEqual(printed.getvalue().splitlines(), [
            "PASS q_one (1 rows)",
            "FAIL g75_typo: not in oracle",
            "== 1 pass / 1 fail =="])


if __name__ == "__main__":
    unittest.main()
