import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import oracle  # noqa: E402


class OracleCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = Path(self.tmp.name)
        pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), self.dir / "region.parquet")
        self.con = oracle.connect(self.dir)
        self.sql = "SELECT k, v FROM region"

    def tearDown(self):
        self.tmp.cleanup()

    def result(self, table):
        d = self.dir / "result"
        d.mkdir(exist_ok=True)
        pq.write_table(table, d / "part-0.parquet")
        return d

    def test_equal_rows_in_any_order_and_column_order_pass(self):
        d = self.result(pa.table({"v": ["c", "a", "b"], "k": [3, 1, 2]}))
        self.assertIsNone(oracle.check(self.con, self.sql, d))

    def test_wrong_row_is_rejected(self):
        d = self.result(pa.table({"k": [1, 2, 3], "v": ["a", "b", "x"]}))
        self.assertIn("value mismatch", oracle.check(self.con, self.sql, d))

    def test_missing_row_is_rejected(self):
        d = self.result(pa.table({"k": [1, 2], "v": ["a", "b"]}))
        self.assertIn("2 rows", oracle.check(self.con, self.sql, d))

    def test_wrong_columns_are_rejected(self):
        d = self.result(pa.table({"k": [1, 2, 3], "w": ["a", "b", "c"]}))
        self.assertIn("columns", oracle.check(self.con, self.sql, d))


if __name__ == "__main__":
    unittest.main()
