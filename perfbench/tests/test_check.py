"""Output checks, with negative controls: one corrupted value flips each."""
import json
import os
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen    # noqa: E402

ROOT = os.path.dirname(HERE)


class OccupancyTest(unittest.TestCase):
    def test_equal_counts_pass_and_one_corrupted_value_fails(self):
        rows = gen.capture_rows(20_000, 8_000, 9)
        want = check.expected_occupancy(rows)
        self.assertEqual(sum(want.values()), 20_000)
        observed = [[f, c, n] for (f, c), n in sorted(want.items())]
        self.assertIsNone(check.occupancy(observed, want))
        bad = dict(want)
        k = next(iter(bad))
        bad[k] += 1
        self.assertIn(str(k), check.occupancy(observed, bad))
        self.assertIsNotNone(check.occupancy(observed[1:], want))


@unittest.skipUnless(os.path.isfile(os.path.join(ROOT, "tools", "local_check.py")),
                     "needs the engine checkout's tools/local_check.py")
class OracleTest(unittest.TestCase):
    SQL = ("SELECT n_regionkey, count(*) AS n FROM nation "
           "GROUP BY n_regionkey ORDER BY n_regionkey")

    def run_check(self, corrupt):
        with tempfile.TemporaryDirectory() as d:
            data, dump = os.path.join(d, "data"), os.path.join(d, "dump")
            gen.tables(data, 0.001, 1)
            os.makedirs(os.path.join(dump, "q_demo"))
            os.makedirs(os.path.join(dump, "q_rows"))
            con = duckdb.connect()
            con.sql(f"CREATE VIEW nation AS SELECT * FROM '{data}/nation.parquet'")
            edit = " + 1" if corrupt else ""
            con.sql(f"COPY (SELECT n_regionkey, n{edit} AS n FROM ({self.SQL})) "
                    f"TO '{dump}/q_demo/part-0.parquet' (FORMAT parquet)")
            con.sql(f"COPY (SELECT * FROM nation) "
                    f"TO '{dump}/q_rows/part-0.parquet' (FORMAT parquet)")
            with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
                json.dump({"q_demo": self.SQL}, f)
            return check.batch_outputs(ROOT, data, dump,
                                       ["q_demo", "q_rows"], {"q_rows": 25})

    def test_oracle_match_passes(self):
        self.assertEqual(self.run_check(False), {"q_demo": None, "q_rows": None})

    def test_one_corrupted_value_fails(self):
        v = self.run_check(True)
        self.assertIsNotNone(v["q_demo"])
        self.assertIsNone(v["q_rows"])


if __name__ == "__main__":
    unittest.main()
