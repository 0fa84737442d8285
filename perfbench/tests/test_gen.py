"""The seeded input generators: same seed, same bytes; FIXTURES.md
section A domains; trigger share and orbit pacing as scheduled."""
import filecmp
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


class CaptureTest(unittest.TestCase):
    N, RATE = 50_000, 8_000

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def path(self, name):
        return os.path.join(self.tmp.name, name)

    def test_same_seed_same_bytes(self):
        gen.capture(self.path("a.csv"), self.N, self.RATE, 5)
        gen.capture(self.path("b.csv"), self.N, self.RATE, 5)
        gen.capture(self.path("c.csv"), self.N, self.RATE, 6)
        self.assertTrue(filecmp.cmp(self.path("a.csv"), self.path("b.csv"),
                                    shallow=False))
        self.assertFalse(filecmp.cmp(self.path("a.csv"), self.path("c.csv"),
                                     shallow=False))

    def test_header_and_rows_round_trip(self):
        rows = gen.capture(self.path("a.csv"), self.N, self.RATE, 5)
        with open(self.path("a.csv")) as f:
            self.assertEqual(f.readline().strip(), ",".join(gen.CAPTURE_COLS))
        back = np.loadtxt(self.path("a.csv"), delimiter=",", skiprows=1,
                          dtype=np.int64)
        np.testing.assert_array_equal(back, rows)

    def test_fields_stay_in_fixture_domains(self):
        head, fpga, chan, orbit, bx, tdc = gen.capture_rows(
            self.N, self.RATE, 5).T
        self.assertTrue((head == 2).all())
        self.assertEqual(set(np.unique(fpga)), {0, 1})
        wire = chan < 128
        self.assertTrue(((chan[wire] >= 1) & (chan[wire] <= 125)).all())
        self.assertTrue((chan[~wire] >= 128).all())
        self.assertTrue(((bx >= 0) & (bx <= 3563)).all())
        self.assertTrue(((tdc >= 1) & (tdc <= 30)).all())

    def test_trigger_share_matches_schedule(self):
        chan = gen.capture_rows(self.N, self.RATE, 5)[:, 2]
        share = (chan >= 128).mean()
        sd = (gen.TRIGGER_SHARE * (1 - gen.TRIGGER_SHARE) / self.N) ** 0.5
        self.assertLess(abs(share - gen.TRIGGER_SHARE), 5 * sd)

    def test_orbit_advances_at_wall_pace(self):
        orbit = gen.capture_rows(self.N, self.RATE, 5)[:, 3]
        self.assertEqual(orbit[0], gen.ORBIT0)
        self.assertTrue((np.diff(orbit) >= 0).all())
        # hit i is scheduled at i / rate seconds: its orbit is that time
        # in 88.9 us orbits
        i = np.arange(self.N)
        want = gen.ORBIT0 + np.floor(i / self.RATE / gen.ORBIT_S)
        np.testing.assert_array_equal(orbit, want.astype(np.int64))
        span_s = (orbit[-1] - orbit[0]) * gen.ORBIT_S
        self.assertAlmostEqual(span_s, (self.N - 1) / self.RATE, delta=1e-4)


class TablesTest(unittest.TestCase):
    def test_same_seed_same_bytes_and_fixture_schema(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.tables(os.path.join(d, "a"), 0.001, 3)
            gen.tables(os.path.join(d, "b"), 0.001, 3)
            names = sorted(os.listdir(os.path.join(d, "a")))
            self.assertEqual(len(names), 10)
            for n in names:
                self.assertTrue(filecmp.cmp(os.path.join(d, "a", n),
                                            os.path.join(d, "b", n),
                                            shallow=False), n)
            s = pq.read_schema(os.path.join(d, "a", "lineitem.parquet"))
            self.assertEqual(str(s.field("l_shipdate").type), "timestamp[us]")
            self.assertEqual(str(s.field("l_linenumber").type), "int32")
            e = pq.read_table(os.path.join(d, "a", "embeddings.parquet"))
            self.assertEqual(len(e.column("embedding")[0]), 64)


if __name__ == "__main__":
    unittest.main()
