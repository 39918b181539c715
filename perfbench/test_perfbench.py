"""Tests of the benchmark's own pieces.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(stats.percentile([7.5], 50), 7.5)
        self.assertIsNone(stats.percentile([], 50))

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        p90 = stats.percentile(list(range(100)), 90)
        self.assertAlmostEqual(p90, 89.1)
        self.assertGreaterEqual(sum(x > p90 for x in range(100)), 10)

    def test_spread(self):
        med, q1, q3, sp = stats.spread([10, 11, 9, 10, 10, 12, 8, 10, 10, 10])
        self.assertEqual(med, 10)
        self.assertAlmostEqual(sp, (q3 - q1) / 10)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            files = []
            for seed, sub in ((5, "a"), (5, "b"), (6, "c")):
                gen.corpus(seed, f"{d}/{sub}", 2000)
                files.append(sorted(f"{d}/{sub}/{n}" for n in os.listdir(f"{d}/{sub}")))
            a, b, c = (gen.content_hash(f) for f in files)
            self.assertEqual(a, b)
            self.assertNotEqual(a, c)

    def test_chunker_conserves_rows_and_event_time_order(self):
        t = gen.events(3, 5003, gap_s=60.0)
        chunks = gen.chunk_events(t, 1000)
        self.assertEqual([c.num_rows for c in chunks], [1000] * 5 + [3])
        ids = np.concatenate([c.column("event_id").to_numpy() for c in chunks])
        self.assertEqual(sorted(ids.tolist()), list(range(5003)))
        ts = [c.column("ts").to_numpy().astype(np.int64) for c in chunks]
        for prev, cur in zip(ts, ts[1:]):
            self.assertLessEqual(prev.max(), cur.min())
        for c in ts:
            self.assertTrue((np.diff(c) >= 0).all())


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        t = gen.events(9, 3000)
        pq.write_table(t, f"{self.dir.name}/events.parquet")
        self.con = check.connect({"events": [f"{self.dir.name}/events.parquet"]})
        self.sql = ("SELECT user_id AS account_id, (epoch_ms(ts) // 3600000) * 3600000 "
                    "AS window_start_ms, (epoch_ms(ts) // 3600000) * 3600000 + 3600000 "
                    "AS window_end_ms, CAST(count(*) AS BIGINT) AS n_txns, "
                    "round(sum(value), 2) AS total FROM events GROUP BY 1, 2, 3")

    def tearDown(self):
        self.dir.cleanup()

    def good(self):
        # the same result in another row order, as an engine would write it
        return check.oracle(self.con, self.sql).sample(frac=1.0, random_state=1) \
            .reset_index(drop=True)

    def test_equal_results_pass(self):
        self.assertEqual(check.compare(self.good(), check.oracle(self.con, self.sql)), [])

    def test_planted_wrong_value_fails(self):
        got = self.good()
        got.loc[17, "total"] = got.loc[17, "total"] + 0.01
        self.assertNotEqual(check.compare(got, check.oracle(self.con, self.sql)), [])

    def test_planted_wrong_key_fails(self):
        got = self.good()
        got.loc[3, "account_id"] = got.loc[3, "account_id"] + 1
        self.assertNotEqual(check.compare(got, check.oracle(self.con, self.sql)), [])

    def test_missing_and_extra_rows_fail(self):
        want = check.oracle(self.con, self.sql)
        got = self.good()
        self.assertNotEqual(check.compare(got.iloc[1:], want), [])
        self.assertNotEqual(check.compare(pd.concat([got, got.iloc[:1]]), want), [])

    def test_closed_window_filter(self):
        want = check.oracle(self.con, self.sql)
        wm = int(want["window_end_ms"].median())
        closed = check.oracle(self.con, self.sql, f"window_end_ms <= {wm}")
        self.assertEqual(len(closed), int((want["window_end_ms"] <= wm).sum()))
        self.assertLess(len(closed), len(want))


if __name__ == "__main__":
    unittest.main()
