"""The generator is a pure function of the seed, and its closed forms
agree with the points it writes."""
import hashlib
import os
import shutil
import sys
import unittest

import numpy as np
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402

TMP = os.path.join(BENCH, ".work", "tests")


def file_hashes(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class Determinism(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def test_same_seed_same_files(self):
        for kind, write in [
            ("archive", lambda s, p: gen.write_archive(s, p)),
            ("docs", lambda s, p: gen.write_documents(s, 300, p, 0)),
        ]:
            with self.subTest(kind):
                a, b, c = (os.path.join(TMP, kind, x) for x in "abc")
                write(7, a)
                write(7, b)
                write(8, c)
                ha, hb, hc = file_hashes(a), file_hashes(b), file_hashes(c)
                self.assertTrue(ha)
                self.assertEqual(ha, hb)
                self.assertNotEqual(ha, hc)

    def test_one_file_per_day_with_footer_stats(self):
        d = os.path.join(TMP, "events.parquet")
        gen.write_archive(3, d)
        files = sorted(os.listdir(d))
        self.assertEqual(len(files), gen.DAYS)
        rows = 0
        for i, f in enumerate(files):
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            rows += md.num_rows
            st = md.row_group(0).column(1).statistics
            day0 = np.datetime64(gen.T0 + i * 86400 * gen.US, "us")
            self.assertTrue(st.has_min_max)
            self.assertGreaterEqual(np.datetime64(st.min, "us"), day0)
            self.assertLess(np.datetime64(st.max, "us"), day0 + np.timedelta64(1, "D"))
        self.assertEqual(rows, len(gen.DENSE) * gen.DAYS * 86400 +
                         len(gen.sparse_points()) * gen.SPARSE_POINTS)


class ClosedForms(unittest.TestCase):
    def test_dense_count_matches_points(self):
        s = checks.Series(11)
        r = np.random.default_rng(0)
        for _ in range(200):
            k = int(r.integers(0, len(gen.DENSE)))
            t0 = gen.T0 + int(r.integers(-3600, gen.DAYS * 86400)) * gen.US \
                + int(r.integers(0, gen.US))
            t1 = t0 + int(r.integers(0, 3 * 86400 * gen.US))
            name = gen.att_name(*gen.DENSE[k])
            self.assertEqual(gen.dense_count(11, k, t0, t1),
                             len(s.window(name, t0, t1)[0]))

    def test_plans_vary_content_not_makeup(self):
        def makeup(p):
            return [[(e["revisit"], e["body"]["time_range"][0][:0],
                      len(e["body"]["attributes"]),
                      checks.parse_ts(e["body"]["time_range"][1]) -
                      checks.parse_ts(e["body"]["time_range"][0]))
                     for e in seq] for seq in p]
        a, b = gen.viewer_plan(1, 4), gen.viewer_plan(2, 4)
        self.assertEqual(a, gen.viewer_plan(1, 4))
        self.assertNotEqual(a, b)
        self.assertEqual(makeup(a), makeup(b))
        kinds = lambda p: [[(e["kind"], e.get("csv"), e.get("body", {}).get("interval"))  # noqa: E731
                            for e in seq] for seq in p]
        ga, gb = gen.grafana_plan(1, 4), gen.grafana_plan(2, 4)
        self.assertNotEqual(ga, gb)
        self.assertEqual(kinds(ga), kinds(gb))
        reqs = [repr(e) for seq in ga for e in seq]
        self.assertEqual(len(reqs), len(set(reqs)))

    def test_every_round_has_the_same_makeup(self):
        def view(e):
            t0, t1 = (checks.parse_ts(x) for x in e["body"]["time_range"])
            return ([a["y_axis"] for a in e["body"]["attributes"]], t1 - t0)
        v = gen.viewer_plan(3, 4)
        rounds = [sorted(view(seq[i]) for seq in v) for i in range(len(v[0]))]
        self.assertEqual(len(rounds[0]), len(gen.VIEWS))
        self.assertTrue(all(r == rounds[0] for r in rounds))

        def kind(e):
            b = e.get("body", {})
            return (e["kind"], e.get("csv"), "interval" in b,
                    len(b.get("targets", [])))
        g = gen.grafana_plan(3, 4)
        rounds = [sorted(kind(e) for seq in g for e in seq[2 * i:2 * i + 2])
                  for i in range(len(g[0]) // 2)]
        self.assertTrue(all(r == rounds[0] for r in rounds))


if __name__ == "__main__":
    unittest.main()
