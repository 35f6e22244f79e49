"""Generator truth: hand-checked visits at the 1800 s boundary, and the
feed truth re-derived from the written files by an independent reader.

    python3 -m unittest discover -s perfbench/tests
"""

import glob
import gzip
import json
import os
import re
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402


class VisitTruthTest(unittest.TestCase):

    def test_gap_of_exactly_1800_splits_and_1799_does_not(self):
        # user a: 0 -(1799)-> 1799 -(1800)-> 3599 -(1)-> 3600
        # user b: 100 -(1800)-> 1900
        users = ["a", "a", "a", "a", "b", "b"]
        ts = [0, 1799, 3599, 3600, 100, 1900]
        visits, s_start, s_end, starts = gen.visit_truth(users, ts)
        self.assertEqual(visits, 4)  # a:[0,1799] a:[3599,3600] b:[100] b:[1900]
        self.assertEqual(s_start, 0 + 3599 + 100 + 1900)
        self.assertEqual(s_end, 1799 + 3600 + 100 + 1900)
        self.assertEqual(list(starts), [0, 0, 3599, 3599, 100, 1900])

    def test_new_user_starts_a_visit_even_without_gap(self):
        visits, _, _, starts = gen.visit_truth(["a", "b"], [10, 11])
        self.assertEqual((visits, list(starts)), (2, [10, 11]))

    def test_timelines_plant_both_boundary_gaps(self):
        rng = np.random.default_rng(5)
        users, ts = gen._user_timelines(rng, 400, 8, 3600)
        same = users[1:] == users[:-1]
        gaps = (ts[1:] - ts[:-1])[same]
        self.assertTrue((gaps > 0).all())
        self.assertIn(1800, gaps)
        self.assertIn(1799, gaps)

    def test_row_hash_sums_do_not_cancel_duplicates(self):
        h = gen.row_hash(["x", "1"])
        self.assertNotEqual((h + h) % 2**64, 0)
        self.assertEqual(h, gen.row_hash(["x", "1"]))


def parse_line(line):
    """The reference parse rules, restated: >= 10 tab fields, numeric ts,
    product empty or with a ';' field.  Returns (reason, fields)."""
    c = line.split("\t")
    if len(c) < 10:
        return "short_row", c
    if not re.fullmatch(r"[0-9]+", c[0]):
        return "bad_ts", c
    if c[4] != "" and len(c[4].split(";")) < 2:
        return "bad_product", c
    return None, c


class FeedTruthTest(unittest.TestCase):

    def test_truth_matches_an_independent_read_of_the_files(self):
        with tempfile.TemporaryDirectory() as d:
            truth = gen.generate("feed_export", 3, d, n_users=60)
            with open(os.path.join(d, "truth.json")) as fh:
                self.assertEqual(json.load(fh), truth)
            files = sorted(glob.glob(os.path.join(d, "*.tsv.gz")))
            self.assertEqual(len(files), gen.HOURS)
            lines = []
            for f in files:
                with gzip.open(f, "rb") as fh:
                    lines += fh.read().decode("iso-8859-1").splitlines()
        self.assertEqual(len(lines), truth["input_rows"])
        drops = {r: 0 for r in gen.DROP_REASONS}
        hits = []
        for line in lines:
            reason, c = parse_line(line)
            if reason:
                drops[reason] += 1
            else:
                hits.append((f"{c[1]}_{c[2]}", int(c[0]), c))
        self.assertEqual(drops, truth["dropped"])
        self.assertTrue(all(v > 0 for v in drops.values()))
        self.assertEqual(len(hits), truth["parsed_rows"])
        self.assertTrue(any(ord(ch) > 0x7f for _, _, c in hits for ch in c[6]))

        hits.sort(key=lambda h: (h[0], h[1]))
        users = [h[0] for h in hits]
        ts = [h[1] for h in hits]
        visits, s_start, s_end, starts = gen.visit_truth(users, ts)
        self.assertEqual(visits, truth["visits"])
        self.assertEqual(visits, truth["exports"]["visits"]["rows"])
        self.assertEqual((s_start, s_end),
                         (truth["visit_start_sum"], truth["visit_end_sum"]))
        flags = [code for _, code in gen.FLAG_CODES]
        hit_hash = 0
        for (uid, t, c), start in zip(hits, starts):
            ev = c[5].split(",")
            line_number = c[4].split(";")[1] if c[4] else ""
            hit_hash += gen.row_hash([f"{uid}_{start}", str(t), c[7], c[3], c[6],
                                      line_number] + ["1" if f in ev else "0" for f in flags])
        self.assertEqual(hit_hash % 2**64, truth["exports"]["hits"]["hash"])

    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ta = gen.generate("feed_export", 9, a, n_users=20)
            tb = gen.generate("feed_export", 9, b, n_users=20)
            self.assertEqual(ta, tb)
            for f in os.listdir(a):
                with open(os.path.join(a, f), "rb") as fa, \
                        open(os.path.join(b, f), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), f)


if __name__ == "__main__":
    unittest.main()
