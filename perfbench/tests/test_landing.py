"""The landing generator is a pure function of its seed.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402


def generate(classpath, out, seed, batches=2):
    subprocess.run(["java", "-cp", classpath, "perfbench.LandingGen", out, str(seed),
                    str(batches)], check=True, stdout=subprocess.DEVNULL)


def tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class LandingGenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classpath = run.ensure_build()
        cls.tmp = tempfile.mkdtemp(dir=os.path.join(run.WORK))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def test_same_seed_gives_identical_bytes(self):
        a, b = os.path.join(self.tmp, "a"), os.path.join(self.tmp, "b")
        generate(self.classpath, a, 42)
        generate(self.classpath, b, 42)
        files = tree(a)
        self.assertEqual(files, tree(b))
        self.assertGreater(len(files), 10)
        _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_bytes(self):
        a, c = os.path.join(self.tmp, "a2"), os.path.join(self.tmp, "c")
        generate(self.classpath, a, 42)
        generate(self.classpath, c, 43)
        files = tree(a)
        self.assertEqual(files, tree(c))
        _, mismatch, _ = filecmp.cmpfiles(a, c, files, shallow=False)
        self.assertEqual(sorted(mismatch), files)

    def test_batch_shape(self):
        out = os.path.join(self.tmp, "shape")
        generate(self.classpath, out, 7)
        import duckdb
        con = duckdb.connect()
        b2 = os.path.join(out, "batch_0002")
        ev = con.sql(f"SELECT count(*), count(DISTINCT event_type), "
                     f"count(*) FILTER (WHERE version > 1), "
                     f"count(*) FILTER (WHERE search_query IS NOT NULL AND event_type <> 'search') "
                     f"FROM read_json('{b2}/user_events_*.json', format='newline_delimited')"
                     ).fetchone()
        self.assertEqual(ev[0], 50000)
        self.assertEqual(ev[1], 7)
        self.assertGreater(ev[2], 0)        # redeliveries carry a higher version
        self.assertEqual(ev[3], 0)          # subtype fields stay sparse
        tx = con.sql(f"SELECT count(*), count(*) FILTER (WHERE transaction_type <> 'purchase' "
                     f"AND (total >= 0 OR original_transaction_id IS NULL)), "
                     f"min(len(line_items)), max(len(line_items)) "
                     f"FROM read_json('{b2}/transaction_events_*.json', format='newline_delimited')"
                     ).fetchone()
        self.assertEqual(tx[0], 10000)
        self.assertEqual(tx[1], 0)          # refunds/chargebacks: negative, linked
        self.assertEqual((tx[2], tx[3]), (1, 5))


if __name__ == "__main__":
    unittest.main()
