"""Tests of the benchmark's own machinery (no JVM needed).

usage: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import os
import random
import shutil
import unittest
import zipfile

import duckdb

import digest
import gen

SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work", "tests")


def tree_bytes(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_gives_same_bytes(self):
        for w in ("etl_batch", "stream_ingest", "query_mix", "heavy_plans"):
            a, b, c = (os.path.join(SCRATCH, w, x) for x in "abc")
            gen.generate(w, 7, a)
            gen.generate(w, 7, b)
            gen.generate(w, 8, c)
            self.assertEqual(tree_bytes(a), tree_bytes(b), w)
            self.assertNotEqual(tree_bytes(a)["manifest.json"], tree_bytes(c)["manifest.json"], w)

    def test_every_seed_does_the_same_work(self):
        for w in ("etl_batch", "stream_ingest"):
            sizes = [sorted(f["rows"] for f in gen.generate(w, s, os.path.join(SCRATCH, w, str(s)))["files"])
                     for s in (1, 2)]
            self.assertEqual(sizes[0], sizes[1], w)

    def test_workbook_holds_the_generated_rows(self):
        m = gen.generate("etl_batch", 3, os.path.join(SCRATCH, "wb"))
        f = m["files"][0]
        with zipfile.ZipFile(os.path.join(SCRATCH, "wb", f["file"])) as z:
            sheet = z.read("xl/worksheets/sheet1.xml").decode()
        self.assertEqual(sheet.count("<row "), f["rows"] + 1)


class CheckTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        os.makedirs(SCRATCH)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_canonical_values(self):
        self.assertEqual(digest.canon(3), digest.canon(3.0))
        self.assertNotEqual(digest.canon(0.1), digest.canon(0.1 + 1e-17 * 2 ** 4))
        self.assertEqual(digest.canon(datetime.datetime(2024, 1, 2, 3, 4, 5)), "2024-01-02 03:04:05")
        self.assertEqual(digest.canon(datetime.date(2024, 1, 2)), "2024-01-02 00:00:00")
        self.assertEqual(digest.canon([1, None, "x"]), "[1,∅,x]")

    def test_digest_ignores_row_and_column_order(self):
        a = digest.digest_rows(["b", "a"], [(1, "x"), (2, "y")])
        b = digest.digest_rows(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)

    def test_corrupted_query_output_is_a_failed_op(self):
        con = duckdb.connect()
        rel = con.sql("SELECT range AS k, range * 0.5 AS v FROM range(100)")
        names, rows = rel.columns, rel.fetchall()
        oracle = {"q": digest.digest_rows(names, rows)}
        good = {"name": "q|api", "digest": digest.digest_rows(names, rows)}
        corrupt = list(rows)
        corrupt[17] = (17, 8.5000001)
        wrong_value = {"name": "q|sql", "digest": digest.digest_rows(names, corrupt)}
        lost_row = {"name": "q|api", "digest": digest.digest_rows(names, rows[1:])}
        self.assertEqual(digest.check_ops("query_mix", [good, wrong_value, lost_row], oracle),
                         [False, True, True])

    def test_corrupted_warehouse_is_caught(self):
        rows = gen.traffic_series(random.Random(1), 50)
        want = (len(rows), sum(v for _, v in rows))
        path = os.path.join(SCRATCH, "wh.parquet")

        def totals(rs):
            con = duckdb.connect()
            values = ", ".join(f"(TIMESTAMP '{t}', {v!r})" for t, v in rs)
            con.execute(f"COPY (SELECT * FROM (VALUES {values}) w(time, traffic)) TO '{path}'")
            con.close()
            return digest.warehouse_totals(path)

        self.assertTrue(digest.totals_match(totals(rows), want))
        changed = list(rows)
        changed[3] = (rows[3][0], rows[3][1] + 0.01)
        self.assertFalse(digest.totals_match(totals(changed), want))
        self.assertFalse(digest.totals_match(totals(rows[1:]), want))
        ops = [{"name": "f", "rows": 400, "expect_rows": 400},
               {"name": "g", "rows": 399, "expect_rows": 400}]
        self.assertEqual(digest.check_ops("etl_batch", ops, {}), [False, True])


if __name__ == "__main__":
    unittest.main()
