"""The correctness gates reject corrupted results: query results are
compared with DuckDB (run.compare_query); the crawl gate runs in the JVM
(graftbench.SelfTest, which builds the benchmark first)."""
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
os.chdir(ROOT)
import run  # noqa: E402


class QueryGateTest(unittest.TestCase):
    def setUp(self):
        import duckdb
        self.dir = os.path.join(run.WORK, "tests", "query_gate")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.con = duckdb.connect()
        self.con.sql("CREATE TABLE t AS SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 1.25), "
                     "(3, 'c', NULL)) v(k, s, x)")
        self.sql = "SELECT k, s, x FROM t"

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def result(self, name, sql):
        path = os.path.join(self.dir, name + ".parquet")
        self.con.sql(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        return [path]

    def test_equal_result_passes_in_any_row_and_column_order(self):
        got = self.result("same", "SELECT x, s, k FROM t ORDER BY k DESC")
        self.assertIsNone(run.compare_query(self.con, got, self.sql))

    def test_corrupted_value_is_rejected(self):
        got = self.result("value", "SELECT k, CASE WHEN k = 2 THEN 'z' ELSE s END AS s, x FROM t")
        self.assertIsNotNone(run.compare_query(self.con, got, self.sql))

    def test_missing_row_is_rejected(self):
        got = self.result("rows", "SELECT * FROM t WHERE k < 3")
        self.assertIsNotNone(run.compare_query(self.con, got, self.sql))

    def test_wrong_columns_are_rejected(self):
        got = self.result("cols", "SELECT k, s FROM t")
        self.assertIsNotNone(run.compare_query(self.con, got, self.sql))


class CrawlGateTest(unittest.TestCase):
    def test_gate_passes_real_views_and_rejects_corrupted_ones(self):
        classes, _ = run.build()
        work = os.path.join(run.WORK, "tests", "selftest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        r = subprocess.run(run.java_cmd(classes, work, "graftbench.SelfTest", [work]),
                           cwd=work, capture_output=True, text=True, timeout=600)
        shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])
        self.assertIn("SELFTEST ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
