"""Tests of the benchmark's own output check.

  python3 perfbench/test_run.py

They need DuckDB only, not the engine: each builds a small output the
way the harness writes it, computes the expected hash the way run.py
does from SQL, and shows that a corrupted expected hash or a corrupted
output is counted as a failed operation.
"""
import json
import shutil
import tempfile
import unittest
from pathlib import Path

import duckdb

import run


class CheckTest(unittest.TestCase):
    def setUp(self):
        base = run.WORK / "test"
        base.mkdir(parents=True, exist_ok=True)
        self.dir = Path(tempfile.mkdtemp(dir=base))
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE t AS SELECT range AS k, 'c' || (range % 3) AS country, "
                         "CAST(range * 7 AS BIGINT) AS v FROM range(50)")

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def rows_op(self, rows):
        p = self.dir / "op.json"
        p.write_text(json.dumps({"columns": ["country", "v_sum"], "rows": rows}))
        return {"key": "q", "error": None, "output": str(p)}

    def oracle(self):
        rel = self.con.execute(
            "SELECT country, CAST(sum(v) AS BIGINT) AS v_sum FROM t GROUP BY 1 ORDER BY 1")
        return {"q": run.rows_hash([d[0] for d in rel.description], rel.fetchall())}

    def test_matching_rows_pass(self):
        rows = self.con.execute("SELECT country, CAST(sum(v) AS BIGINT) FROM t "
                                "GROUP BY 1 ORDER BY 1").fetchall()
        ops = [self.rows_op([list(r) for r in rows])]
        self.assertEqual(run.check(self.con, ops, self.oracle()), 0)
        self.assertTrue(ops[0]["correct"])

    def test_corrupted_expected_hash_is_caught(self):
        rows = self.con.execute("SELECT country, CAST(sum(v) AS BIGINT) FROM t "
                                "GROUP BY 1 ORDER BY 1").fetchall()
        ops = [self.rows_op([list(r) for r in rows]) for _ in range(2)]
        want = self.oracle()
        want["q"] = "0" * 32
        failed = run.check(self.con, ops, want)
        self.assertEqual(failed, 2)
        self.assertGreater(failed / len(ops), 0)

    def test_reordered_rows_are_caught(self):
        rows = self.con.execute("SELECT country, CAST(sum(v) AS BIGINT) FROM t "
                                "GROUP BY 1 ORDER BY 1 DESC").fetchall()
        ops = [self.rows_op([list(r) for r in rows])]
        self.assertEqual(run.check(self.con, ops, self.oracle()), 1)

    def test_thrown_operation_fails(self):
        ops = [{"key": "q", "error": "boom", "output": None}]
        self.assertEqual(run.check(self.con, ops, self.oracle()), 1)

    def warehouse(self):
        wh = self.dir / "wh"
        wh.mkdir()
        self.con.execute(
            "CREATE OR REPLACE TABLE f AS SELECT range AS order_id, 1 AS line_no, "
            "20000101 AS date_key, range % 5 AS customer_key, range % 7 AS product_key, "
            "100 AS units_sold_cents, range * 10 AS revenue_tenthcents, "
            "1995 + range % 3 AS year, 1 AS quarter, 1 AS month, 'X' AS country "
            "FROM range(30)")
        self.con.execute(f"COPY f TO '{wh}/fact_sales' (FORMAT PARQUET, PARTITION_BY (year))")
        for t in run.DIM_COUNTS:
            (wh / t).mkdir(parents=True)
            self.con.execute(f"COPY (SELECT 1 AS x) TO '{wh}/{t}/part-0.parquet' (FORMAT PARQUET)")
        dims = {t: 1 for t in run.DIM_COUNTS}
        want = json.dumps({"fact": run.fact_fingerprint(self.con, "f"), **dims}, sort_keys=True)
        return {"key": "etl_star_build", "error": None, "output": str(wh)}, \
            {"etl_star_build": want}

    def test_warehouse_fingerprint_matches_the_loaded_fact(self):
        op, want = self.warehouse()
        self.assertEqual(run.check(self.con, [op], want), 0)

    def test_warehouse_with_one_wrong_value_is_caught(self):
        op, want = self.warehouse()
        shutil.rmtree(f"{op['output']}/fact_sales")
        self.con.execute(f"COPY (SELECT * REPLACE (CASE WHEN order_id = 3 THEN 0 ELSE "
                         f"revenue_tenthcents END AS revenue_tenthcents) FROM f) "
                         f"TO '{op['output']}/fact_sales' (FORMAT PARQUET, PARTITION_BY (year))")
        self.assertEqual(run.check(self.con, [op], want), 1)


if __name__ == "__main__":
    unittest.main()
