"""Tests of the benchmark's own parts: the seeded generators and the
inventory ground truth, the DuckDB dashboard check, the catalog's
oracle digests, failure accounting, and the agreement of
BENCHMARK.json with what a run reports.

    python3 -m unittest discover -s medbench -p 'test_*.py'
"""
import decimal
import filecmp
import json
import math
import os
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import catalogdata  # noqa: E402
import evaluate  # noqa: E402
import inventory  # noqa: E402
import run  # noqa: E402

SMALL = dict(base_rows=4_000, n_stores=6, n_products=50, base_days=60,
             increments=3, increment_days=4)


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dir = os.path.join(cls.tmp.name, "a")
        cls.truth = inventory.generate(cls.dir, 11, **SMALL)
        cls.con = duckdb.connect()
        for f in cls.truth["files"]:
            cls.con.execute(f"CREATE VIEW {f.split('.')[0]} AS "
                            f"SELECT * FROM read_parquet('{cls.dir}/{f}')")

    @classmethod
    def tearDownClass(cls):
        cls.con.close()
        cls.tmp.cleanup()

    def q(self, sql):
        return self.con.execute(sql).fetchone()[0]

    def test_same_seed_gives_byte_identical_files(self):
        other = os.path.join(self.tmp.name, "b")
        again = inventory.generate(other, 11, **SMALL)
        self.assertEqual(again, self.truth)
        for f in self.truth["files"]:
            self.assertTrue(filecmp.cmp(f"{self.dir}/{f}", f"{other}/{f}", shallow=False), f)

    def test_another_seed_gives_other_data(self):
        other = os.path.join(self.tmp.name, "c")
        inventory.generate(other, 12, **SMALL)
        self.assertFalse(filecmp.cmp(f"{self.dir}/base.parquet", f"{other}/base.parquet",
                                     shallow=False))

    def test_planted_dirt_is_present(self):
        self.assertGreater(self.q("SELECT COUNT(*) - COUNT(DISTINCT transaction_id) FROM base"), 0)
        self.assertGreater(self.q("SELECT COUNT(*) FROM base WHERE date IS NULL"), 0)
        self.assertGreater(self.q("SELECT COUNT(*) FROM base WHERE stock_level IS NULL"), 0)
        self.assertEqual(self.q(
            "SELECT COUNT(*) FROM base WHERE CAST(total_sales AS DECIMAL(15,2)) <> "
            "quantity_sold * CAST(unit_price AS DECIMAL(10,2))"), 1)
        # dims are multi-row per business key, as in the reference sample
        self.assertEqual(self.q("SELECT MAX(n) FROM (SELECT COUNT(DISTINCT unit_price) n "
                                "FROM base GROUP BY product_id)"), inventory.PRICES_PER_PRODUCT)

    def test_increments_carry_late_rows_replays_and_changes(self):
        for k in range(1, SMALL["increments"] + 1):
            self.assertGreater(self.truth["cycles"][k]["late_rows"], 0)
            self.assertGreater(self.q(f"SELECT COUNT(*) - COUNT(DISTINCT transaction_id) "
                                      f"FROM inc_{k}"), 0)
        new_prices = self.q("SELECT COUNT(*) FROM (SELECT DISTINCT product_id, unit_price "
                            "FROM inc_1 EXCEPT SELECT DISTINCT product_id, unit_price FROM base)")
        self.assertGreater(new_prices, 0)
        moved_stores = self.q("SELECT COUNT(*) FROM (SELECT DISTINCT store_id, reorder_point "
                              "FROM inc_1 EXCEPT SELECT DISTINCT store_id, reorder_point FROM base)")
        self.assertGreater(moved_stores, 0)

    def test_truth_matches_the_pipeline_semantics_evaluated_in_sql(self):
        """Watermark CDC (date > last landed day), full-row dedup and the
        null-date filter, evaluated by DuckDB instead of the generator."""
        landed = ["SELECT * FROM base"]
        for k, expect in enumerate(self.truth["cycles"]):
            if k > 0:
                wm = self.q("SELECT MAX(date) FROM (" + " UNION ALL ".join(landed) + ")")
                ingested = f"SELECT * FROM inc_{k} WHERE date > TIMESTAMPTZ '{wm}'"
                self.assertEqual(self.q(f"SELECT COUNT(*) FROM ({ingested})"),
                                 expect["ingested_rows"])
                landed.append(ingested)
            staged = ("SELECT DISTINCT * FROM (" + " UNION ALL ".join(landed) +
                      ") WHERE date IS NOT NULL")
            self.assertEqual(self.q(f"SELECT COUNT(*) FROM ({staged})"), expect["staged_rows"])
            self.assertEqual(self.q(f"SELECT COUNT(DISTINCT date) FROM ({staged})"),
                             expect["distinct_dates"])
            total = self.q(f"SELECT SUM(CAST(total_sales AS DECIMAL(15,2))) FROM ({staged})")
            self.assertEqual(total, decimal.Decimal(expect["total_sales"]))


def _zone(root):
    """A tiny curated zone, as the curated layer lays it out."""
    d = pa.timestamp("us", tz="UTC")
    tables = {
        "dim_date": pa.table({"date_id": pa.array([0, 86_400_000_000], d),
                              "year": pa.array([2023, 2023], pa.int32()),
                              "month": pa.array([1, 1], pa.int32()),
                              "day": pa.array([1, 2], pa.int32())}),
        "dim_store": pa.table({"store_id": ["ST001", "ST002"], "store_location": ["A", "B"]}),
        "dim_product": pa.table({"product_id": ["P1", "P1", "P2"],
                                 "product_category": ["Toys", "Toys", "Home"]}),
        "fact_sales": pa.table({
            "date": pa.array([0, 0, 86_400_000_000], d),
            "store_id": ["ST001", "ST002", "ST002"], "product_id": ["P1", "P2", "P2"],
            "quantity_sold": pa.array([3, 4, 5], pa.int32()),
            "total_sales": pa.array([decimal.Decimal("1.50"), decimal.Decimal("2.25"),
                                     decimal.Decimal("4.00")], pa.decimal128(15, 2)),
            "stock_level": pa.array([10, 0, 7], pa.int32())}),
    }
    for name, t in tables.items():
        os.makedirs(f"{root}/{name}")
        pq.write_table(t, f"{root}/{name}/part-0.parquet")


def _as_spark(rows, schema):
    """DuckDB rows rendered the way the JVM renders collected rows."""
    return {"schema": schema,
            "rows": [[None if v is None else str(v) for v in r] for r in rows]}


Q3_SCHEMA = ["store_location:string", "product_category:string",
             "total_sold:bigint", "avg_stock_level:double"]
SQL = {"q3": """SELECT s.store_location, p.product_category,
       SUM(f.quantity_sold) AS total_sold, AVG(f.stock_level) AS avg_stock_level
FROM fact_sales f JOIN dim_store s ON f.store_id = s.store_id
JOIN dim_product p ON f.product_id = p.product_id
GROUP BY s.store_location, p.product_category ORDER BY avg_stock_level DESC"""}


class ServeCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.zone = os.path.join(self.tmp.name, "curated_1")
        _zone(self.zone)
        self.rows = evaluate.duck_rows(self.zone, SQL["q3"])

    def tearDown(self):
        self.tmp.cleanup()

    def test_equal_results_match_in_any_order(self):
        served = _as_spark(list(reversed(self.rows)), Q3_SCHEMA)
        self.assertTrue(evaluate.serve_matches(served, self.zone, SQL["q3"]))

    def test_a_changed_cell_or_a_missing_row_does_not_match(self):
        changed = _as_spark(self.rows, Q3_SCHEMA)
        changed["rows"][0][2] = str(int(changed["rows"][0][2]) + 1)
        self.assertFalse(evaluate.serve_matches(changed, self.zone, SQL["q3"]))
        self.assertFalse(evaluate.serve_matches(
            _as_spark(self.rows[1:], Q3_SCHEMA), self.zone, SQL["q3"]))

    def test_doubles_may_differ_in_the_last_ulp_only(self):
        near = _as_spark(self.rows, Q3_SCHEMA)
        avg = float(near["rows"][0][3])
        near["rows"][0][3] = repr(math.nextafter(avg, math.inf))
        self.assertTrue(evaluate.serve_matches(near, self.zone, SQL["q3"]))
        near["rows"][0][3] = repr(avg * (1 + 1e-9))
        self.assertFalse(evaluate.serve_matches(near, self.zone, SQL["q3"]))

    def _result(self, cycles):
        return {"sql": SQL, "units": [
            {"unit": u, "traced": False, "zone_root": self.tmp.name, "cycles": cs}
            for u, cs in enumerate(cycles)]}

    def _cycle(self, **over):
        c = {"cycle": 1, "seconds": 1.0, "ingested": 10, "source_files": 1,
             "check": {"staged_rows": 9, "fact_rows": 9, "distinct_dates": 2,
                       "total_sales": "7.75"},
             "serves": [dict(_as_spark(self.rows, Q3_SCHEMA), name="q3", refresh=1,
                             seconds=0.5, digest="d1")]}
        c.update(over)
        return c

    TRUTH = {"cycles": [{"ingested_rows": 10, "staged_rows": 9, "fact_rows": 9,
                         "distinct_dates": 2, "total_sales": "7.75"}]}

    def test_clean_run_has_no_failures(self):
        ops = evaluate.verdicts(self._result([[self._cycle()], [self._cycle()]]),
                                self.TRUTH)
        self.assertEqual(len(ops), 4)
        self.assertEqual([o for o in ops if o["failed"]], [])

    def test_each_kind_of_failure_is_counted_once(self):
        threw = self._cycle(error="java.io.IOException: disk full")
        wrong = self._cycle()
        wrong["check"] = dict(wrong["check"], total_sales="7.74")
        other = self._cycle()
        other["serves"] = [dict(other["serves"][0], digest="d2"),
                           {"name": "q3", "refresh": 2, "seconds": 0.1,
                            "error": "org.apache.spark.SparkException: boom"}]
        ops = evaluate.verdicts(self._result([[self._cycle()], [threw], [wrong], [other]]),
                                self.TRUTH)
        failed = [o for o in ops if o["failed"]]
        self.assertEqual(len(ops), 9)
        self.assertEqual([(o["op"], o["unit"]) for o in failed],
                         [("cycle", 1), ("cycle", 2), ("serve.q3", 3), ("serve.q3", 3)])
        self.assertIn("threw", failed[0]["failed"])
        self.assertIn("total_sales", failed[1]["failed"])
        self.assertIn("DuckDB", failed[2]["failed"])
        self.assertIn("threw", failed[3]["failed"])

    def test_a_wrong_checked_result_fails_every_execution_of_it(self):
        first = self._cycle()
        first["serves"][0]["rows"][0][2] = "999"
        ops = evaluate.verdicts(self._result([[first], [self._cycle()]]),
                                self.TRUTH)
        self.assertEqual(sum(1 for o in ops if o["failed"]), 2)


class CatalogTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dir = os.path.join(cls.tmp.name, "a")
        cls.rows = catalogdata.generate(cls.dir, 5)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_byte_identical_tables_and_another_seed_other_ones(self):
        same, other = os.path.join(self.tmp.name, "b"), os.path.join(self.tmp.name, "c")
        catalogdata.generate(same, 5)
        catalogdata.generate(other, 6)
        for t in evaluate.local_verify.TABLES:
            f = f"{t}.parquet"
            self.assertTrue(filecmp.cmp(f"{self.dir}/{f}", f"{same}/{f}", shallow=False), t)
        self.assertFalse(filecmp.cmp(f"{self.dir}/lineitem.parquet",
                                     f"{other}/lineitem.parquet", shallow=False))

    def test_every_table_the_oracles_read_is_written(self):
        self.assertEqual(sorted(self.rows), sorted(evaluate.local_verify.TABLES))
        self.assertEqual(self.rows["lineitem"], 6000)
        emb = pq.read_table(f"{self.dir}/embeddings.parquet")
        self.assertEqual(emb.schema.field("embedding").type, pa.list_(pa.float32()))
        self.assertTrue(all(len(v) == catalogdata.DIM for v in emb.column("embedding").to_pylist()))

    def _oracle(self, sql):
        return evaluate.oracle_digests(self.dir, sql, os.path.join(self.tmp.name, "cache"))

    def test_oracle_digest_is_the_local_verify_digest_and_is_cached(self):
        sql = {"qa": "SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 3"}
        got = self._oracle(sql)["qa"]
        con = duckdb.connect()
        cur = con.execute(f"SELECT r_regionkey, r_name FROM '{self.dir}/region.parquet' "
                          f"WHERE r_regionkey < 3")
        self.assertEqual(got, list(evaluate.local_verify.duck_digest(
            cur, [d[0] for d in cur.description])))
        con.close()
        self.assertEqual(len(os.listdir(os.path.join(self.tmp.name, "cache"))), 1)
        self.assertEqual(self._oracle(sql)["qa"], got)

    def test_a_throw_a_wrong_digest_and_a_missing_oracle_each_fail(self):
        sql = {"q1_x": "SELECT r_name FROM region", "q2_y": "SELECT n_name FROM nation"}
        oracle = self._oracle(sql)
        good = {"name": "q1_x", "seconds": 0.1, "digest": [str(oracle["q1_x"][0]),
                str(oracle["q1_x"][1]), oracle["q1_x"][2]], "row_count": oracle["q1_x"][3]}
        wrong = dict(good, name="q2_y")
        threw = {"name": "q1_x", "seconds": 0.1, "error": "java.lang.RuntimeException: x"}
        unchecked = dict(good, name="q3_z")
        result = {"units": [{"unit": 0, "cycles": [{"serves": [good, wrong, threw, unchecked]}]}]}
        ops = evaluate.catalog_verdicts(result, oracle)
        self.assertEqual([o["failed"] is None for o in ops], [True, False, False, False])
        self.assertIn("digest", ops[1]["failed"])
        self.assertIn("threw", ops[2]["failed"])
        self.assertIn("no oracle", ops[3]["failed"])

    def test_the_family_is_the_first_word_after_the_query_number(self):
        self.assertEqual(evaluate.family("q45_tpch_q3"), "tpch")
        self.assertEqual(evaluate.family("q200_multimodal_curation_e2e"), "multimodal")


class BenchmarkFileTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_workloads_and_metrics_agree_with_the_runner(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         evaluate.per_layer_names())
        result = {"setup": {"setup_s": 1.0}, "cache_peak_bytes": 1,
                  "spans": [{"unit": 0, "parent": -1, "start_s": 0, "end_s": 2}],
                  "units": [{"unit": 0, "traced": False, "cycles": [
                      {"cycle": 1, "seconds": 2.0, "ingested": 5, "bytes_written": 3,
                       "zone_bytes": 3, "source_files": 1,
                       "serves": [{"seconds": 0.5}, {"seconds": 0.7}]}]}]}
        e2e = evaluate.end_to_end(result, [10])
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]],
                         [(k, u) for k, (_, u) in e2e.items()])
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in self.bench["end_to_end"]))
        setup = next(m for m in self.bench["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(m["bound"] for m in self.bench["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
