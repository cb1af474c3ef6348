"""Tests of the benchmark's own logic: order statistics, the seeded
generator, and the output checks. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))           # 1..100
        self.assertEqual(stats.percentile(xs, 0.5), (50, 50))
        self.assertEqual(stats.percentile(xs, 0.9), (90, 10))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
        self.assertEqual(stats.percentile(xs, 0.5), stats.percentile(sorted(xs), 0.5))

    def test_ten_beyond_rule(self):
        # the median needs 20 samples, p90 needs 100
        stats.percentile(range(20), 0.5)
        stats.percentile(range(100), 0.9)
        with self.assertRaises(ValueError):
            stats.percentile(range(19), 0.5)
        with self.assertRaises(ValueError):
            stats.percentile(range(99), 0.9)

    def test_rejects_bad_quantile(self):
        with self.assertRaises(ValueError):
            stats.percentile(range(100), 1.0)

    def test_quartile_spread_matches_statistics(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / statistics.median(xs))
        self.assertEqual(stats.quartile_spread([3.0] * 10), 0.0)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in gen.SIZES:
            a, book_a = gen.generate(7, w)
            b, book_b = gen.generate(7, w)
            self.assertEqual(a, b)
            self.assertEqual(book_a, book_b)

    def test_seed_changes_inputs(self):
        a, _ = gen.generate(1, "finance_jobs")
        b, _ = gen.generate(2, "finance_jobs")
        self.assertNotEqual(a["pages.json"], b["pages.json"])
        self.assertNotEqual(a["seeds/historic_transactions.csv"], b["seeds/historic_transactions.csv"])

    def test_bookkeeping(self):
        files, book = gen.generate(3, "finance_jobs")
        plan = json.loads(files["plan.json"])
        pages = json.loads(files["pages.json"])
        self.assertEqual(len(book["served_rows"]), len(plan["pulls"]))
        # logical transactions only accumulate; each later pull re-serves
        # the lookback window, so it serves more rows than it adds
        logical = book["simplefin_logical"]
        self.assertEqual(logical, sorted(logical))
        for p in range(1, len(logical)):
            self.assertGreater(book["served_rows"][p], logical[p] - logical[p - 1])
        # the reconnected account re-serves old purchases under new ids
        ids = [t["id"] for c in pages["connections"] for a in c["accounts"] for t in a["transactions"]]
        self.assertEqual(len(ids), len(set(ids)))
        self.assertTrue(any(a["id"].endswith("-new") and a["first_pull"] == gen.RECONNECT_PULL
                            for c in pages["connections"] for a in c["accounts"]))
        # ids validated per cycle are distinct, already ingested, never excluded
        flat = [i for ids_ in book["validate_ids"] for i in ids_]
        self.assertEqual(len(flat), len(set(flat)))
        self.assertTrue(all("-s" in i for i in flat))

    def test_api_pool_ingested_before_setup_ends(self):
        files, book = gen.generate(3, "api_mix")
        self.assertEqual(len(book["api_pool"]), gen.SIZES["api_mix"]["pool"])
        pages = json.loads(files["pages.json"])
        day0 = {t["id"]: t["transacted_at"] for c in pages["connections"] for a in c["accounts"]
                for t in a["transactions"]}
        self.assertTrue(all(day0[i] < gen.BASE for i in book["api_pool"]))


    def test_seed_tables_written_as_parquet_with_nulls(self):
        import tempfile
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            book = gen.write(4, "finance_jobs", d)
            hist = pq.read_table(os.path.join(d, "warehouse", "historic_transactions")).to_pydict()
            self.assertEqual(len(hist["master_category"]), book["historic_rows"])
            # a blank CSV field is a null, as Spark's CSV reader makes it
            self.assertEqual(sum(c is not None for c in hist["master_category"]),
                             book["historic_categorized"])
            self.assertTrue(os.path.isfile(os.path.join(d, "input", "plan.json")))


class ChecksTest(unittest.TestCase):
    def test_last_acknowledged_wins(self):
        acks = [("t1", "notes", "a"), ("t2", "notes", "x"), ("t1", "notes", "b")]
        self.assertEqual(checks.last_acknowledged(acks), {("t1", "notes"): "b", ("t2", "notes"): "x"})

    def test_visible_writes_pass(self):
        acks = [("t1", "validated", "false"), ("t1", "master_category", "Gas"),
                ("t1", "validated", "true")]
        stored = {"t1": {"validated": "true", "master_category": "Gas", "notes": None}}
        self.assertEqual(checks.unseen_writes(acks, stored), [])

    def test_lost_update_is_caught(self):
        # the second edit was acknowledged but the first one's value stuck
        acks = [("t1", "notes", "first"), ("t1", "notes", "second")]
        stored = {"t1": {"notes": "first"}}
        self.assertEqual(checks.unseen_writes(acks, stored), [("t1", "notes", "second", "first")])

    def test_missing_row_is_caught(self):
        self.assertEqual(checks.unseen_writes([("t9", "notes", "n")], {}), [("t9", "notes", "n", None)])

    def test_expected_state_and_cycle_failures(self):
        book = {"simplefin_logical": [100, 110], "historic_rows": 50, "historic_categorized": 45,
                "served_rows": [120, 30], "validate_ids": [[], ["a", "b"]]}
        want = checks.expected_state(book, 1, ["a", "b"])
        self.assertEqual(want["int_trxns_features"], 160)
        self.assertEqual(want["fct_validated_trxns"], 47)
        self.assertEqual(want["fct_trxns_uncategorized"], 113)
        state = dict(want, f1_macro=0.9, train_rows=40)
        cycle = {"pull": 1, "ingest_rows": 30, "validated": 2, "state": state}
        self.assertEqual(checks.cycle_failures(book, cycle, ["a", "b"]), [])
        bad = dict(cycle, state=dict(state, unpredicted=3, f1_macro=0.1))
        self.assertEqual(len(checks.cycle_failures(book, bad, ["a", "b"])), 2)


if __name__ == "__main__":
    unittest.main()
