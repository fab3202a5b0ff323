"""Tests for the benchmark's pure parts: the percentile rule, metric names,
seed determinism of the inputs, and the output checker's rejection of
corrupted results. Run from the repository root:

    python3 -m unittest discover -s lakebench/tests
"""

import json
import os
import sys
import tempfile
import unittest
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from lb import check, metrics, plan  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_past_the_percentile(self):
        self.assertIsNone(metrics.highest_percentile(1))
        self.assertIsNone(metrics.highest_percentile(19))
        self.assertEqual(metrics.highest_percentile(20), 50)
        self.assertEqual(metrics.highest_percentile(100), 90)
        self.assertEqual(metrics.highest_percentile(1000), 99)

    def test_rule_is_tight_for_every_sample_count(self):
        for n in range(20, 2000):
            p = metrics.highest_percentile(n)
            self.assertGreaterEqual(p, 50)
            self.assertGreaterEqual(n - n * p / 100.0, 10, n)
            self.assertLess(n - n * (p + 1) / 100.0, 10, n)

    def test_tail_falls_back_to_the_median(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), 2.0)
        values = [float(i) for i in range(1, 101)]
        self.assertAlmostEqual(metrics.tail(values), metrics.percentile(values, 90))


class MetricNames(unittest.TestCase):
    def test_pattern(self):
        for good in ("setup_s", "gold.busy_s", "ivf.train-jobs", "x1"):
            self.assertTrue(metrics.valid_name(good), good)
        for bad in ("", "a b", "rows/s", "-lead", ".lead", "é", "x" * 65):
            self.assertFalse(metrics.valid_name(bad), bad)

    def test_every_declared_metric_is_valid_and_unique(self):
        names = [n for n, _ in metrics.END_TO_END] + [n for n, _, _ in metrics.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(metrics.valid_name(n), n)

    def test_benchmark_json_matches_the_code(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         metrics.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(plan.WORKLOADS))


def fingerprint(part, seed):
    """Canonical bytes of a part's planned inputs."""
    made = {"medallion": plan.medallion_plan, "cdc_merge": plan.cdc_plan,
            "corpus_curate": plan.corpus_plan,
            "vector_search": plan.vector_plan}[part](seed, plan.SIZES[part])
    if part == "vector_search":
        return b"".join(np.ascontiguousarray(made[k]).tobytes()
                        for k in ("corpus_ids", "corpus", "query_ids", "queries"))
    return json.dumps(made, sort_keys=True).encode()


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for part in plan.SIZES:
            a, b = fingerprint(part, 7), fingerprint(part, 7)
            self.assertEqual(a, b, part)
            self.assertNotEqual(a, fingerprint(part, 8), part)

    def test_written_files_are_byte_identical(self):
        with tempfile.TemporaryDirectory() as d:
            def files(seed, tag):
                out = os.path.join(d, tag)
                os.makedirs(out)
                plan.part_params("corpus_curate", seed, out)
                plan.part_params("vector_search", seed, out)
                found = {}
                for f in sorted(os.listdir(out)):
                    with open(os.path.join(out, f), "rb") as fh:
                        found[f] = fh.read()
                return found
            first, again, other = files(3, "a"), files(3, "b"), files(4, "c")
            self.assertEqual(first, again)
            for f in first:
                self.assertNotEqual(first[f], other[f], f)


class QuarantineCheck(unittest.TestCase):
    def setUp(self):
        self.planned = plan.medallion_plan(5, plan.SIZES["medallion"])
        n = plan.SIZES["medallion"]["transactions"]
        defects = {d["id"] for d in self.planned["defects"]}
        self.quarantine = sorted(defects)
        self.silver = [plan.txn_id(i) for i in range(n)
                       if plan.txn_id(i) not in defects] + self.planned["duplicates"]
        self.bronze = n + len(self.planned["duplicates"])

    def test_correct_result_passes(self):
        self.assertEqual(check.check_quarantine(
            self.planned, self.quarantine, self.silver, self.bronze), [])
        self.assertEqual(check.check_uniqueness(
            self.planned, len(self.planned["duplicates"])), [])

    def test_dropped_quarantine_row_is_rejected(self):
        self.assertTrue(check.check_quarantine(
            self.planned, self.quarantine[1:], self.silver, self.bronze))

    def test_defect_leaking_into_silver_is_rejected(self):
        self.assertTrue(check.check_quarantine(
            self.planned, self.quarantine[1:], self.silver + self.quarantine[:1],
            self.bronze))

    def test_wrong_uniqueness_count_is_rejected(self):
        self.assertTrue(check.check_uniqueness(self.planned, 0))


class GoldCheck(unittest.TestCase):
    """The oracle SQL runs over a silver table; a perturbed engine sum must
    not compare equal."""

    SQL = ("SELECT transaction_date, status, COUNT(*) AS n_transactions,\n"
           "  CAST(CAST(SUM(amount_usd) AS DECIMAL(38,2)) AS DOUBLE) AS total_amount_usd\n"
           "FROM read_parquet('__GRAFT_OUT___inputs/silver_txns/*.parquet')\n"
           "GROUP BY 1, 2 ORDER BY 1, 2")

    def test_perturbed_gold_sum_is_rejected(self):
        with tempfile.TemporaryDirectory() as lake:
            part = os.path.join(lake, "silver", "transactions", "transaction_date=2024-01-02")
            os.makedirs(part)
            pq.write_table(pa.table({
                "status": ["COMPLETED", "COMPLETED", "PENDING"],
                "amount_usd": pa.array([Decimal("10.10"), Decimal("0.20"),
                                        Decimal("5.00")], pa.decimal128(18, 2))}),
                os.path.join(part, "part-0.parquet"))
            sql = check.oracle_sql(self.SQL, lake)
            self.assertNotIn("__GRAFT_OUT__", sql)
            oracle = duckdb.connect().execute(sql).fetchall()
            self.assertEqual(len(oracle), 2)
            self.assertEqual(check.compare_rows("q40", list(oracle), oracle), [])
            d, s, n, total = oracle[0]
            perturbed = [(d, s, n, total + 0.01)] + oracle[1:]
            self.assertTrue(check.compare_rows("q40", perturbed, oracle))
            self.assertTrue(check.compare_rows("q40", oracle[1:], oracle))


class VectorCheck(unittest.TestCase):
    def setUp(self):
        sizes = dict(plan.SIZES["vector_search"], corpus=400, queries=6)
        self.planned = plan.vector_plan(9, sizes)
        p = self.planned
        cn = p["corpus"] / np.linalg.norm(p["corpus"], axis=1, keepdims=True)
        self.rows = []
        for q, v in zip(p["query_ids"].tolist(), p["queries"]):
            sims = cn @ (v / np.linalg.norm(v))
            order = np.lexsort((p["corpus_ids"], -sims))[:10]
            for rank, k in enumerate(order.tolist(), 1):
                self.rows.append((q, int(p["corpus_ids"][k]),
                                  round(float(sims[k]), 4), rank))

    def test_exact_neighbours_pass(self):
        problems, recall = check.check_vectors(self.planned, self.rows)
        self.assertEqual(problems, [])
        self.assertEqual(recall, 1.0)

    def test_missing_neighbour_is_rejected(self):
        problems, _ = check.check_vectors(self.planned, self.rows[:-1])
        self.assertTrue(problems)

    def test_recall_below_floor_is_rejected(self):
        # every query's neighbour list replaced by the farthest corpus rows
        far = [(q, nb + 200 if nb < 200 else nb - 200, s, r)
               for q, nb, s, r in self.rows]
        problems, recall = check.check_vectors(self.planned, far)
        self.assertLess(recall, check.RECALL_AT_10_FLOOR)
        self.assertTrue(problems)


class CorpusCheck(unittest.TestCase):
    def setUp(self):
        self.planned = plan.corpus_plan(2, {"docs": 500})
        kinds = dict(zip(self.planned["ids"], self.planned["kinds"]))
        self.kept = [i for i, k in kinds.items() if k == "original"]
        self.kinds = kinds

    def test_expected_survivors_pass(self):
        problems, recall, removed = check.check_corpus(self.planned, self.kept)
        self.assertEqual(problems, [])
        self.assertEqual(recall, 1.0)

    def test_surviving_exact_copy_and_lost_original_are_rejected(self):
        exact = next(i for i, k in self.kinds.items() if k == "exact")
        self.assertTrue(check.check_corpus(self.planned, self.kept + [exact])[0])
        self.assertTrue(check.check_corpus(self.planned, self.kept[1:])[0])

    def test_low_near_dup_recall_is_rejected(self):
        near = [i for i, k in self.kinds.items() if k == "near"]
        problems, recall, _ = check.check_corpus(self.planned, self.kept + near)
        self.assertEqual(recall, 0.0)
        self.assertTrue(problems)


if __name__ == "__main__":
    unittest.main()
