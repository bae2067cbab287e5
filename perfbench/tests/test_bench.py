"""Tests of the benchmark's own code. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import sample_keys  # noqa: E402
from stats import covered, gmean_of_medians, self_time, space_amp, tail  # noqa: E402

SMALL = dict(gen.CORPUS, docs=300)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_corpus(self):
        with tempfile.TemporaryDirectory() as d:
            base = Path(d) / "base"
            base.mkdir()
            pq.write_table(pa.table({"x": [1]}), base / "orders.parquet")
            digests = []
            for run in ("a", "b"):
                gen.write_corpus(Path(d) / run, 7, base, SMALL)
                digests.append(hashlib.sha256(
                    (Path(d) / run / "documents.parquet").read_bytes()).hexdigest())
                self.assertTrue((Path(d) / run / "orders.parquet").is_symlink())
            self.assertEqual(digests[0], digests[1])

    def test_other_seed_gives_other_corpus(self):
        self.assertNotEqual(gen.corpus_rows(1, **SMALL), gen.corpus_rows(2, **SMALL))

    def test_check_corpus_is_a_prefix_of_the_timed_one(self):
        small = gen.corpus_rows(3, **dict(SMALL, docs=100))
        self.assertEqual(small, gen.corpus_rows(3, **SMALL).slice(0, 100))

    def test_corpus_shape_and_dup_share(self):
        t = gen.corpus_rows(5, **dict(gen.CORPUS, docs=2000))
        self.assertEqual(t.column_names, ["doc_id", "text", "lang", "source", "n_chars"])
        texts = t.column("text").to_pylist()
        self.assertEqual(t.column("n_chars").to_pylist(), [len(x) for x in texts])
        exact = 2000 - len(set(texts))
        self.assertGreater(exact, 10)
        self.assertLess(exact, 100)

    def test_key_orders_are_seeded_permutations(self):
        a = gen.key_orders(gen.OLAP_KEYS, 9, 5)
        self.assertEqual(a, gen.key_orders(gen.OLAP_KEYS, 9, 5))
        self.assertNotEqual(a, gen.key_orders(gen.OLAP_KEYS, 10, 5))
        for order in a:
            self.assertEqual(sorted(order), sorted(gen.OLAP_KEYS))

    def test_ddl_script_is_seeded_and_complete(self):
        s = gen.ddl_script(4, **gen.DDL)
        self.assertEqual(s, gen.ddl_script(4, **gen.DDL))
        self.assertNotEqual(s, gen.ddl_script(5, **gen.DDL))
        classes = [c for c, _, _ in s]
        self.assertEqual(classes.count("insert"), gen.DDL["batches"])
        self.assertEqual(classes.count("read"), gen.DDL["batches"] + 1 + 1)
        self.assertEqual(classes.count("mutation"), 2)
        inserts = sorted(sql for c, sql, _ in s if c == "insert")
        self.assertEqual(len(set(inserts)), gen.DDL["batches"])


class PercentileRuleTest(unittest.TestCase):
    def test_too_few_samples(self):
        self.assertIsNone(tail(list(range(20))))

    def test_known_values(self):
        self.assertEqual(tail(list(range(1, 101))), (90, 90, 100))
        self.assertEqual(tail(list(range(1, 1001))), (99, 990, 1000))
        self.assertEqual(tail(list(range(21))), (52, 10, 21))

    def test_highest_percentile_keeping_ten_beyond(self):
        for n in range(21, 700):
            xs = list(range(n))
            pct, value, count = tail(xs)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(x > value for x in xs), 10)
            # one percentile higher leaves fewer than ten beyond it
            higher = -(-(pct + 1) * n // 100)
            self.assertLess(n - higher, 10)


class GmeanTest(unittest.TestCase):
    def test_geometric_mean_of_per_op_medians(self):
        ops = [{"name": "a", "ms": m} for m in (10, 40, 20)] + \
              [{"name": "b", "ms": m} for m in (80, 80)]
        self.assertAlmostEqual(gmean_of_medians(ops), 40.0)
        self.assertIsNone(gmean_of_medians([]))


class SpanArithmeticTest(unittest.TestCase):
    def test_covered_unions_and_clips(self):
        self.assertEqual(covered((0, 100), [(10, 20), (15, 30), (90, 120), (200, 300)]), 30)
        self.assertEqual(covered((0, 100), []), 0)

    def test_self_time(self):
        self.assertEqual(self_time((0, 100), [(10, 20), (15, 30)]), 80)
        self.assertEqual(self_time((0, 100), [(0, 100), (20, 40)]), 0)

    def test_layer_metrics_attach_jobs_and_phases(self):
        res = {
            "cores": 4,
            "spans": [
                {"id": 0, "parent": -1, "name": "op", "op": 1, "start_us": 0, "end_us": 100000},
                {"id": 1, "parent": 0, "name": "construct", "op": 1,
                 "start_us": 0, "end_us": 40000},
                {"id": 2, "parent": 0, "name": "exec", "op": 1,
                 "start_us": 40000, "end_us": 100000},
            ],
            "ops": [{"seq": 1, "pass": 2, "name": "k", "cls": "stmt", "ms": 100.0,
                     "ok": True, "traced": True}],
            "resolve": [{"table": "t", "ms": 5.0}],
            "residue": [{"seq": 1, "rdds": 2, "bytes": 1048576}],
            "ddl_files": [],
            "translate": [{"seq": 1, "ms": 0.25}, {"seq": 9, "ms": 5.0}],
            "events": {
                "jobs": [{"id": 0, "label": "1", "start_ms": 10, "end_ms": 30, "stages": [0]},
                         {"id": 1, "label": "2", "start_ms": 50, "end_ms": 90, "stages": [1]}],
                "stages": [
                    {"id": 0, "job": 0, "label": "1", "start_ms": 10, "end_ms": 30,
                     "tasks": 1, "run_ms": 20, "cpu_ns": 10_000_000, "gc_ms": 0,
                     "shuffle_write": 0, "input": 100, "spill": 0, "peak_mem": 0, "output": 0},
                    {"id": 1, "job": 1, "label": "2", "start_ms": 50, "end_ms": 90,
                     "tasks": 4, "run_ms": 120, "cpu_ns": 0, "gc_ms": 3,
                     "shuffle_write": 10, "input": 0, "spill": 0, "peak_mem": 1048576,
                     "output": 0}],
                "qes": [{"fn": "construct", "end_us": 40000, "graft_rule_ns": 500000,
                         "phases": {"analysis": [1, 5]}},
                        {"fn": "save", "end_us": 100000, "graft_rule_ns": 0,
                         "phases": {"optimization": [41, 45], "planning": [45, 48]}}],
            },
        }
        m = {k: v for k, (v, _) in layers.layer_metrics(res).items()}
        self.assertEqual(m["queries.construct_ms"], 40.0)
        self.assertEqual(m["queries.construct_jobs"], 1.0)
        self.assertAlmostEqual(m["queries.construct_share"], 0.4)
        self.assertEqual(m["spark.jobs"], 2.0)
        self.assertEqual(m["spark.tasks"], 5.0)
        self.assertEqual(m["spark.analysis_ms"], 4.0)
        self.assertEqual(m["spark.optimization_ms"], 4.0)
        self.assertEqual(m["plans.rule_ms"], 0.5)
        # construct 40 ms less its job (20) and its analysis phase (4)
        self.assertEqual(m["self.construct_ms"], 16.0)
        # exec 60 ms less its job (40) and its phases (41-48 ms: 7)
        self.assertEqual(m["self.exec_ms"], 13.0)
        self.assertEqual(m["self.op_ms"], 0.0)
        self.assertAlmostEqual(m["spark.parallel_eff"], 120 / (60 * 4))
        self.assertEqual(m["operators.residue_rdds"], 2.0)
        self.assertEqual(m["operators.residue_mb"], 1.0)
        self.assertEqual(m["spark.peak_exec_mem_mb"], 1.0)
        # only the probe of a traced op counts
        self.assertEqual(m["functions.translate_ms"], 0.25)


class SampleRuleTest(unittest.TestCase):
    KEYS = {"a": (1.0, 0.1), "b": (2.0, 0.5), "c": (3.0, 0.2),
            "d": (4.0, 0.9), "e": (5.0, 0.3), "f": (6.0, 0.4)}

    def test_one_key_per_latency_stratum_nearest_its_median_share(self):
        self.assertEqual(sample_keys.stratified(self.KEYS, 2), ["c", "f"])
        self.assertEqual(sample_keys.stratified(self.KEYS, 6), sorted(self.KEYS))

    def test_summary(self):
        s = sample_keys.summary(self.KEYS, ["c", "f"])
        self.assertEqual((s["p50_ms"], s["p90_ms"], s["pass_s"]), (3.0, 6.0, 0.009))
        self.assertAlmostEqual(s["construct_share"], (3 * 0.2 + 6 * 0.4) / 9)


class SpaceAmpTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(space_amp(300, 200), 1.5)
        self.assertIsNone(space_amp(300, 0))


class CompareTest(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE a AS SELECT * FROM (VALUES (1, 'x', 1.5), (2, 'y', 2.5)) t(k, s, v)")

    def test_equal_rows_in_any_order_and_column_order(self):
        want = "(SELECT v, s, k FROM (VALUES (2.5, 'y', 2), (1.5, 'x', 1)) t(v, s, k))"
        self.assertIsNone(check.compare(self.con, "same", "a", want))

    def test_changed_cell_and_missing_row(self):
        changed = "(SELECT * FROM (VALUES (1, 'x', 1.5), (2, 'y', 2.75)) t(k, s, v))"
        self.assertIn("only in graft's", check.compare(self.con, "cell", "a", changed))
        short = "(SELECT * FROM (VALUES (1, 'x', 1.5)) t(k, s, v))"
        self.assertIsNotNone(check.compare(self.con, "rows", "a", short))

    def test_column_names_differ(self):
        other = "(SELECT * FROM (VALUES (1, 'x', 1.5)) t(k, s, w))"
        self.assertIn("columns", check.compare(self.con, "cols", "a", other))


if __name__ == "__main__":
    unittest.main()
