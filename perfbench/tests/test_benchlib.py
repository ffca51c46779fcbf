"""Tests of the benchmark's own logic. Run from the root of a checkout:
  python3 -m unittest discover -s perfbench/tests
"""
import json
import random
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import benchlib as bl  # noqa: E402
import compare  # noqa: E402
import run  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent.parent


class TailTest(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        xs = list(range(1, 101))
        random.Random(0).shuffle(xs)
        self.assertEqual(bl.tail(xs), (90, 90.0, 100))

    def test_ten_samples_beyond_the_value(self):
        xs = [float(i) for i in range(37)]
        value, pct, n = bl.tail(xs)
        self.assertEqual(sum(x > value for x in xs), 10)
        self.assertAlmostEqual(pct, 100 * 27 / 37)
        self.assertEqual(n, 37)

    def test_eleven_samples_is_the_smallest_sample_with_a_tail(self):
        self.assertEqual(bl.tail(range(11)), (0, 100 / 11, 11))
        with self.assertRaises(ValueError):
            bl.tail(range(10))


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(name, sid, parent, a, b):
        return {"name": name, "id": sid, "parent": parent,
                "start_ns": a, "end_ns": b}

    def test_nested_and_overlapping_children(self):
        s = self.span
        spans = [
            s("query", "q", "", 0, 100),
            s("construct", "c", "q", 0, 60),
            s("action", "a", "q", 70, 100),
            # two jobs that overlap each other inside construct
            s("job", "j1", "c", 10, 30),
            s("job", "j2", "c", 20, 40),
            # a job that outlives its phase counts only inside it
            s("job", "j3", "a", 90, 120),
        ]
        self.assertEqual(bl.self_times(spans), {
            "query": 100 - 90,      # children cover 0-60 and 70-100
            "construct": 60 - 30,   # jobs cover 10-40
            "action": 30 - 10,      # j3 covers 90-100 of 70-100
            "job": 20 + 20 + 30,    # leaves keep their whole duration
        })

    def test_covered_ignores_children_outside_the_parent(self):
        self.assertEqual(bl.covered((10, 20), [(0, 5), (25, 30)]), 0)
        self.assertEqual(bl.covered((10, 20), [(0, 30)]), 10)
        self.assertEqual(bl.covered((0, 10), [(2, 4), (3, 5), (6, 7)]), 4)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = Path(self.tmp.name)
        rows = 50
        self.table = pa.table({
            "id": pa.array(range(rows), pa.int64()),
            "name": pa.array([f"r{i % 7}" for i in range(rows)]),
            "vec": pa.array([[float(i), float(-i)] for i in range(rows)],
                            pa.list_(pa.float32())),
        }).replace_schema_metadata({"origin": "test"})
        self.src = self.dir / "t.parquet"
        pq.write_table(self.table, self.src)

    def tearDown(self):
        self.tmp.cleanup()

    def rows(self, t):
        return sorted(map(json.dumps, t.to_pylist()))

    def test_schema_and_row_multiset_are_kept(self):
        dst = self.dir / "out.parquet"
        bl.permute_table(self.src, dst, 7, "t")
        out = pq.read_table(dst)
        self.assertTrue(out.schema.equals(pq.read_table(self.src).schema,
                                          check_metadata=True))
        self.assertEqual(out.schema.metadata[b"origin"], b"test")
        self.assertEqual(self.rows(out), self.rows(self.table))
        self.assertNotEqual(out.column("id").to_pylist(), list(range(50)))

    def test_same_seed_same_order_other_seed_other_order(self):
        order = [bl.permutation(50, s, "t").tolist() for s in (7, 7, 8)]
        self.assertEqual(order[0], order[1])
        self.assertNotEqual(order[0], order[2])
        self.assertNotEqual(bl.permutation(50, 7, "u").tolist(), order[0])

    def test_check_rejects_a_changed_table(self):
        perm = bl.permutation(50, 7, "t")
        shuffled = self.table.take(pa.array(perm))
        bl.check_permuted(self.table, shuffled, perm)
        # same row count, one row duplicated and one lost
        dropped = pa.concat_tables([shuffled.slice(0, 49), shuffled.slice(0, 1)])
        with self.assertRaises(ValueError):
            bl.check_permuted(self.table, dropped, perm)
        with self.assertRaises(ValueError):
            bl.check_permuted(self.table, shuffled.drop_columns(["vec"]), perm)

    def test_generate_input_writes_one_file_per_table(self):
        src, dst = self.dir / "src", self.dir / "dst"
        src.mkdir()
        for t in bl.TABLES:
            pq.write_table(self.table, src / f"{t}.parquet")
        bl.generate_input(src, dst, 3)
        self.assertEqual(sorted(p.name for p in dst.iterdir()),
                         sorted(f"{t}.parquet" for t in bl.TABLES))


class DigestTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = bl.digest(["b", "a"], ["int", "float"], [(1, 0.5), (2, 1 / 3)])
        b = bl.digest(["a", "b"], ["float", "int"], [(1 / 3, 2), (0.5, 1)])
        self.assertEqual(a, b)
        self.assertIsNone(bl.mismatch(a, b))

    def test_values_compare_at_ten_significant_digits(self):
        a = bl.digest(["x"], ["float"], [(0.1 + 0.2,)])
        b = bl.digest(["x"], ["float"], [(0.3,)])
        c = bl.digest(["x"], ["float"], [(0.3000001,)])
        self.assertEqual(a, b)
        self.assertIn("sha256", bl.mismatch(a, c))

    def test_type_classes_are_part_of_the_digest(self):
        a = bl.digest(["x"], ["int"], [(1,)])
        b = bl.digest(["x"], ["float"], [(1,)])
        self.assertIn("types", bl.mismatch(a, b))


class ProvenanceTest(unittest.TestCase):
    def record(self, **kw):
        prov = {"commit": "a", "seed": 1, "nproc": 4, "local_n": 4,
                "driver_heap": "2g", "jit_flags": "-XX:TieredStopAtLevel=1",
                "spark": "4.1.2", "jdk": "17",
                "sf": "0.01", "workload": "relational", "keys_sha256": "k"}
        prov.update(kw)
        return {"provenance": prov, "end_to_end": {"pass_s": [1.0, "s"]}}

    def test_commit_and_seed_may_differ(self):
        a, b = self.record(), self.record(commit="b", seed=2)
        self.assertEqual(bl.incomparable(a["provenance"], b["provenance"]), [])
        self.assertEqual(compare.refusals([a], [b]), [])

    def test_environment_differences_are_refused(self):
        a = self.record()
        for field, value in (("nproc", 32), ("local_n", 8), ("sf", "0.1"),
                             ("driver_heap", "8g"), ("jit_flags", ""),
                             ("keys_sha256", "x"),
                             ("spark", "4.0.0"), ("jdk", "21")):
            b = self.record(**{field: value})
            self.assertEqual(bl.incomparable(a["provenance"], b["provenance"]),
                             [field])
            self.assertTrue(compare.refusals([a], [b]))
            with self.assertRaises(SystemExit):
                compare.compare([a], [b])


class MetricNamesTest(unittest.TestCase):
    """run.py must print exactly the metrics BENCHMARK.json declares."""

    @staticmethod
    def raw():
        def key(name, traced):
            row = {"key": name, "s": 1.0, "construct_s": 0.5, "plan_s": 0.1,
                   "action_s": 0.4, "start_ns": 0, "end_ns": 10}
            if traced:
                row.update(exchanges=1, broadcasts=1, partial_in=10,
                           partial_out=2, storage_mb=1.5)
            return row
        passes = [{"pass": i, "traced": i in (1, 2), "wall_s": 2.0, "gc_s": 0.1,
                   "keys": [key("q01", i in (1, 2)), key("d08", i in (1, 2))]}
                  for i in range(4)]
        passes[0]["keys"][1]["memo_hit"] = True
        counts = dict.fromkeys(("tasks", "task_failures", "stages", "cpu_ns",
                                "input_bytes", "shuffle_write_bytes",
                                "shuffle_write_records", "shuffle_write_ns",
                                "shuffle_read_bytes", "spill_bytes"), 1)
        return {"workload": "w", "session_s": 1.0, "warm_s": 2.0,
                "setup_s": 3.0, "peak_rss_mb": 900.0, "cores": 4,
                "passes": passes, "one_core_pass": {"wall_s": 2.5},
                "counters": {"w/1/q01/action": counts, "w/2/q01/action": counts}}

    def test_names_and_units_match_benchmark_json(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        spans = [{"name": "job", "id": "job1", "parent": "w/1/q01/construct",
                  "start_ns": 0, "end_ns": 5, "site": "parquet at Tables.scala:14"}]
        layer, _ = run.layer_metrics(self.raw(), spans, 7, 4)
        e2e, _ = run.end_to_end(self.raw())
        for declared, printed in ((spec["per_layer"], layer),
                                  (spec["end_to_end"], e2e)):
            self.assertEqual({m["name"]: m["unit"] for m in declared},
                             {k: u for k, (_, u) in printed.items()})


if __name__ == "__main__":
    unittest.main()
