"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import tempfile
import unittest

import gen
import metrics as M
import oracle
import run


class TailPercentile(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 201))  # 200 samples: p95 leaves 10 beyond
        self.assertEqual(M.tail_percentile(xs), (95.0, 190, 200))

    def test_steps_down_the_ladder(self):
        self.assertEqual(M.tail_percentile(list(range(100)))[0], 90.0)
        self.assertEqual(M.tail_percentile(list(range(40)))[0], 75.0)
        self.assertEqual(M.tail_percentile(list(range(20)))[0], 50.0)

    def test_none_below_twenty_samples(self):
        self.assertIsNone(M.tail_percentile(list(range(19))))

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(M.tail_percentile([5, 1, 4] * 10), M.tail_percentile([1, 4, 5] * 10))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_counted_once(self):
        spans = [
            {"id": 0, "parent": None, "start": 0, "end": 10},
            {"id": 1, "parent": 0, "start": 1, "end": 5},
            {"id": 2, "parent": 0, "start": 3, "end": 7},   # overlaps span 1
            {"id": 3, "parent": 2, "start": 4, "end": 6},
        ]
        st = M.self_times(spans)
        self.assertEqual(st[0], 10 - 6)   # children cover [1, 7]
        self.assertEqual(st[1], 4)
        self.assertEqual(st[2], 4 - 2)
        self.assertEqual(st[3], 2)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [{"id": 0, "parent": None, "start": 0, "end": 4},
                 {"id": 1, "parent": 0, "start": 3, "end": 9}]
        self.assertEqual(M.self_times(spans)[0], 3)

    def test_union_length(self):
        self.assertEqual(M.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(M.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(M.union_length([]), 0)


class Attribution(unittest.TestCase):
    def test_items_go_to_the_operation_whose_interval_holds_them(self):
        ops = [{"start": 10, "end": 20}, {"start": 0, "end": 5}, {"start": 30, "end": 40}]
        jobs = [{"id": i, "start": t} for i, t in enumerate([1, 12, 20, 25, 31, 50, -1])]
        got = [[j["id"] for j in js] for js in M.attribute(jobs, ops)]
        self.assertEqual(got, [[1, 2], [0], [4]])

    def test_custom_time_key(self):
        ops = [{"start": 0, "end": 1}]
        got = M.attribute([{"at": 0.5, "start": 9}], ops, at=lambda q: q["at"])
        self.assertEqual(len(got[0]), 1)


class ContentHash(unittest.TestCase):
    rows = [(1, "a", 2.5, None), (2, "b", -0.0, 3), (1, "a", 2.5, None)]

    def test_row_order_does_not_matter(self):
        cols = ["id", "s", "x", "y"]
        self.assertEqual(oracle.content_hash(cols, self.rows),
                         oracle.content_hash(cols, list(reversed(self.rows))))

    def test_column_order_does_not_matter(self):
        a = oracle.content_hash(["id", "s"], [(1, "a"), (2, "b")])
        b = oracle.content_hash(["s", "id"], [("a", 1), ("b", 2)])
        self.assertEqual(a, b)

    def test_multiset_and_values_matter(self):
        cols = ["id", "s", "x", "y"]
        base = oracle.content_hash(cols, self.rows)
        self.assertNotEqual(base, oracle.content_hash(cols, self.rows[:2]))
        self.assertNotEqual(base, oracle.content_hash(cols, [(1, "a", 2.5, None), (2, "b", 0.5, 3),
                                                              (1, "a", 2.5, None)]))

    def test_numbers_compare_by_value(self):
        import decimal
        self.assertEqual(oracle.canon(3), oracle.canon(3.0))
        self.assertEqual(oracle.canon(decimal.Decimal("2.50")), oracle.canon(2.5))
        self.assertNotEqual(oracle.canon("3"), oracle.canon(3))


class Generator(unittest.TestCase):
    @staticmethod
    def digest(seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(seed, 0.001, d, serve_calls=8)
            h = hashlib.sha256()
            for base, _, files in sorted(os.walk(d)):
                for f in sorted(files):
                    h.update(f.encode())
                    with open(os.path.join(base, f), "rb") as fh:
                        h.update(fh.read())
            return h.hexdigest()

    def test_same_seed_same_bytes_other_seed_other_inputs(self):
        self.assertEqual(self.digest(7), self.digest(7))
        self.assertNotEqual(self.digest(7), self.digest(8))

    def test_graph_sizes_straddle_the_local_path_cutover(self):
        for seed in (1, 2):
            small = gen.edges(seed, "graph_small", gen.GRAPH_SMALL_EDGES)
            large = gen.edges(seed, "graph_large", gen.GRAPH_LARGE_EDGES)
            self.assertLessEqual(small.num_rows, gen.CC_LOCAL_EDGE_LIMIT)
            self.assertGreater(large.num_rows, gen.CC_LOCAL_EDGE_LIMIT)

    def test_serve_mutations_touch_disjoint_ids(self):
        calls = gen.serve_stream(3, 500, 500, 32)
        ids = [i for c in calls if c["op"] != "serve" for i in c["ids"]]
        self.assertEqual(len(ids), len(set(ids)))
        self.assertEqual([c["op"] for c in calls[:4]], ["serve", "upsert", "serve", "remove"])


class Workloads(unittest.TestCase):
    def test_every_declared_query_in_exactly_one_workload(self):
        specs = run.load_workloads()
        self.assertEqual(set(specs), set(run.WORKLOADS))
        names = [n for w in run.WORKLOADS for n in run.members(specs[w])]
        self.assertEqual(len(names), 131)
        self.assertEqual(len(set(names)), 131)
        self.assertEqual({w: len(run.members(specs[w])) for w in run.WORKLOADS},
                         {"curation": 82, "relational": 28, "operators": 21})


if __name__ == "__main__":
    unittest.main()
