"""Tests of the benchmark's own helpers (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(stats.percentile(values, 50), 50)
        self.assertEqual(stats.percentile(values, 95), 95)
        self.assertEqual(stats.percentile(values, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_tail_leaves_ten_samples_beyond(self):
        # 100 samples: p99 and p95 leave 1 and 5 beyond, p90 leaves 10
        self.assertEqual(stats.tail(list(range(1, 101))), (90.0, 90))
        # 1000 samples: p99 leaves exactly 10 beyond
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990))
        # 20 000 samples: p99.9 leaves 20 beyond
        self.assertEqual(stats.tail(list(range(20000)))[0], 99.9)

    def test_tail_needs_enough_samples(self):
        self.assertIsNone(stats.tail(list(range(30))))
        self.assertEqual(stats.tail(list(range(40))), (75.0, 29))

    def test_quartiles(self):
        values = [10.0, 12.0, 11.0, 13.0, 9.0, 14.0, 10.5, 11.5, 12.5, 9.5]
        self.assertEqual(stats.quartiles(values), tuple(statistics.quantiles(values, n=4)))
        self.assertEqual(stats.quartiles([1, 2, 3, 4, 5]), (1.5, 3, 4.5))


class SpanTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, op, layer, start, end):
        return {"id": i, "parent": parent, "op": op, "layer": layer,
                "start_ns": start, "end_ns": end}

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_of_nested_spans(self):
        s = self.span
        spans = [
            s(1, 0, 1, "etl", 0, 100),      # the op
            s(2, 1, 1, "kfs", 10, 60),      # a child ...
            s(3, 2, 1, "spark", 20, 30),    # ... with a child of its own
            s(4, 1, 1, "spark", 70, 90),    # two parallel jobs
            s(5, 1, 1, "spark", 80, 100),
            s(6, 0, 2, "ops", 0, 40),       # a second op
            s(7, 6, 2, "spark", 30, 50),    # a child overrunning its parent
        ]
        by_layer, walls, by_op = stats.self_times(spans)
        self.assertEqual(walls, {1: 100, 2: 40})
        self.assertEqual(by_op[(1, "etl")], 20)     # 0-10 and 60-70
        self.assertEqual(by_op[(1, "kfs")], 40)     # 10-20 and 30-60
        self.assertEqual(by_op[(1, "spark")], 40)   # 20-30, 70-80, 80-90 shared, 90-100
        self.assertEqual(by_op[(2, "ops")], 30)
        self.assertEqual(by_op[(2, "spark")], 10)   # clipped to its parent
        # self times account for each op's wall time exactly
        for op, wall in walls.items():
            self.assertEqual(sum(v for (o, _), v in by_op.items() if o == op), wall)
        self.assertEqual(sum(by_layer.values()), 140)


class InputDigestTest(unittest.TestCase):
    def test_same_seed_same_digest_other_seed_other_digest(self):
        for workload in gen.GENERATORS:
            with self.subTest(workload=workload):
                a = gen.generate(workload, 7, 2).digest()
                b = gen.generate(workload, 7, 2).digest()
                c = gen.generate(workload, 8, 2).digest()
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_the_workloads_and_template_metrics(self):
        self.assertEqual({w["name"] for w in workloads.SPEC["workloads"]},
                         set(workloads.LOADS))
        for t in gen.TEMPLATES:
            for k in ("parse", "plan", "exec"):
                self.assertIn(f"kafsql.{k}_ms.{t}", workloads.PER_LAYER)


class CheckTest(unittest.TestCase):
    def test_offsets_of_a_checkpoint(self):
        self.assertEqual(workloads.parse_offsets('{"events/0":200,"events/11":4000}'),
                         {0: 200, 11: 4000})

    def test_group_rows_compare_numerically(self):
        expected = [("eu", "2", 30.0), ("na", "1", 10.0)]
        self.assertTrue(workloads.rows_match(
            "group_json", [("na", "1", "10.0"), ("eu", "2", "3.0E1")], expected))
        self.assertFalse(workloads.rows_match(
            "group_json", [("na", "1", "10.0"), ("eu", "2", "31.0")], expected))

    def test_read_must_match_one_committed_batch_in_every_partition(self):
        # partition p holds key "k" at offsets 0..9; a state is the newest offset
        def state(p, h):
            return {"k": h - 1} if h else {}
        committed = [{0: 2, 1: 2}, {0: 4, 1: 4}, {0: 6, 1: 6}]
        ok = {0: {"k": 3}, 1: {"k": 3}}
        torn = {0: {"k": 5}, 1: {"k": 3}}
        self.assertTrue(workloads.consistent_read(ok, {}, committed, state, 2))
        self.assertFalse(workloads.consistent_read(torn, {}, committed, state, 2))
        # a state older than the last finished lane call is stale
        self.assertFalse(workloads.consistent_read(ok, {0: 6, 1: 6}, committed, state, 2))

    def test_last_answers_cover_the_clock_between_send_and_answer(self):
        estate = gen.generate("pgwire_kafsql", 3, 2).model["estate"]
        ts = estate.order_ts
        now = ts[-1] + 1000
        # a 60 s window whose lower end passes an order while the query runs
        edge = next(t for t in ts if t > now - 60_000) + 60_000
        got = estate.answers("last_count", (60,), edge - 5, edge + 5)
        self.assertEqual(got, [estate.answer("last_count", (60,), edge - 5),
                               estate.answer("last_count", (60,), edge + 1)])
        self.assertNotEqual(got[0], got[1])
        self.assertEqual(len(estate.answers("tail", (1, 5), edge - 5, edge + 5)), 1)

    def test_model_answers_match_the_estate(self):
        inputs = gen.generate("pgwire_kafsql", 3, 2)
        estate = inputs.model["estate"]
        per_partition = gen.PG["orders"] // gen.PG["partitions"]
        self.assertEqual(estate.answer("last_count", (10 ** 9,)), [(str(gen.PG["orders"]),)])
        tail = estate.answer("tail", (2, 5))
        self.assertEqual([r[1] for r in tail],
                         [str(o) for o in range(per_partition - 5, per_partition)])
        offsets = estate.answer("show_offsets", ("orders",))
        self.assertEqual(offsets[0], ("0", "0", str(per_partition)))


if __name__ == "__main__":
    unittest.main()
