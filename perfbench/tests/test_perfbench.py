"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_ingest  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

DIM = os.path.join(run.ROOT, "data", "sensor_group.csv")


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def gen(self, seed):
        with tempfile.TemporaryDirectory() as d:
            book = gen_ingest.generate(d, seed, DIM, 3000, 4000, 2000, 1.0)
            return tree_digest(d), book

    def test_ingest_generator_is_byte_identical_per_seed(self):
        a, book_a = self.gen(7)
        b, book_b = self.gen(7)
        c, _ = self.gen(8)
        self.assertEqual(a, b)
        self.assertEqual(book_a, book_b)
        self.assertNotEqual(a, c)

    def test_ingest_traffic_has_the_planted_shape(self):
        _, book = self.gen(3)
        n = book["lines"]
        self.assertEqual(n, 3000 + 4000 + 2000)
        self.assertTrue(0.005 * n < len(book["bad_lines"]) < 0.02 * n)
        # re-emits collapse under last-write-wins
        self.assertLess(book["store_rows"], n - len(book["bad_lines"]))

    def test_store_failures_count_one_per_bad_key(self):
        want = [("g", 1, 0, 5, 1), ("g", 1, 2, 6, 2), ("g", 2, 0, 7, 3)]
        self.assertEqual(gen_ingest.store_failures(want, want), 0)
        lost, doubled, wrong = want[1:], want + [want[0]], [("g", 1, 0, 9, 1)] + want[1:]
        self.assertEqual(gen_ingest.store_failures(lost, want), 1)
        self.assertEqual(gen_ingest.store_failures(doubled, want), 1)
        self.assertEqual(gen_ingest.store_failures(wrong, want), 1)
        self.assertEqual(gen_ingest.store_failures(want + [("h", 3, 0, 1, 4)], want), 1)
        self.assertEqual(gen_ingest.store_failures([], want), 3)

    def test_table_generator_is_byte_identical(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen_tables.write(a, 0.001)
            gen_tables.write(b, 0.001)
            self.assertEqual(tree_digest(a), tree_digest(b))


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 1001))
        p, v, n = metrics.tail(xs)
        self.assertEqual((p, n), (99.0, 1000))
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual(metrics.tail(list(range(10000)))[0], 99.9)
        self.assertEqual(metrics.tail(list(range(40)))[0], 75.0)
        self.assertEqual(metrics.tail(list(range(20)))[0], 50.0)

    def test_too_few_samples_falls_back_to_the_median(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0, 10.0]), (50.0, 2.5, 4))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "name": "root", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "name": "a", "start_ms": 10, "end_ms": 40},
            {"id": 3, "parent": 1, "name": "b", "start_ms": 30, "end_ms": 50},  # overlaps a
            {"id": 4, "parent": 1, "name": "c", "start_ms": 90, "end_ms": 120},  # past the root
            {"id": 5, "parent": 2, "name": "a1", "start_ms": 15, "end_ms": 25},
        ]
        s = metrics.self_times(spans)
        self.assertEqual(s[1], 100 - 40 - 10)
        self.assertEqual(s[2], 30 - 10)
        self.assertEqual(s[3], 20)
        self.assertEqual(s[5], 10)


class OpenLoopTest(unittest.TestCase):
    segs = [{"name": f"s{k}", "first": 10 * k, "lines": 10, "due_ms": 100 * k} for k in range(6)]

    def lat(self, calls):
        return metrics.visible_latencies(self.segs, calls)

    def test_stall_raises_the_latency_of_the_records_after_it(self):
        # one batch per segment, each visible 50 ms after it was due
        steady = [(10 * k, 10 * k + 10, 100 * k + 50) for k in range(6)]
        # the batch of segment 2 stalls for 450 ms, and the records that
        # queued up behind it become visible with it
        stalled = steady[:2] + [(20, 60, 700)]
        a, b = self.lat(steady), self.lat(stalled)
        self.assertEqual(a[:20], b[:20])
        self.assertTrue(all(y > x for x, y in zip(a[20:], b[20:])))
        self.assertEqual(b[20], 700 - 200)

    def test_latency_is_counted_from_the_due_time(self):
        # the generator wrote late, but the record was due at its slot
        calls = [(0, 60, 700)]
        self.assertEqual(self.lat(calls)[0], 700)
        self.assertEqual(self.lat(calls)[-1], 700 - 500)

    def test_unpublished_records_are_lost_and_bad_lines_skipped(self):
        lat = metrics.visible_latencies(self.segs, [(0, 30, 400), (30, 60, -1)], bad_lines=[0])
        self.assertEqual(len(lat), 59)
        self.assertEqual(sum(1 for x in lat if x is None), 30)


class PlanTest(unittest.TestCase):
    def test_face_order_is_a_seeded_shuffle_of_the_frozen_list(self):
        ref = run.load_reference()
        frozen = ref["faces_floor"]["faces"]
        a = run.face_plan(ref, "faces_floor", 1)
        self.assertEqual(a, run.face_plan(ref, "faces_floor", 1))
        self.assertEqual(sorted(a), sorted(frozen))
        self.assertNotEqual(a, run.face_plan(ref, "faces_floor", 2))
        # every face of a run has a reference digest, and no pad is timed
        for w in ("faces_floor", "faces_heavy"):
            self.assertTrue(set(ref[w]["faces"]) <= set(ref[w]["digests"]))
            self.assertFalse(set(ref[w]["faces"]) & set(ref[w]["pads"]))


if __name__ == "__main__":
    unittest.main()
