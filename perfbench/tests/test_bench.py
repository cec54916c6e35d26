"""Tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from bench import gen, stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples: index 89 has 10 above it
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_never_below_median(self):
        for n in range(1, 21):
            xs = list(range(n))
            value, _pct, _n = stats.tail(xs)
            self.assertGreaterEqual(value, stats.p50(xs))
            self.assertEqual(value, n // 2)

    def test_continuous_at_21(self):
        self.assertEqual(stats.tail(list(range(21)))[0], 10)
        self.assertEqual(stats.tail(list(range(22)))[0], 11)

    def test_empty(self):
        self.assertEqual(stats.tail([]), (None, None, 0))


class SelfTime(unittest.TestCase):
    def test_children_subtracted(self):
        spans = [(1, 0, "op", 1, 0, 100),
                 (2, 1, "store.a", 1, 10, 30),
                 (3, 1, "store.b", 1, 50, 60),
                 (4, 2, "inner", 1, 15, 20)]
        self.assertEqual(stats.self_times(spans), {1: 70, 2: 15, 3: 10, 4: 5})

    def test_overlapping_children_count_once(self):
        spans = [(1, 0, "op", 1, 0, 100),
                 (2, 1, "a", 1, 10, 50),
                 (3, 1, "b", 1, 40, 70)]
        self.assertEqual(stats.self_times(spans)[1], 40)

    def test_child_clipped_to_parent(self):
        spans = [(1, 0, "op", 1, 0, 100), (2, 1, "late", 1, 90, 130)]
        self.assertEqual(stats.self_times(spans)[1], 90)

    def test_self_times_sum_to_root(self):
        spans = [(1, 0, "op", 1, 0, 100), (2, 1, "a", 1, 5, 45),
                 (3, 2, "b", 1, 10, 20), (4, 1, "c", 1, 60, 95)]
        self.assertEqual(sum(stats.self_times(spans).values()), 100)

    def test_driver_gap(self):
        self.assertEqual(stats.driver_gap_ms(0, 100, [(10, 30), (20, 40), (90, 120)]), 60)


class Generator(unittest.TestCase):
    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            names = gen.generate(workload, seed, d)
            h = hashlib.sha256()
            for name in names:
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
            return h.hexdigest()

    def test_same_seed_same_inputs(self):
        for w in gen.WORKLOADS:
            self.assertEqual(self.digest(w, 7), self.digest(w, 7))

    def test_other_seed_other_inputs(self):
        for w in gen.WORKLOADS:
            self.assertNotEqual(self.digest(w, 7), self.digest(w, 8))

    def test_research_sessions(self):
        import random
        files = gen.research(random.Random(3), gen.vocabulary())
        history, sessions = files["history.jsonl"], files["sessions.jsonl"]
        queries = [s["query"] for s in sessions]
        for s in sessions:
            rep = s["repeat_of"]
            if rep >= 0:
                self.assertLess(rep, s["i"])
                self.assertEqual(s["query"], sessions[rep]["query"])
            elif rep < -1:
                self.assertEqual(s["query"], history[-1 - rep]["query"])
        fresh = [s["query"] for s in sessions if s["repeat_of"] == -1]
        self.assertEqual(len(fresh), len(set(fresh)))
        self.assertEqual(sum(q.endswith("?") for q in queries[:12]), 4)

    def test_history_vector_is_the_stub_embedding(self):
        # Research.StubAgents embeds "vector databases" to this vector (the
        # first values, as the JVM computes them in float arithmetic)
        v = gen.stub_embed("Vector Databases ")
        self.assertEqual(v[:4], [-0.29167, -0.133147, 0.448987, -0.901147])

    def test_stream_plants(self):
        import random
        files = gen.stream(random.Random(5), gen.vocabulary())
        history = {r["doc_id"]: r["text"] for r in files["history.jsonl"]}
        batches = files["batches.jsonl"]
        replay = [r for r in batches if r["seq"] == gen.STREAM_REPLAY_AT]
        self.assertTrue(replay and all(r["batch_id"] == gen.STREAM_REPLAY_AT - 1 for r in replay))
        for r in batches:
            if r["plant"] in ("cross_copy", "redelivery"):
                self.assertIn(r["text"], history.values())
            if r["plant"] == "redelivery":
                self.assertEqual(history[r["doc_id"]], r["text"])
        self.assertEqual(len(set(history.values())), len(history))


if __name__ == "__main__":
    unittest.main()
