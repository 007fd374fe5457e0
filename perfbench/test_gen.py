"""Spec for the seeded input generator: one seed always gives byte-identical
inputs and op streams, two seeds give different ones.

    python3 perfbench/test_gen.py
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402


def inputs_fingerprint(workload, seed):
    with tempfile.TemporaryDirectory() as d:
        run.make_inputs(workload, seed, "tiny", os.path.join(d, "inputs"))
        return gen.fingerprint(os.path.join(d, "inputs"))


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(inputs_fingerprint(w, 5), inputs_fingerprint(w, 5))

    def test_other_seed_other_bytes(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.assertNotEqual(inputs_fingerprint(w, 5), inputs_fingerprint(w, 6))

    def test_op_streams(self):
        self.assertEqual(gen.lake_stream(3, 2, 50, 400), gen.lake_stream(3, 2, 50, 400))
        self.assertNotEqual(gen.lake_stream(3, 2, 50, 400), gen.lake_stream(4, 2, 50, 400))
        pool = run.ANALYTICS_POOL
        self.assertEqual(gen.analytics_draw(3, pool, 200), gen.analytics_draw(3, pool, 200))
        self.assertNotEqual(gen.analytics_draw(3, pool, 200), gen.analytics_draw(4, pool, 200))

    def test_draw_rounds_hold_the_whole_pool(self):
        pool = run.ANALYTICS_POOL
        draw = gen.analytics_draw(9, pool, 3 * len(pool))
        for r in range(3):
            self.assertEqual(sorted(draw[r * len(pool):(r + 1) * len(pool)]), sorted(pool))

    def test_replicas_are_distinct(self):
        t = gen.tables(2, 0.01)
        docs, embs = gen.curation_corpus(2, t["documents"], t["embeddings"], 3)
        self.assertEqual(docs.num_rows, 3 * t["documents"].num_rows)
        ids = docs.column("doc_id").to_pylist()
        self.assertEqual(len(set(ids)), len(ids))
        texts = docs.column("text").to_pylist()
        n = t["documents"].num_rows
        # seeded edits: most replica documents differ from their original
        changed = sum(texts[i] != texts[n + i] for i in range(n))
        self.assertGreater(changed, 0.9 * n)

    def test_lake_model_paths_agree(self):
        # a version read and the next GROUP BY of the same table with no
        # write in between must describe the same rows
        ops = gen.lake_stream(1, 3, 40, 320)["ops"]
        pairs = 0
        for i, op in enumerate(ops):
            if op["kind"] != "version" or op["table"] != "mor":
                continue
            for nxt in ops[i + 1:]:
                if nxt["table"] in ("mor", "both") and nxt["kind"] in gen.WRITES | {"maintain"}:
                    break
                if nxt["kind"] == "groupby":
                    n, s, x, ln = op["expect"]
                    rows = nxt["expect"]
                    xor = 0
                    for r in rows:
                        xor ^= r[3]
                    self.assertEqual([n, s, x, ln], [sum(r[1] for r in rows),
                                                     sum(r[2] for r in rows), xor,
                                                     sum(r[4] for r in rows)])
                    pairs += 1
                    break
        self.assertGreater(pairs, 0)

    def test_live_size_stays_level(self):
        live = [op["live_bytes"] for op in gen.lake_stream(1, 4, 40, 320)["ops"]]
        # deletes trim the tail back, so the live size does not drift
        self.assertLess(max(live), 1.5 * min(live))


if __name__ == "__main__":
    unittest.main()
