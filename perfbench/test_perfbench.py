"""Tests for the benchmark itself, at a tiny input size.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the root of a source checkout with no other graft Spark JVM
running; the Spark tests build the bench JVM first (see run.py).
"""

import json
import shutil
import unittest

import inputs
import reference
import run

TINY = {"transcripts": {"users": 40, "reps": 2},
        "docs": {"base_docs": 60, "reps": 2}}


def table_digest(con, path):
    """Order-independent digest of every row of a generated table."""
    return con.execute(f"""SELECT count(*), sum(hash(md5(CAST(t AS VARCHAR))))
FROM read_parquet('{path}/*.parquet') t""").fetchone()


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.dir = run.BUILD / "test-inputs"
        shutil.rmtree(self.dir, ignore_errors=True)
        self.dir.mkdir(parents=True)
        self.con = inputs.connect()

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.dir, ignore_errors=True)

    def digests(self, write, size, seeds):
        out = []
        for i, seed in enumerate(seeds):
            path = self.dir / f"t{i}"
            write(self.con, seed, out_dir=str(path), **size)
            out.append(table_digest(self.con, path))
        return out

    def test_transcripts_repeat_for_a_seed_and_move_with_it(self):
        a, b, c = self.digests(inputs.write_transcripts, TINY["transcripts"], [7, 7, 8])
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertEqual(a[0], c[0])    # same shape, other planted content

    def test_docs_repeat_for_a_seed_and_move_with_it(self):
        a, b, c = self.digests(inputs.write_docs, TINY["docs"], [7, 7, 8])
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_reference_finds_the_planted_near_duplicates(self):
        path = self.dir / "docs"
        inputs.write_docs(self.con, 3, out_dir=str(path), **TINY["docs"])
        d = reference.dedup_digest(self.con, f"read_parquet('{path}/*.parquet')")
        # two replicas of base_docs / NEAR_MOD planted copies, one pair each
        planted = 2 * len(range(3 % inputs.NEAR_MOD, 60, inputs.NEAR_MOD))
        self.assertGreaterEqual(d["pairs"], planted)
        self.assertLessEqual(d["survivors"], 2 * 60)


class SparkTest(unittest.TestCase):
    """The Spark outputs against the DuckDB digests, and the metric names
    against BENCHMARK.json."""

    bench = json.loads((run.ROOT / "BENCHMARK.json").read_text())

    def test_traced_run_matches_reference_and_emits_declared_layers(self):
        _, result = run.run_benchmark("qf_checkpoint", 5, 1, 1, sizes=TINY)
        self.assertTrue(result["correct"], result)
        self.assertEqual(result["failed"], 0)
        self.assertEqual(set(result["metrics"]),
                         {m["name"] for m in self.bench["per_layer"]})

    def test_timed_runs_match_reference_and_emit_declared_metrics(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                _, result = run.run_benchmark(w, 6, 1, 0, sizes=TINY)
                self.assertTrue(result["correct"], result)
                self.assertGreaterEqual(result["attempted"], 1)
                self.assertEqual(set(result["metrics"]),
                                 {m["name"] for m in self.bench["end_to_end"]})
                for m in result["metrics"].values():
                    self.assertGreater(m["value"], 0)


if __name__ == "__main__":
    unittest.main()
