"""Self-tests of the benchmark's own code.

    python3 -m unittest discover -s e2ebench

The traced-run test starts the harness twice (several minutes); it runs
when E2EBENCH_TRACED=1 is set.
"""

import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class CorpusTest(unittest.TestCase):

    def test_same_seed_same_corpus_and_expectations(self):
        for workload in run.WORKLOADS:
            files_a, doc_a = corpus.plan(5, workload)
            files_b, doc_b = corpus.plan(5, workload)
            self.assertEqual(files_a, files_b)
            self.assertEqual(json.dumps(doc_a, sort_keys=True),
                             json.dumps(doc_b, sort_keys=True))

    def test_other_seed_other_corpus(self):
        self.assertNotEqual(corpus.plan(5, "serve")[0],
                            corpus.plan(6, "serve")[0])

    def test_model_counts_agree(self):
        repo = corpus.Repo(7)
        counts = repo.kg_counts()
        self.assertEqual(counts["node:file"], len(repo.files))
        self.assertEqual(counts["node:class"], len(repo.files))
        # one module-header chunk per file, one per class, method, function
        self.assertEqual(sum(repo.chunk_counts().values()),
                         sum(counts["node:" + k] for k in
                             ("file", "class", "method", "function")))

    def test_planted_chains_are_linear(self):
        repo = corpus.Repo(8)
        _, edges = repo.graph()
        for chain in repo.chains:
            self.assertEqual(len(chain), corpus.CHAIN_DEPTH + 1)
            for a, b in zip(chain, chain[1:]):
                src = "%s::%s" % (repo.file_of(a), a)
                out = [d for s, d, rel in edges if s == src and rel == "CALLS"]
                self.assertEqual(out, ["%s::%s" % (repo.file_of(b), b)])

    def test_edit_batches_keep_counts_consistent(self):
        _, doc = corpus.plan(9, "index")
        for batch in doc["batches"][:10]:
            self.assertNotIn(batch["delete"][0], batch["chunk_counts"])
            old, new = batch["move"][0]
            self.assertNotIn(old, batch["chunk_counts"])
            self.assertIn(new, batch["chunk_counts"])
            self.assertEqual(len(batch["chunk_counts"]), corpus.N_FILES)

    def test_fresh_class_adds_two_chunks_to_each_edited_file(self):
        _, doc = corpus.plan(10, "edit_search")
        before = doc["chunk_counts"]
        cycle = doc["cycles"][0]
        fresh = cycle["fresh"]
        self.assertEqual(sorted(cycle["write"]), fresh["files"])
        self.assertEqual(len(fresh["files"]), 2)
        for f in fresh["files"]:
            self.assertEqual(cycle["chunk_counts"][f], before[f] + 2)
            self.assertIn(f, fresh["neighbours"])


class StatsTest(unittest.TestCase):

    def test_percentile_interpolates(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(stats.percentile([1, 2], 25), 1.25)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(19))))
        p, _, beyond = stats.tail(list(range(20)))
        self.assertEqual((p, beyond), (50, 10))
        p, value, beyond = stats.tail(list(range(1, 101)))
        self.assertEqual((p, beyond), (90, 10))
        self.assertAlmostEqual(value, 90.1)

    def test_drift_compares_halves(self):
        self.assertIsNone(stats.drift([1.0]))
        self.assertEqual(stats.drift([2.0, 1.0]), 2.0)
        self.assertEqual(stats.drift([3.0, 3.0, 9.0, 1.0, 1.0]), 3.0)


class LaunchTest(unittest.TestCase):

    def write(self, root, rel, text):
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)

    def test_source_key_follows_build_inputs_only(self):
        os.makedirs(run.TARGET, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.TARGET) as root:
            self.write(root, "build.sbt", "a")
            self.write(root, "src/main/scala/A.scala", "object A")
            self.write(root, "e2ebench/src/main/scala/H.scala", "object H")
            key = run.source_key(root)
            self.write(root, "target/scala-2.13/x.jar", "built")
            self.write(root, "e2ebench/target/launch.txt", "-cp")
            self.write(root, "README.md", "docs")
            self.assertEqual(run.source_key(root), key)
            for rel in ("src/main/scala/A.scala", "build.sbt",
                        "e2ebench/src/main/scala/H.scala"):
                self.write(root, rel, "changed")
                changed = run.source_key(root)
                self.assertNotEqual(changed, key, rel)
                key = changed

    def test_unit_count_and_deadline(self):
        self.assertEqual(run.unit_count(1, 0), 1)
        self.assertEqual(run.unit_count(1, 1), 2)
        self.assertEqual(run.unit_count(20, 0), 2)
        self.assertEqual(run.unit_count(25, 0), 3)
        # the contract's 180 s limit at the configured run length
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
        for trace in (0, 1):
            self.assertLess(run.deadline_s(run.unit_count(seconds, trace)), 180)
        self.assertGreater(run.deadline_s(run.unit_count(120, 0)), 120 + 90)


class ContractTest(unittest.TestCase):

    def test_benchmark_json_names_what_run_reports(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            doc = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in doc["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in doc["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual({w["name"] for w in doc["workloads"]},
                         set(run.WORKLOADS) - {"index"})


@unittest.skipUnless(os.environ.get("E2EBENCH_TRACED") == "1",
                     "starts the harness twice; set E2EBENCH_TRACED=1")
class TracedRunTest(unittest.TestCase):

    def traced_counts(self):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             "serve", "--seed", "3", "--seconds", "1", "--trace", "1"],
            capture_output=True, text=True, check=True).stdout
        lines = out.strip().split("\n")
        self.assertTrue(json.loads(lines[-1])["correct"])
        return json.loads(lines[-2])["detail"]["probe_counts"]

    # SearchEngine.incrementalIndex joins against sets that are often
    # empty (deleted, moved files); AQE then drops the other side's stage,
    # and whether that stage already ran depends on timing, so its counts
    # varied (59-62 jobs) across traced runs with one seed.
    RACY = {"index.reindex"}

    def test_job_stage_task_counts_repeat(self):
        first = self.traced_counts()
        second = self.traced_counts()
        self.assertTrue(first)
        self.assertEqual(first.keys(), second.keys())
        for name in sorted(set(first) - self.RACY):
            self.assertEqual(first[name], second[name], name)


if __name__ == "__main__":
    unittest.main()
