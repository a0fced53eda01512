"""Self-tests of the benchmark's own code (no engine, no Spark).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import corpus  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

WORDS = ["spark", "hash", "join", "scan", "sort", "data", "fast", "slow",
         "line", "part", "a", "the", "batch", "group", "merge", "order",
         "query", "small", "table", "value"]


def write_base(d):
    # words 0-1 make every text unique; doc 40 then duplicates doc 0
    docs = [{"doc_id": i, "text": " ".join([WORDS[i % 20], WORDS[i // 20]] + WORDS[2:12]),
             "lang": "en", "source": f"src{i % 3}", "n_chars": 0} for i in range(40)]
    docs.append(dict(docs[0], doc_id=40))  # one exact duplicate
    for d_ in docs:
        d_["n_chars"] = len(d_["text"])
    pq.write_table(pa.Table.from_pylist(docs), os.path.join(d, "documents.parquet"))
    embs = [{"vec_id": i, "embedding": [float((i * 31 + j) % 17) / 17 - 0.5 for j in range(8)],
             "label": i % 3} for i in range(30)]
    pq.write_table(pa.Table.from_pylist(embs, pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32())])), os.path.join(d, "embeddings.parquet"))


def read_bytes(d, t):
    with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
        return f.read()


class CorpusTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.base = os.path.join(cls.tmp.name, "base")
        os.makedirs(cls.base)
        write_base(cls.base)
        cls.a = corpus.generate(cls.base, os.path.join(cls.tmp.name, "a"), seed=7)
        cls.b = corpus.generate(cls.base, os.path.join(cls.tmp.name, "b"), seed=7)
        cls.c = corpus.generate(cls.base, os.path.join(cls.tmp.name, "c"), seed=8)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_byte_identical_corpus(self):
        self.assertEqual(self.a["checksum"], self.b["checksum"])
        for t in ("documents", "embeddings"):
            self.assertEqual(read_bytes(os.path.join(self.tmp.name, "a"), t),
                             read_bytes(os.path.join(self.tmp.name, "b"), t))

    def test_other_seed_gives_other_corpus(self):
        self.assertNotEqual(self.a["checksum"], self.c["checksum"])

    def test_sizes_and_shares(self):
        self.assertEqual(self.a["docs"], 41)
        self.assertEqual(self.a["vectors"], 30)
        # the remap keeps the one duplicate pair: 2 of 41 docs
        self.assertAlmostEqual(self.a["exact_dup_share"], 2 / 41)

    def test_remap_is_a_bijection_of_the_vocabulary(self):
        m = corpus.remap(set(WORDS), seed=3)
        self.assertEqual(set(m), set(WORDS))
        self.assertEqual(set(m.values()), set(WORDS))
        self.assertTrue(all(len(k) == len(v) for k, v in m.items()))
        self.assertNotEqual(m, corpus.remap(set(WORDS), seed=4))

    def test_checksum_is_order_independent_and_counts_duplicates(self):
        rows = [(1, "a"), (2, "b"), (2, "b")]
        self.assertEqual(corpus.checksum(rows), corpus.checksum(list(reversed(rows))))
        # XOR would cancel the duplicate pair; the sum must not
        self.assertNotEqual(corpus.checksum(rows), corpus.checksum([(1, "a")]))
        self.assertNotEqual(corpus.checksum(rows), corpus.checksum([(1, "a"), (2, "b")]))


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_supported_percentile(self):
        self.assertEqual(stats.supported_percentile(1), 50)
        self.assertEqual(stats.supported_percentile(10), 50)
        self.assertEqual(stats.supported_percentile(20), 50)
        self.assertEqual(stats.supported_percentile(40), 75)
        self.assertEqual(stats.supported_percentile(100), 90)
        self.assertEqual(stats.supported_percentile(1000), 99)

    def test_percentile_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([5], 99), 5)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4.0)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])

    def test_union_length_clips_and_merges(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.union_length([]), 0)


def query(name, start, end, ok=True, build_end=None):
    return {"name": name, "qid": f"w/1/{name}", "start_ms": start, "end_ms": end,
            "build_end_ms": build_end if build_end is not None else start,
            "ok": ok, "error": "" if ok else "boom", "cache_bytes": 0}


class EndToEndTest(unittest.TestCase):
    def result(self, queries):
        return {"setup_s": 5.0, "cpus": 4, "resolve_s": {"t": 0.5},
                "passes": [{"pass": 1, "traced": False, "wall_s": 3.0,
                            "process_cpu_s": 6.5, "jit_cpu_s": 0.5,
                            "heap_mb": 100.0, "queries": queries}]}

    def test_a_query_that_throws_counts_as_failed_and_adds_no_time(self):
        r = self.result([query("a", 0, 1000), query("b", 1000, 1010, ok=False),
                         query("c", 1010, 5010)])
        verdicts = {"a": (True, ""), "b": (True, ""), "c": (True, "")}
        m, attempted, failed, lat = run.end_to_end(r, verdicts)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertNotIn("b", lat)
        self.assertAlmostEqual(m["query_geomean_s"], (1.0 * 4.0) ** 0.5)
        self.assertAlmostEqual(m["cpu_s"], 6.0)

    def test_an_output_mismatch_counts_as_failed(self):
        r = self.result([query("a", 0, 1000), query("c", 1000, 2000)])
        m, attempted, failed, lat = run.end_to_end(r, {"a": (True, ""), "c": (False, "x")})
        self.assertEqual((attempted, failed), (2, 1))
        self.assertEqual(list(lat), ["a"])


class LayersTest(unittest.TestCase):
    def test_concurrent_jobs_count_once_in_self_time(self):
        spans = {"query": (None, 0.0, 10.0, {}), "build": ("query", 0.0, 4.0, {}),
                 "job1": ("build", 1.0, 2.0, {}), "job2": ("query", 5.0, 8.0, {}),
                 "job3": ("query", 6.0, 9.0, {}),
                 "stage1": ("job2", 5.0, 7.0, {"cache_build": True}),
                 "stage2": ("job3", 6.5, 9.5, {"cache_build": False})}
        s = layers.layer_self_times(spans)
        self.assertAlmostEqual(s["entry"], 3.0)
        self.assertAlmostEqual(s["jobs"], 1.0 + 4.0)
        self.assertAlmostEqual(s["caching"], 2.0)
        self.assertAlmostEqual(s["exec"], 3.0)
        self.assertAlmostEqual(s["driver"], 10.0 - 4.0 - 4.0)
        self.assertAlmostEqual(s["entry"] + s["plans"] + s["caching"] + s["exec"]
                               + s["driver"], 10.0)

    def test_driver_gap_and_split_add_up_to_the_wall(self):
        q = query("a", 0, 1000, build_end=200)
        jobs = [{"id": 1, "query": "w/1/a", "start_ms": 50, "end_ms": 150, "ok": True},
                {"id": 2, "query": "w/1/a", "start_ms": 300, "end_ms": 900, "ok": True}]
        stages = [{"id": 5, "attempt": 0, "job": 2, "query": "w/1/a", "start_ms": 310,
                   "end_ms": 600, "tasks": 4, "failed_tasks": 0, "run_ms": 800,
                   "cpu_ns": 7e8, "gc_ms": 10, "input_bytes": 1e6,
                   "shuffle_write_bytes": 2e6, "shuffle_read_bytes": 0,
                   "spill_bytes": 0, "built_rdds": [9], "persisted_rdds": [9]},
                  {"id": 6, "attempt": 0, "job": 2, "query": "w/1/a", "start_ms": 600,
                   "end_ms": 890, "tasks": 4, "failed_tasks": 1, "run_ms": 600,
                   "cpu_ns": 5e8, "gc_ms": 0, "input_bytes": 0,
                   "shuffle_write_bytes": 0, "shuffle_read_bytes": 2e6,
                   "spill_bytes": 0, "built_rdds": [], "persisted_rdds": [9]}]
        writes = {"w/1/a": {"query": "w/1/a", "ok": True, "exchanges": 3, "text_scans": 1,
                            "phases": {"analysis": {"start_ms": 200, "end_ms": 210},
                                       "optimization": {"start_ms": 210, "end_ms": 250},
                                       "planning": {"start_ms": 250, "end_ms": 280}}}}
        m, builders = layers.pass_metrics([q], jobs, stages, writes, cpus=4)
        self.assertEqual(builders, {"a": 1})
        selfs = [m[k] for k in ("self.entry_s", "self.plans_s", "self.caching_s",
                                "self.exec_s", "exec.driver_gap_s")]
        self.assertTrue(all(x >= 0 for x in selfs))
        self.assertAlmostEqual(sum(selfs), 1.0)
        self.assertAlmostEqual(m["self.entry_s"], 0.1)
        self.assertAlmostEqual(m["entry.build_s"], 0.2)
        self.assertEqual(m["entry.build_jobs"], 1)
        self.assertAlmostEqual(m["plans.optimize_s"], 0.04)
        # wall 1.0 - (build [0,.2] + plans [.2,.28] + job [.3,.9])
        self.assertAlmostEqual(m["exec.driver_gap_s"], 1.0 - 0.88)
        self.assertAlmostEqual(m["split.cache_build_s"], 0.29)
        self.assertAlmostEqual(m["split.cache_build_s"] + m["split.execute_s"]
                               + m["split.driver_s"], 1.0)
        self.assertEqual((m["caching.builds"], m["caching.reads"], m["caching.reuse"]),
                         (1, 2, 2.0))
        self.assertEqual((m["exec.jobs"], m["exec.stages"], m["exec.tasks"],
                          m["exec.failed_tasks"]), (2, 2, 8, 1))
        self.assertAlmostEqual(m["exec.core_util"], 1.4 / (0.7 * 4))


class BenchmarkFileTest(unittest.TestCase):
    def test_declared_metrics_are_the_ones_a_run_prints(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside perfbench/")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         run.END_TO_END_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         run.LAYER_UNITS)
        with open(os.path.join(run.HERE, "protocol.json")) as f:
            proto = json.load(f)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(proto["workloads"]))


if __name__ == "__main__":
    unittest.main()
