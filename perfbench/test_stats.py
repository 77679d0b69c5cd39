"""Tests for the benchmark's own statistics and result line.

Run: python3 perfbench/test_stats.py
"""
import json
import os
import statistics
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen         # noqa: E402
import run         # noqa: E402
import stats       # noqa: E402
import steadiness  # noqa: E402


def sample(name, latency, ok=True):
    return {"name": name, "ok": ok, "latency_s": latency, "build_s": 0.0,
            "action_s": latency, "layers": {"exec.jobs": 1.0}, "error": ""}


def raw(passes, queries=("a", "b")):
    return {"queries": list(queries), "setup_s": 12.5, "session_start_s": 3.0,
            "dump_pass_s": 4.0, "measured_s": 2.1,
            "peak_rss_mb": 900.0,
            "warm_pass": {"wall_s": 7.0, "samples": [], "layers": {}},
            "assets_after_setup": {"assets.count": 2.0, "assets.storage_mb": 1.5},
            "passes": [{"index": i + 1, "wall_s": w, "cpu_s": 2 * w,
                        "samples": ss, "layers": {"exec.jobs": float(len(ss))}}
                       for i, (w, ss) in enumerate(passes)]}


class Statistics(unittest.TestCase):
    def test_median_and_quartiles_match_statistics_module(self):
        for xs in ([1.0, 2.0], [3.0, 1.0, 2.0], [5.0, 1.0, 4.0, 2.0, 3.0]):
            q = statistics.quantiles(xs, n=4)
            self.assertEqual(stats.quartiles(xs), (q[0], q[2]))
            self.assertEqual(stats.median(xs), statistics.median(xs))

    def test_single_sample_is_its_own_quartiles(self):
        self.assertEqual(stats.quartiles([4.0]), (4.0, 4.0))
        self.assertEqual(stats.summary([4.0])["samples"], 1)

    def test_tail_leaves_ten_samples_above(self):
        xs = [float(i) for i in range(30, 0, -1)]     # 30 samples
        t = stats.tail(xs)
        self.assertEqual((t["value"], t["above"], t["samples"]), (20.0, 10, 30))
        self.assertEqual(sum(1 for x in xs if x > t["value"]), 10)
        self.assertAlmostEqual(t["percentile"], 100.0 * 20 / 30)

    def test_tail_at_22_samples_is_above_the_median(self):
        t = stats.tail([float(i) for i in range(1, 23)])
        self.assertEqual((t["value"], t["above"]), (12.0, 10))
        self.assertGreater(t["percentile"], 50.0)

    def test_tail_below_22_samples_is_the_maximum(self):
        for n in (1, 2, 11, 21):
            t = stats.tail([float(i) for i in range(n)])
            self.assertEqual((t["value"], t["percentile"], t["above"]),
                             (float(n - 1), 100.0, 0))

    def test_failed_execution_counts_and_is_left_out_of_latencies(self):
        r = raw([(1.0, [sample("a", 0.2), sample("b", 99.0, ok=False)]),
                 (1.2, [sample("a", 0.4), sample("b", 0.6)])])
        e = stats.end_to_end(r, wrong_results=0)
        self.assertEqual(e["success_ratio"][0], 0.75)
        self.assertEqual(e["success_ratio"][2]["failed_ratio"], 0.25)
        self.assertEqual(e["query_p50_s"][0], 0.4)
        self.assertEqual(e["query_tail_s"][0], 0.6)
        self.assertEqual(e["query_tail_s"][2]["samples"], 3)
        self.assertEqual(e["pass_s"][0], 1.1)

    def test_wrong_results_lower_the_match_ratio(self):
        r = raw([(1.0, [sample("a", 0.2), sample("b", 0.3)])])
        self.assertEqual(stats.end_to_end(r, 1)["oracle_match_ratio"][0], 0.5)


class ResultLine(unittest.TestCase):
    """Every printed metric carries its name and unit, and the record the
    run writes names the workload, for both kinds of run."""

    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            self.bench = json.load(fh)
        self.raw = raw([(1.0, [sample("a", 0.2), sample("b", 0.3)]),
                        (1.1, [sample("a", 0.25), sample("b", 0.35)])])

    def check(self, trace, declared):
        record, line = run.report("corpus_x4", 7, trace, 10.0, self.raw, [],
                                  {}, {}, "")
        self.assertEqual(record["workload"], "corpus_x4")
        parsed = json.loads(json.dumps(line))
        self.assertEqual(set(parsed), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(parsed["attempted"], 4)
        self.assertEqual(set(parsed["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = parsed["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], float)

    def test_end_to_end_line_matches_benchmark_json(self):
        self.check(0, self.bench["end_to_end"])

    def test_per_layer_line_matches_benchmark_json(self):
        self.check(1, self.bench["per_layer"])

    def test_workloads_match_benchmark_json(self):
        self.assertEqual(sorted(run.WORKLOADS),
                         sorted(w["name"] for w in self.bench["workloads"]))


class Steadiness(unittest.TestCase):
    METRICS = [{"name": "pass_s", "better": "lower", "bound": 0.1},
               {"name": "ratio", "better": "higher", "bound": 0.1},
               {"name": "setup_s", "better": "lower", "bound": 0.1}]

    def test_spread_is_the_interquartile_share_of_the_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(steadiness.spread(xs), (q[2] - q[0]) / 3.0)

    def test_two_set_check_compares_the_halves_in_the_worse_direction(self):
        v = steadiness.verdicts({"pass_s": [1.0, 1.0, 1.2, 1.2],
                                 "ratio": [1.0, 1.0, 0.95, 0.95],
                                 "setup_s": [1.0, 2.0, 1.0, 2.0]}, self.METRICS)
        self.assertAlmostEqual(v["pass_s"]["two_set"], 0.2)
        self.assertFalse(v["pass_s"]["ok"])
        self.assertAlmostEqual(v["ratio"]["two_set"], 0.05)
        self.assertTrue(v["ratio"]["ok"])
        # setup_s may spread beyond its bound; its halves must still agree
        self.assertGreater(v["setup_s"]["spread"], 0.1)
        self.assertTrue(v["setup_s"]["ok"])


class Generator(unittest.TestCase):
    """The document model measured on the sf0.1 fixture, and the growth."""

    def docs(self, n, copies):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(d, 3, 0.001, n, 8 * copies, copies)
            return pq.read_table(os.path.join(d, "documents.parquet")).to_pydict()

    def test_one_in_twenty_rows_is_another_row_plus_dup(self):
        t = self.docs(2000, 1)
        texts = set(t["text"])
        dups = [x for x in t["text"] if x.endswith(" dup")]
        self.assertEqual(len(dups), 100)
        lens = [len(x.split(" ")) for x in t["text"] if "dup" not in x]
        self.assertEqual((min(lens) >= 10, max(lens) <= 99), (True, True))
        # the copied row may itself have been replaced later
        based = sum(1 for x in dups if x[:-4] in texts)
        self.assertGreater(based, 90)
        self.assertEqual(t["n_chars"], [len(x) for x in t["text"]])

    def test_copies_suffix_every_token_and_shift_the_key(self):
        t = self.docs(400, 4)
        self.assertEqual(len(t["doc_id"]), 400)
        self.assertEqual(t["doc_id"][100], 10_000_000)
        for c in (1, 3):
            base = t["text"][0].split(" ")
            self.assertEqual(t["text"][100 * c].split(" "),
                             [f"{w}_{c}" for w in base])
        self.assertEqual(t["lang"][:100], t["lang"][300:])

    def test_same_seed_same_files(self):
        self.assertEqual(self.docs(300, 1), self.docs(300, 1))


if __name__ == "__main__":
    unittest.main()
