"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The input-determinism tests compile the program on first use.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_rung_with_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(list(range(100)))[0], 90)
        self.assertEqual(metrics.tail_percentile(list(range(1000)))[0], 99)
        self.assertEqual(metrics.tail_percentile(list(range(199)))[0], 90)
        self.assertEqual(metrics.tail_percentile(list(range(200)))[0], 95)
        self.assertEqual(metrics.tail_percentile(list(range(20)))[0], 50)

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail_percentile(list(range(19))))
        self.assertIsNone(metrics.tail_percentile([]))

    def test_value_is_the_quantile(self):
        p, v = metrics.tail_percentile([float(x) for x in range(101)])
        self.assertEqual((p, v), (90, 90.0))


class IntervalUnion(unittest.TestCase):
    def test_overlapping(self):
        self.assertEqual(metrics.union_length([(0, 5), (3, 8)]), 8)

    def test_nested(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 9)]), 10)

    def test_disjoint_touching_and_unsorted(self):
        self.assertEqual(metrics.union_length([(20, 25), (0, 2), (2, 4), (10, 11)]), 10)

    def test_empty_and_degenerate(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0)

    def test_driver_gap_counts_overlapping_jobs_once(self):
        spans = [{"id": 1, "name": "group:g", "parent": 0, "start": 0.0, "end": 100.0},
                 {"id": 2, "name": "query:q", "parent": 1, "start": 10.0, "end": 90.0}]
        jobs = [{"group": "1", "start": 0.0, "end": 30.0},
                {"group": "2", "start": 20.0, "end": 50.0},
                {"group": "2", "start": 25.0, "end": 40.0},   # nested
                {"group": "2", "start": 80.0, "end": 120.0}]  # clipped at 100
        tree = metrics.Spans(spans, jobs)
        self.assertEqual(tree.driver_gap_ms(spans[0]), 100 - 50 - 20)
        self.assertEqual(tree.driver_gap_ms(spans[1]), 80 - 30 - 10)


class IngestJobAttribution(unittest.TestCase):
    def test_only_the_stream_query_s_jobs_in_the_window_count_per_batch(self):
        job = {"start": 10.0, "end": 11.0, "stages": 1, "tasks": 4, "cpu_ns": 2e6,
               "shuffle_write_b": 1024}
        raw = {"workload": "gun_ingest", "stream_run_id": "run-a", "window_ms": [10.0, 20.0],
               "spans": [{"id": 1, "name": "op:store_read", "parent": 0, "start": 10.0, "end": 12.0}],
               "jobs": [dict(job, group="run-a"), dict(job, group="run-a"),
                        dict(job, group="run-a", start=2.0, end=3.0),  # a warm-up batch
                        dict(job, group="1"),   # a bench span's read
                        dict(job, group="", start=21.0, end=22.0)],  # a check after the window
               "outcome": {"lat_ms": {}, "values": {}, "series": {"batch_ms": [5.0, 6.0]}},
               "window_s": 1.0, "trace_overhead_ns": 0}
        m = metrics.per_layer(raw)
        self.assertEqual(m["spark.ingest.jobs_per_batch"]["value"], 1.0)
        self.assertEqual(m["spark.ingest.tasks_per_batch"]["value"], 4.0)
        self.assertEqual(m["spark.ingest.shuffle_write_kb_per_batch"]["value"], 1.0)


class SameSeedSameInputs(unittest.TestCase):
    def test_batch_tables_are_byte_identical(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_tables(a)
            gen.write_tables(b)
            for name in sorted(os.listdir(a)):
                with open(os.path.join(a, name), "rb") as fa, open(os.path.join(b, name), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), name)

    def _dump(self, workload, seed, path):
        cp, _ = build.ensure_built(ROOT, log=subprocess.DEVNULL)
        subprocess.run(["java", "-cp", cp, "perfbench.Main", "--workload", workload,
                        "--seed", str(seed), "--dump", path], check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        with open(path, "rb") as f:
            return f.read()

    def test_gun_inputs_are_byte_identical(self):
        with tempfile.TemporaryDirectory() as d:
            for w in ("gun_session", "gun_ingest"):
                first = self._dump(w, 7, os.path.join(d, "a"))
                self.assertGreater(len(first), 1000)
                self.assertEqual(first, self._dump(w, 7, os.path.join(d, "b")), w)
                self.assertNotEqual(first, self._dump(w, 8, os.path.join(d, "c")), w)


class BadArguments(unittest.TestCase):
    def _run(self, args, cwd=ROOT, script=os.path.join(HERE, "run.py")):
        t = time.monotonic()
        p = subprocess.run([sys.executable, script] + args, cwd=cwd,
                           capture_output=True, text=True, timeout=60)
        return p, time.monotonic() - t

    def test_rejected_before_any_work(self):
        good = ["--workload", "gun_session", "--seed", "1", "--seconds", "5", "--trace", "0"]
        bad = [
            ["--workload", "nope"] + good[2:],
            good[:2] + ["--seed", "-1"] + good[4:],
            good[:4] + ["--seconds", "0"] + good[6:],
            good[:6] + ["--trace", "2"],
            good[:6],
            good + ["--pin"],
            good + ["--extra", "1"],
        ]
        runs = os.path.join(ROOT, ".bench_build", "runs")
        before = set(os.listdir(runs)) if os.path.isdir(runs) else set()
        for args in bad:
            p, secs = self._run(args)
            self.assertNotEqual(p.returncode, 0, args)
            self.assertEqual(p.stdout, "", args)
            self.assertLess(secs, 10, args)
        after = set(os.listdir(runs)) if os.path.isdir(runs) else set()
        self.assertEqual(before, after)

    def test_fails_without_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p, secs = self._run(["--workload", "gun_ingest", "--seed", "1", "--seconds", "5",
                                 "--trace", "0"], cwd=d, script=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")
            self.assertLess(secs, 10)


class BenchmarkJson(unittest.TestCase):
    def test_matches_the_metric_definitions(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: (m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]},
                         metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
