"""Self-tests of the benchmark. From the repository root:

    python3 -m unittest discover -s perfbench/tests

The op-runner test needs the compiled classes (python3 perfbench/build.py)
and is skipped without them.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build    # noqa: E402
import gen      # noqa: E402
import metrics  # noqa: E402
import run      # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def sample(ms, ok=True, kind="probe", items=1):
    return {"id": "x", "kind": kind, "family": "f", "items": items, "ms": ms, "ok": ok}


class PercentileRule(unittest.TestCase):
    def test_p90_with_enough_samples(self):
        self.assertEqual(metrics.tail_percentile(range(1, 101), 90), (90.0, 90))

    def test_lowered_to_keep_ten_beyond(self):
        # 50 samples: p90 would leave 5 beyond, p80 is the highest with 10
        self.assertEqual(metrics.tail_percentile(range(1, 51), 90), (80.0, 40))

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail_percentile(range(10), 90))
        self.assertEqual(metrics.tail_percentile(range(11), 90), (100.0 / 11, 0))


class FailureAccounting(unittest.TestCase):
    def test_failed_ops_and_checks_count(self):
        got = metrics.accounting([sample(5), sample(1, ok=False)],
                                 [{"ok": True}, {"ok": False}])
        self.assertEqual(got, (4, 2))

    def test_failed_op_is_never_a_fast_sample(self):
        res = {"samples": [sample(100), sample(300), sample(1, ok=False)],
               "setup_s": [1.0, 2.0, 3.0], "retained_heap_mb": 10.0}
        m = metrics.end_to_end(res)
        self.assertEqual(m["op_p50_ms"]["value"], 200)
        # two good ops over all op time, the failed one's included
        self.assertAlmostEqual(m["items_per_s"]["value"], 2 / 0.401)
        self.assertEqual(m["setup_s"]["value"], 2.0)

    def test_all_failed_is_no_result(self):
        with self.assertRaises(ValueError):
            metrics.end_to_end({"samples": [sample(1, ok=False)], "setup_s": [1.0],
                                "retained_heap_mb": 1.0})

    @unittest.skipUnless(os.path.exists(os.path.join(ROOT, build.STAMP)), "not built")
    def test_op_runner(self):
        r = subprocess.run(["java", "-cp", build.classpath(ROOT), "graft.perfbench.SelfTest"],
                           stdout=subprocess.PIPE, text=True, timeout=120)
        self.assertEqual(r.returncode, 0, r.stdout)

    def test_bare_directory_fails(self):
        with tempfile.TemporaryDirectory() as d:
            with self.assertRaises(SystemExit) as e:
                build.build(d)
            self.assertNotEqual(e.exception.code, 0)


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_same_shares(self):
        with tempfile.TemporaryDirectory() as d:
            for w in run.WORKLOADS:
                gen.generate(w, 7, f"{d}/a/{w}")
                gen.generate(w, 7, f"{d}/b/{w}")
                gen.generate(w, 8, f"{d}/c/{w}")
            cmp = filecmp.dircmp(f"{d}/a", f"{d}/b")

            def same(c):
                return (not c.left_only and not c.right_only and not c.diff_files
                        and not c.funny_files and all(same(s) for s in c.subdirs.values()))
            self.assertTrue(same(cmp))
            for f in ("curate/corpus/documents.parquet", "serve/ops.json",
                      "trace_convert/spans/part-0000.jsonl"):
                self.assertFalse(filecmp.cmp(f"{d}/a/{f}", f"{d}/c/{f}", shallow=False), f)
            a = json.load(open(f"{d}/a/curate/expected.json"))["corpus"]
            c = json.load(open(f"{d}/c/curate/expected.json"))["corpus"]
            for k, share in gen.SHARES.items():
                if k in a["plants"]:
                    for e in (a, c):
                        self.assertAlmostEqual(e["plants"][k] / e["docs"], share, delta=0.02)


class MetricNames(unittest.TestCase):
    def test_names_equal_benchmark_json(self):
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"])
                          for m in spec["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))

    def test_every_metric_emitted(self):
        res = {"samples": [sample(10, kind="pass", items=5)], "setup_s": [1.0],
               "retained_heap_mb": 1.0, "baseline": [sample(10)], "layers": {}}
        self.assertEqual(list(metrics.end_to_end(res)), [n for n, *_ in metrics.END_TO_END])
        self.assertEqual(list(metrics.per_layer(res, 0.0)), [n for n, *_ in metrics.PER_LAYER])


if __name__ == "__main__":
    unittest.main()
