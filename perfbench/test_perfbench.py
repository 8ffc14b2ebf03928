"""The benchmark's own tests, on tiny inputs (`--smoke`).

    python3 perfbench/test_perfbench.py

They check that every named metric is printed with its unit, that a wrong
answer counts as a failure, and that one seed reproduces the same inputs
and the same exact counts. Each case starts a Spark JVM, so the whole file
takes a few minutes.
"""
import json
import pathlib
import subprocess
import sys
import unittest

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

# The workload's own metrics, printed as report lines: name -> unit.
TEXT_METRICS = {
    ("serve", 0): {
        "ingest.docs_per_s": "docs/s", "ingest.index_bytes_ratio": "ratio",
        "search.p50_ms": "ms", "search.qps": "1/s",
        "refresh.visible.p50_s": "s", "refresh.first_query.p50_ms": "ms",
        "refresh.docs_per_s": "docs/s",
    },
    ("serve", 1): {
        **{f"search.{c}.p50_ms": "ms" for c in ("term", "bool", "phrase", "prefix", "singleton", "wand")},
        "search.jobs_per_query": "count", "search.zero_job_frac": "ratio",
        "search.task_ms_per_query": "ms", "search.driver_ms_per_query": "ms",
        "search.open_ms": "ms", "search.cold_field_stats_ms": "ms",
        "search.cold_term_stats_ms": "ms", "search.cold_fetch_eval_ms": "ms",
        "search.cold_jobs": "count", "streaming.append_s": "s", "streaming.append_jobs": "count",
        "index.merge_s": "s", "index.merge_bytes_rewritten": "bytes",
        "index.stage1_s": "s", "index.invert_s": "s", "index.publish_s": "s", "index.jobs": "count",
        "index.task_cpu_s": "s", "index.gc_s": "s", "index.shuffle_write_bytes": "bytes",
        "index.spill_bytes": "bytes", "index.postings_bytes": "bytes", "index.docs_bytes": "bytes",
        "index.terms_bytes": "bytes", "index.staged_bytes": "bytes",
    },
    ("dedup", 0): {"dedup.text_s": "s", "dedup.embed_s": "s", "dedup.ann_s": "s",
                   "dedup.ann_lsh_recall": "ratio", "dedup.ann_ivf_recall": "ratio"},
    ("dedup", 1): {
        **{f"pipeline.{s}_s": "s" for s in
           ("exact_groups", "lsh_pairs", "components", "embed_pairs", "ann_lsh", "ann_ivf", "task_cpu")},
        "pipeline.shuffle_write_bytes": "bytes", "pipeline.lsh_pair_recall": "ratio",
    },
}

# Counts that must repeat exactly for one seed.
EXACT = ("index.postings_bytes", "index.docs_bytes", "index.terms_bytes", "index.staged_bytes",
         "codec.bytes_per_posting", "search.cold_jobs", "streaming.append_jobs")


class Run:
    def __init__(self, workload, seed, trace, *extra):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
               "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
        done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
        self.code = done.returncode
        self.lines = done.stdout.splitlines()
        self.result = json.loads(self.lines[-1]) if self.code == 0 else None
        self.metrics = {}
        for line in self.lines:
            parts = line.split()
            if len(parts) >= 4 and parts[0] == "metric":
                self.metrics[parts[1]] = (float(parts[2]), parts[3])
        self.digest = next((l for l in self.lines if l.startswith("inputs sha256=")), None)


_runs = {}


def run(workload, seed, trace, *extra):
    key = (workload, seed, trace, extra)
    if key not in _runs:
        _runs[key] = Run(workload, seed, trace, *extra)
    return _runs[key]


class PerfbenchTest(unittest.TestCase):
    def test_every_metric_is_printed_with_its_unit(self):
        for w in SPEC["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    r = run(w["name"], 1, trace)
                    self.assertEqual(r.code, 0)
                    self.assertTrue(r.result["correct"])
                    self.assertEqual(r.result["failed"], 0)
                    self.assertGreaterEqual(r.result["attempted"], 1)
                    spec = SPEC["per_layer" if trace else "end_to_end"]
                    self.assertEqual({k: v["unit"] for k, v in r.result["metrics"].items()},
                                     {m["name"]: m["unit"] for m in spec})
                    for name, unit in {m["name"]: m["unit"] for m in spec}.items():
                        self.assertEqual(r.metrics[name][1], unit, name)
                    for name, unit in TEXT_METRICS[(w["name"], trace)].items():
                        self.assertIn(name, r.metrics)
                        self.assertEqual(r.metrics[name][1], unit, name)

    def test_a_corrupted_expected_answer_counts_as_a_failure(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                r = run(w["name"], 1, 1, "--corrupt-expected")
                self.assertEqual(r.code, 0)
                self.assertFalse(r.result["correct"])
                self.assertGreaterEqual(r.result["failed"], 1)

    def test_one_seed_reproduces_inputs_and_exact_counts(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                # the second run only has its expected answers perturbed:
                # its inputs and the program's work are those of the first
                a, b = run(w["name"], 1, 1), run(w["name"], 1, 1, "--corrupt-expected")
                self.assertIsNotNone(a.digest)
                self.assertEqual(a.digest, b.digest)
                self.assertNotEqual(a.digest, run(w["name"], 2, 0).digest)
                for name in EXACT:
                    if name in a.metrics:
                        self.assertEqual(a.metrics[name], b.metrics[name], name)


if __name__ == "__main__":
    unittest.main()
