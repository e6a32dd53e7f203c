"""Self-tests of the benchmark. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

Each test drives perfbench/run.py on tiny inputs (a few minutes in all).
"""
import json
import re
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
RUN = ROOT / "perfbench" / "run.py"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
README = (ROOT / "perfbench" / "README.md").read_text()
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
_runs = {}


def run(workload, trace, *extra):
    """Run the benchmark once on tiny inputs; cached per argument set."""
    key = (workload, trace) + extra
    if key not in _runs:
        p = subprocess.run(
            [sys.executable, str(RUN), "--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(trace), "--size", "tiny", *extra],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        artifact = ROOT / ".bench_build" / "results" / f"{workload}-s7-t{trace}.json"
        _runs[key] = (p, result, json.loads(artifact.read_text()) if artifact.exists() else None)
    return _runs[key]


class Names(unittest.TestCase):
    def test_emitted_names_are_declared(self):
        for w in WORKLOADS:
            for trace, section in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    p, result, artifact = run(w, trace)
                    self.assertIsNotNone(result, p.stderr[-2000:])
                    declared = {m["name"]: m["unit"] for m in SPEC[section]}
                    self.assertEqual(set(result["metrics"]), set(declared))
                    for k, v in result["metrics"].items():
                        self.assertRegex(k, NAME)
                        self.assertEqual(v["unit"], declared[k])
                    # workload figures printed next to the metrics are named
                    # the same way and documented in the README
                    for k in artifact["extra"]:
                        self.assertRegex(k, NAME)
                        if not k.startswith("registry.q"):
                            self.assertIn(f"`{k}`", README)


class Correctness(unittest.TestCase):
    def test_tiny_runs_pass_the_gate(self):
        for w in WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    p, result, _ = run(w, trace)
                    self.assertEqual(p.returncode, 0, p.stdout[-2000:] + p.stderr[-2000:])
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1)

    def test_perturbed_crawl_order_fails_the_gate(self):
        p, result, artifact = run("crawl_churn", 0, "--perturb")
        self.assertNotEqual(p.returncode, 0)
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        failed = [c["name"] for c in artifact["checks"] if not c["ok"]]
        self.assertEqual(failed, ["crawl_churn.crawl_order"])


class Scaling(unittest.TestCase):
    def test_scale_leg_reports_efficiency(self):
        p, result, artifact = run("crawl_bulk", 0, "--scale")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.assertTrue(result["correct"])
        self.assertEqual(set(artifact["legs"]), {"1", "4"})
        self.assertGreater(artifact["extra"]["scale_eff_1_4"], 0.0)


class Tracing(unittest.TestCase):
    def test_tick_phases_add_up_to_the_tick_wall(self):
        for w in ("crawl_bulk", "crawl_churn"):
            with self.subTest(workload=w):
                _, _, artifact = run(w, 1)
                ctx = artifact["legs"]["4"]["context"]
                self.assertLessEqual(ctx["tick_phase_sum_max_rel_gap"], 0.05)
                for t in ctx["tick_phases"]:
                    parts = sum(v for k, v in t.items() if k.endswith("_s") and k != "wall_s")
                    self.assertAlmostEqual(parts, t["wall_s"], delta=0.05 * t["wall_s"])

    def test_spans_are_written_once_with_their_fields(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                _, _, artifact = run(w, 1)
                spans = artifact["spans"]
                self.assertTrue(spans)
                ids = {s["id"] for s in spans}
                for s in spans:
                    self.assertEqual(set(s), {"run", "id", "name", "parent", "start_ms", "end_ms"})
                    self.assertLessEqual(s["start_ms"], s["end_ms"])
                    self.assertTrue(s["parent"] == -1 or s["parent"] in ids)
                self.assertEqual(len({s["run"] for s in spans}), 1)


if __name__ == "__main__":
    unittest.main()
