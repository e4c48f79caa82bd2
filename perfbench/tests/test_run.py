"""Checks of the benchmark command itself, from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

The fault tests run the real pipeline (about a minute each); the Scala
logic (statistics, generator, oracle) is tested by `sbt perfbench/test`
in perfbench/jvm.
"""
import json
import re
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
RUN = ["python3", "perfbench/run.py"]
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")
sys.path.insert(0, str(ROOT / "perfbench"))
import run as bench  # noqa: E402


def last_json(stdout):
    lines = stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else None


class Names(unittest.TestCase):
    def test_every_emitted_name_is_well_formed(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        names += [n for rows in bench.NAMED.values() for n, _ in rows]
        names += [w["name"] for w in spec["workloads"]]
        self.assertEqual([n for n in names if not NAME.match(n)], [])
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(bench.WORKLOADS))


class Selection(unittest.TestCase):
    UNITS = {"a": "s", "b": "ms", "c": "count"}

    def test_an_absent_metric_reads_zero_and_is_not_applicable(self):
        metrics, na, unmeasured = bench.select(["a", "c"], {"a": 1.5}, self.UNITS)
        self.assertEqual(metrics, {"a": {"value": 1.5, "unit": "s"}, "c": {"value": 0.0, "unit": "count"}})
        self.assertEqual((na, unmeasured), (["c"], []))

    def test_a_metric_that_could_not_be_computed_is_unmeasured(self):
        metrics, na, unmeasured = bench.select(["a", "b"], {"a": None, "b": float("nan")}, self.UNITS)
        self.assertEqual((metrics, na, unmeasured), ({}, [], ["a", "b"]))


class TracingOverhead(unittest.TestCase):
    STAMP = {"commit": "c1", "dirty": False, "source_sha256": "h1", "seconds": 15}

    def base(self, d, stamp):
        path = Path(d) / "base.json"
        path.write_text(json.dumps({"stamps": stamp, "metrics": {"setup_s": 2.0}}))
        return path

    def test_the_untraced_run_of_the_same_sources_is_compared(self):
        with tempfile.TemporaryDirectory() as d:
            got = bench.tracing_overhead(self.base(d, self.STAMP), self.STAMP, {"setup_s": 3.0})
        self.assertEqual(got["setup_s"]["ratio"], 1.5)

    def test_an_untraced_run_of_other_sources_is_not_compared(self):
        with tempfile.TemporaryDirectory() as d:
            other = dict(self.STAMP, source_sha256="h2")
            got = bench.tracing_overhead(self.base(d, other), self.STAMP, {"setup_s": 3.0})
        self.assertIn("source_sha256", got)


class Faults(unittest.TestCase):
    """A wrong final row or an event lost without accounting must fail the run."""

    def run_fault(self, fault):
        p = subprocess.run(RUN + ["--workload", "ingest-hot", "--seed", "5", "--seconds", "5",
                                  "--trace", "0", "--fault", fault],
                           cwd=ROOT, capture_output=True, text=True, timeout=600)
        res = last_json(p.stdout)
        self.assertEqual(p.returncode, 1, p.stderr[-2000:])
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        return p.stderr

    def test_wrong_row_fails(self):
        self.assertIn("modvalues", self.run_fault("wrong-row"))

    def test_lost_event_fails(self):
        self.assertIn("discard-oldest cap", self.run_fault("lost-event"))


class BareDirectory(unittest.TestCase):
    def test_without_the_program_sources_it_exits_nonzero_and_prints_no_result(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(ROOT / "perfbench", Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("out", "target", "__pycache__"))
            p = subprocess.run(RUN + ["--workload", "board", "--seed", "1", "--seconds", "10",
                                      "--trace", "0"], cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
