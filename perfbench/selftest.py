"""Self-tests of the benchmark's own logic; no Spark needed.

    python3 perfbench/selftest.py                     # logic only
    python3 perfbench/selftest.py E2E.out TRACED.out  # also check captured runs

The optional files are the stdout of a ``--trace 0`` and a ``--trace 1``
run; their last lines must carry exactly the declared metric names and
units.
"""

from __future__ import annotations

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from checks import crawl_failures, leaf_matches  # noqa: E402
from metrics import declared, result_line  # noqa: E402
from run import CrawlSample, end_to_end, engine_layer  # noqa: E402
from sparkstats import Accounting, JobRecord, timing_seconds  # noqa: E402
from trace_spans import Tracer  # noqa: E402

CAPTURED: dict[str, str] = {}  # kind -> path of a captured run's stdout


def _sample(**kw) -> CrawlSample:
    acc = Accounting(
        jobs=[JobRecord(0, 0.0, 1.0), JobRecord(1, 0.5, 2.0)],
        stages=2, tasks=8, executor_run_s=3.0, py_init_s=1.0, py_run_s=0.5,
    )
    base = dict(
        wall_s=4.0, start=0.0, end=4.0, fetched=10, rounds=3,
        manifest_times=[1.0, 2.0, 3.5], stages={"fetched": 10, "enqueued": 9},
        n_links=18, failed=0, heap_live_mib=200.0, acc=acc,
    )
    base.update(kw)
    return CrawlSample(**base)


class MetricNames(unittest.TestCase):
    def test_end_to_end_names_match_declaration(self):
        e2e = end_to_end([_sample()], setup_s=1.0)
        self.assertEqual(set(e2e), set(declared("end_to_end")))

    def test_engine_layer_names_are_declared(self):
        layer, _ = engine_layer([_sample()], cores=4)
        self.assertLessEqual(set(layer), set(declared("per_layer")))

    def test_result_line_refuses_undeclared_or_missing(self):
        e2e = end_to_end([_sample()], setup_s=1.0)
        with self.assertRaises(ValueError):
            result_line("end_to_end", {**e2e, "bogus": 1.0}, 1, 0)
        e2e.pop("setup_s")
        with self.assertRaises(ValueError):
            result_line("end_to_end", e2e, 1, 0)

    def test_captured_outputs(self):
        for kind, path in CAPTURED.items():
            with open(path) as f:
                last = f.read().strip().splitlines()[-1]
            out = json.loads(last)
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            units = {n: m["unit"] for n, m in out["metrics"].items()}
            self.assertEqual(units, declared(kind), path)


class CorruptedOutputs(unittest.TestCase):
    def test_dropped_url_fails(self):
        expected = {"http://h0.test/", "http://h0.test/p/p1.html"}
        self.assertEqual(crawl_failures(set(expected), expected), 0)
        self.assertGreater(crawl_failures(expected - {"http://h0.test/"}, expected), 0)

    def test_extra_url_fails(self):
        expected = {"http://h0.test/"}
        self.assertGreater(crawl_failures(expected | {"http://h9.test/"}, expected), 0)

    def test_altered_oracle_row_fails(self):
        cols = ["doc_a", "doc_b"]
        rows = [(1, 2), (3, 4)]
        self.assertTrue(leaf_matches(rows, cols, list(reversed(rows)), cols))
        self.assertFalse(leaf_matches(rows, cols, [(1, 2), (3, 5)], cols))
        self.assertFalse(leaf_matches(rows, cols, rows[:1], cols))

    def test_failures_reach_the_result_line(self):
        e2e = end_to_end([_sample()], setup_s=1.0)
        out = json.loads(result_line("end_to_end", e2e, attempted=10, failed=1))
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)


class AccountingAndSpans(unittest.TestCase):
    def test_timing_formats(self):
        self.assertAlmostEqual(timing_seconds("1.5 s"), 1.5)
        self.assertAlmostEqual(
            timing_seconds(
                "total (min, med, max (stageId: taskId))\n"
                "2.7 s (624 ms, 635 ms, 820 ms (stage 2.0: task 6))"
            ),
            2.7,
        )
        self.assertAlmostEqual(timing_seconds("total (min, med, max)\n624 ms (1 ms)"), 0.624)
        self.assertAlmostEqual(timing_seconds("1.2 m"), 72.0)

    def test_busy_seconds_merges_overlapping_jobs(self):
        self.assertAlmostEqual(_sample().acc.busy_seconds(0.0, 4.0), 2.0)

    def test_self_time_subtracts_children(self):
        tr = Tracer("t", enabled=True)
        root = tr.add("run", 0.0, 10.0, None)
        tr.add("job", 1.0, 4.0, root)
        tr.add("job", 3.0, 5.0, root)
        self.assertAlmostEqual(tr.self_times()["run"], 6.0)

    def test_disabled_tracer_records_nothing(self):
        tr = Tracer("t", enabled=False)
        with tr.span("x"):
            pass
        self.assertEqual(tr.spans, [])


if __name__ == "__main__":
    for kind, path in zip(("end_to_end", "per_layer"), sys.argv[1:3]):
        CAPTURED[kind] = path
    unittest.main(argv=sys.argv[:1])
