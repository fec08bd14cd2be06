"""Tests for the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests          # fast checks
    PERFBENCH_SELFTEST=1 python3 -m unittest discover -s perfbench/tests

The second form also builds the harness and runs its JVM-side checks
(page-generator determinism, the in-memory CTS endpoint against
CtsRestStub, table-generator determinism); it takes a few minutes.
"""

import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import compare  # noqa: E402
import stats  # noqa: E402


def op(kind, wall, ok=True, traced=False, pass_no=0, **kw):
    return dict(kind=kind, wall_s=wall, ok=ok, traced=traced, **{"pass": pass_no}, **kw)


class TailRule(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(stats.tail(range(10)))

    def test_eleven_samples_gives_the_minimum(self):
        # with 11 samples only the smallest has ten samples above it
        self.assertEqual(stats.tail(range(11)), (0, 100.0 / 11, 11))

    def test_hundred_samples_gives_p90(self):
        v, p, n = stats.tail(range(100))
        self.assertEqual((v, p, n), (89, 90.0, 100))
        self.assertEqual(sum(1 for x in range(100) if x > v), 10)

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7, 2, 8, 6, 4, 0, 10, 11]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class FailedShare(unittest.TestCase):
    def test_counts_every_checked_operation(self):
        ops = [op("check", 1.0), op("check", 1.0, ok=False), op("row", 1.0),
               op("row", 1.0, ok=False)]
        self.assertEqual(stats.failed_share(ops), (4, 2, 0.5))

    def test_all_ok(self):
        self.assertEqual(stats.failed_share([op("cycle", 1.0)] * 3), (3, 0, 0.0))

    def test_nothing_attempted_is_a_failure(self):
        self.assertEqual(stats.failed_share([]), (0, 0, 1.0))


class EndToEnd(unittest.TestCase):
    def raw(self, ops, workload="queries"):
        return {"workload": workload, "setup": {"setup_s": 3.0}, "ops": ops, "nproc": 4}

    def test_family_pass_medians(self):
        ops = []
        for p, (a, b) in enumerate([(1.0, 2.0), (3.0, 4.0), (5.0, 6.0)]):
            ops += [op("row", a, pass_no=p, family="relational", name="q"),
                    op("row", b, pass_no=p, family="stateful", name="s")]
        m, notes = stats.end_to_end(self.raw(ops))
        self.assertEqual(m["batch.relational_pass_s"][0], 3.0)
        self.assertEqual(m["drains.stateful_pass_s"][0], 4.0)
        self.assertEqual(m["pass_s"][0], 7.0)
        self.assertEqual(m["setup_s"], (3.0, "s"))
        self.assertEqual(notes["passes"], 3)

    def test_traced_passes_are_left_out(self):
        ops = [op("row", 1.0, pass_no=0, family="parity"),
               op("row", 9.0, pass_no=1, family="parity", traced=True)]
        m, _ = stats.end_to_end(self.raw(ops))
        self.assertEqual(m["pass_s"][0], 1.0)

    def test_exporter_events_per_second(self):
        ops = [op("cycle", 0.5, events=100, pass_no=0), op("stream_cycle", 1.5, events=100, pass_no=0)]
        m, notes = stats.end_to_end(self.raw(ops, "exporter"))
        self.assertEqual(m["exporter.events_per_s"][0], 100.0)
        self.assertNotIn("exporter.cycle_tail_s", m)
        self.assertEqual(notes["exporter.cycle_tail_s"]["samples"], 1)

    def test_failed_share_counts_warmup_checks(self):
        ops = [op("check", 1.0, ok=False, family="relational"),
               op("row", 1.0, family="relational")]
        m, _ = stats.end_to_end(self.raw(ops))
        self.assertEqual(m["failed_share"][0], 0.5)


class PerLayer(unittest.TestCase):
    def test_every_metric_reported_and_unexercised_layers_read_zero(self):
        raw = {"workload": "queries", "nproc": 4, "layers": {}, "setup": {"setup_s": 1.0},
               "ops": [op("row", 2.0, pass_no=1, traced=True, family="llmops",
                          build_s=1.5, task_s=4.0, jobs=3)]}
        v = stats.per_layer(raw)
        self.assertEqual(set(v), {n for n, _, _ in stats.per_layer_spec()})
        self.assertEqual(v["llmops.build_s"][0], 1.5)
        self.assertEqual(v["llmops.parallel_eff"][0], 0.5)
        self.assertEqual(v["sources.fetch_ms"][0], 0.0)

    def test_sink_tasks_are_the_cycle_tasks_beyond_the_pull(self):
        cyc = dict(events=90, expected=90, failed_events=0, requests=120, pages=40, jobs=1)
        raw = {"workload": "exporter", "nproc": 4, "setup": {"setup_s": 1.0},
               "layers": {"operators.pull_tasks": 40.0},
               "ops": [op("cycle", 2.0, pass_no=1, traced=True, tasks=44, **cyc),
                       op("stream_cycle", 4.0, pass_no=1, traced=True, tasks=80, **cyc)]}
        v = stats.per_layer(raw)
        self.assertEqual(v["exporter.tasks_per_cycle"][0], 44)
        self.assertEqual(v["operators.sink_tasks_per_cycle"][0], 4.0)


class BenchmarkJson(unittest.TestCase):
    def test_per_layer_list_matches_what_a_traced_run_prints(self):
        import json
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         stats.per_layer_spec())
        self.assertEqual(sorted(m["name"] for m in b["end_to_end"]), ["pass_s", "setup_s"])


class Verdicts(unittest.TestCase):
    def test_improved_needs_nine_in_ten_wins(self):
        parent = [10.0 + 0.1 * i for i in range(10)]
        change = [x - 1.0 for x in parent]
        v, wf = compare.verdict(parent, change, 0.1, pairs=list(zip(parent, change)))
        self.assertEqual((v, wf), ("improved", 1.0))

    def test_worse_beyond_bound(self):
        parent = [10.0 + 0.01 * i for i in range(10)]
        change = [x * 1.2 for x in parent]
        self.assertEqual(compare.verdict(parent, change, 0.1, pairs=list(zip(parent, change)))[0],
                         "worse")

    def test_unchanged_within_bound(self):
        parent = [10.0 + 0.01 * i for i in range(10)]
        change = [x * 1.02 for x in parent]
        self.assertEqual(compare.verdict(parent, change, 0.1, pairs=list(zip(parent, change)))[0],
                         "unchanged")

    def test_unresolved_when_spread_exceeds_bound(self):
        parent = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        change = list(reversed(parent))
        self.assertEqual(compare.verdict(parent, change, 0.1, pairs=list(zip(parent, change)))[0],
                         "unresolved")

    def test_worse_even_when_the_parent_spread_is_wide(self):
        parent = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        change = [2.0 * x for x in parent]
        self.assertEqual(compare.verdict(parent, change, 0.1, pairs=list(zip(parent, change)))[0],
                         "worse")

    def test_every_printed_metric_has_a_bound(self):
        import json
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            listed = {m["name"] for m in json.load(f)["end_to_end"]}
        raws = [{"workload": wl, "setup": {"setup_s": 1.0}, "nproc": 4,
                 "ops": [op(k, 1.0, events=1, family=f) for k in stats.OP_KINDS[wl]
                         for f in stats.BATCH_FAMILIES + stats.DRAIN_CLASSES]}
                for wl in stats.OP_KINDS]
        # the cycle tail is printed only once a run has eleven cycles
        printed = {m for r in raws for m in stats.end_to_end(r)[0]} | {"exporter.cycle_tail_s"}
        self.assertEqual(printed - compare.SKIP - listed, set(compare.BOUNDS))

    def test_higher_is_better(self):
        parent = [100.0 + i for i in range(10)]
        change = [x * 1.3 for x in parent]
        self.assertEqual(compare.verdict(parent, change, 0.1, higher_better=True,
                                         pairs=list(zip(parent, change)))[0], "improved")


@unittest.skipUnless(os.environ.get("PERFBENCH_SELFTEST"), "set PERFBENCH_SELFTEST=1 to build and run")
class HarnessSelfTest(unittest.TestCase):
    def test_selftest(self):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--selftest"],
                           capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertNotIn("FAIL", r.stdout)


if __name__ == "__main__":
    unittest.main()
