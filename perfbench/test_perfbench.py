"""Self-tests of the benchmark's own helpers; no Spark, runs in seconds:

    python3 -m unittest discover -s perfbench -p "test_*.py"
"""

from __future__ import annotations

import math
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))  # the engine package and tools/

import datagen  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 51)]  # 50 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 50)
        self.assertEqual(value, 40.0)
        self.assertEqual(sum(x > value for x in xs), 10)
        self.assertEqual(pct, 80.0)

    def test_order_does_not_matter(self):
        xs = [float(i) for i in range(40)]
        self.assertEqual(stats.tail(xs), stats.tail(list(reversed(xs))))

    def test_failures_count_beyond_the_tail(self):
        xs = [float(i) for i in range(1, 31)]
        value, pct, n = stats.tail(xs, n_failed=2)
        self.assertEqual(n, 32)
        self.assertEqual(value, 22.0)  # 8 timed samples and 2 failures above

    def test_too_few_samples_falls_back_to_the_median(self):
        self.assertEqual(stats.tail([1.0, 2.0, 3.0]), (2.0, 50.0, 3))
        self.assertEqual(stats.tail([1.0] * 10, n_failed=1)[0], 1.0)

    def test_all_failed_is_infinite(self):
        self.assertTrue(math.isinf(stats.tail([1.0] * 5, n_failed=20)[0]))


class RollupTest(unittest.TestCase):
    def rec(self, status="COMPLETE", **kw):
        r = {f: 0 for f in stats.STAGE_FIELDS}
        r.update(status=status, **kw)
        return r

    def test_sums_per_group_and_skips_skipped_stages(self):
        groups = {
            "q1#0": [self.rec(numTasks=4, executorCpuTime=10, inputRecords=100),
                     self.rec(numTasks=1, shuffleWriteBytes=7),
                     self.rec("SKIPPED", numTasks=4, executorCpuTime=99)],
            "q3#0": [self.rec(numTasks=2, executorCpuTime=5)],
            "empty#0": [],
        }
        out = stats.rollup_stages(groups)
        self.assertEqual(out["q1#0"]["stages"], 2)
        self.assertEqual(out["q1#0"]["numTasks"], 5)
        self.assertEqual(out["q1#0"]["executorCpuTime"], 10)
        self.assertEqual(out["q1#0"]["inputRecords"], 100)
        self.assertEqual(out["q1#0"]["shuffleWriteBytes"], 7)
        self.assertEqual(out["q3#0"]["executorCpuTime"], 5)
        self.assertEqual(out["empty#0"]["stages"], 0)

    def test_failed_attempts_count(self):
        out = stats.rollup_stages({"g": [self.rec("FAILED", numTasks=3),
                                         self.rec(numTasks=3)]})
        self.assertEqual(out["g"], {**out["g"], "stages": 2, "numTasks": 6})


class PinsTest(unittest.TestCase):
    def test_first_output_pins_later_ones(self):
        pins = stats.Pins()
        self.assertTrue(pins.check("q18", (29294, 123)))
        self.assertTrue(pins.check("q18", (29294, 123)))
        self.assertFalse(pins.check("q18", (29294, 124)))
        self.assertEqual(len(pins.mismatches), 1)

    def test_wrong_checksum_after_the_pin_fails(self):
        pins = stats.Pins()
        self.assertTrue(pins.check("etl_flagship", (98969, 1)))
        self.assertFalse(pins.check("etl_flagship", (98969, 2)))
        self.assertFalse(pins.check("etl_flagship", (98968, 1)))
        self.assertEqual(len(pins.mismatches), 2)


class IngestExpectationTest(unittest.TestCase):
    def test_resent_ids_collapse_and_blank_amounts_drop(self):
        row = lambda tid, amt="1.00": (tid, "", "", amt, "", "", "", "", "")  # noqa: E731
        history = [row("H1"), row("H2")]
        files = [[row("N1"), row("H1"), row("N2", "")],
                 [row("N1"), row("N3")]]
        target, landed = stats.ingest_expectation(history, files)
        self.assertEqual(target, ["H1", "H2", "N1", "N3"])
        self.assertEqual(landed, ["H1", "N1", "N1", "N3"])

    def test_generated_inputs_match_their_description(self):
        inp = datagen.ingest_inputs(7, n_history=500, n_files=4, rows_per_file=200)
        self.assertEqual(len(inp.files), 4)
        history_ids = {r[0] for r in inp.history}
        seen = set(history_ids)
        for rows in inp.files:
            ids = [r[0] for r in rows]
            self.assertEqual(len(ids), len(set(ids)))  # distinct within a file
            self.assertEqual(sum(i in seen for i in ids), 40)  # 20 % re-sent
            seen.update(ids)
        blanks = sum(r[3] == "" for rows in inp.files for r in rows)
        self.assertLess(blanks, 30)
        self.assertEqual(inp.history, datagen.ingest_inputs(
            7, n_history=500, n_files=4, rows_per_file=200).history)
        target, landed = stats.ingest_expectation(inp.history, inp.files)
        self.assertEqual(len(landed), 800 - blanks)
        self.assertEqual(len(target), len(history_ids | {i for i in landed}))


class RunFailsOnWrongPinTest(unittest.TestCase):
    def test_wrong_pinned_checksum_fails_the_op_and_the_run(self):
        import run

        class Args:
            seed, seconds = 1, 0.0

        r = run.Run(Args, "", None, None, run.Tracer(False))
        pins = stats.Pins()
        r.attempted += 3
        self.assertTrue(r.check_output(pins, "q1_pricing_summary", "q1#-1", (4, 0)))
        self.assertFalse(r.check_output(pins, "q1_pricing_summary", "q1#0", (4, 42)))
        self.assertTrue(r.check_output(pins, "q6", "q6#0", (1, 7)))
        self.assertEqual(r.failed, 1)
        self.assertIn("q1#0", r.errors[0])
        self.assertFalse(r.correct)


class OracleCheckTest(unittest.TestCase):
    def test_a_wrong_op_fails_each_of_its_timed_attempts(self):
        import tempfile
        from types import SimpleNamespace

        import run

        class DF:
            columns = ["n"]

            def __init__(self, rows):
                self.rows = rows

            def collect(self):
                return self.rows

        class Args:
            seed, seconds = 1, 0.0

        def op(rows, oracle):
            return SimpleNamespace(fn=lambda spark, sf_dir: DF(rows), oracle=oracle)

        one_two = "SELECT unnest([1, 2]) AS n"
        registry = {"right": op([(2,), (1,)], one_two),
                    "wrong": op([(1,), (3,)], one_two),
                    "short": op([(1,), (2,)], None)}
        pins = stats.Pins()
        for name, rows in (("right", 2), ("wrong", 2), ("short", 3)):
            pins.check(name, (rows, 0))
        r = run.Run(Args, "", None, None, run.Tracer(False))
        r.samples = [("right", 0, 1.0), ("wrong", 0, 1.0), ("wrong", 1, 1.0),
                     ("short", 0, 1.0)]
        r.attempted = 4
        with tempfile.TemporaryDirectory() as d:
            datagen.tables(d, 1, sf=0.0001, n_docs=5, n_vecs=5)
            run.check_oracles(r, registry, sorted(registry), d, pins)
        self.assertEqual(r.failed, 3)
        self.assertEqual([s[0] for s in r.samples], ["right"])
        self.assertEqual(len(r.errors), 2)
        self.assertFalse(r.correct)


class EndToEndTest(unittest.TestCase):
    def run_state(self):
        import run

        class Args:
            seed, seconds = 1, 0.0

        r = run.Run(Args, "", None, None, run.Tracer(False))
        r.samples = [("op", i % 2, 1.0 + i / 100) for i in range(30)]
        r.passes = [{"wall": 10.0, "rows": 1000, "work_cpu": 4.0},
                    {"wall": 10.0, "rows": 1000, "work_cpu": 6.0}]
        return run, r

    def test_times_scale_by_stolen_share_and_cpu_speed(self):
        run, r = self.run_state()
        r.t_first_op, r.t_timed_end = 100.0, 200.0
        # (busy, stolen) CPU seconds: set-up lost a third of its CPU
        # time to the hypervisor, the timed passes half
        r.cpu_marks = {"start": (100.0, 10.0), "first_op": (140.0, 30.0),
                       "timed_end": (180.0, 70.0)}
        ref = run.SPEED_REF_S
        speed = [(50.0, ref), (99.0, ref),  # set-up: CPUs at full speed
                 (101.0, 1.5 * ref), (150.0, 2.5 * ref),  # timed: 2x slow
                 (201.0, 9 * ref)]  # after the timed passes: not counted
        out, raw, slow = run.end_to_end(r, 30.0, speed)
        self.assertEqual(slow["setup"], {"steal": 1.5, "cycles": 1.0, "both": 1.5})
        self.assertEqual(slow["timed"], {"steal": 2.0, "cycles": 2.0, "both": 4.0})
        self.assertEqual(raw["rows_per_s"], 100.0)
        self.assertEqual(raw["work_cpu_s"], 5.0)
        self.assertEqual(out["setup_s"], 20.0)
        self.assertEqual(out["work_cpu_s"], 2.5)  # CPU clocks skip stolen time
        self.assertEqual(out["rows_per_s"], 400.0)
        self.assertAlmostEqual(out["op_p50_s"], raw["op_p50_s"] / 4)
        self.assertAlmostEqual(out["op_tail_s"], raw["op_tail_s"] / 4)
        self.assertEqual(r.extra["tail_n"], 30)

    def test_without_readings_nothing_is_scaled(self):
        run, r = self.run_state()
        out, raw, slow = run.end_to_end(r, 30.0, [])
        self.assertEqual(slow["timed"]["both"], 1.0)
        self.assertEqual(out, raw)

    def test_steal_slowness_is_wanted_over_run_cpu_time(self):
        self.assertEqual(stats.steal_slowness((10.0, 1.0), (50.0, 1.0)), 1.0)
        self.assertEqual(stats.steal_slowness((10.0, 1.0), (40.0, 11.0)), 4 / 3)
        self.assertEqual(stats.steal_slowness((10.0, 1.0), (10.0, 1.0)), 1.0)

    def test_cycle_slowness_is_the_mean_over_the_reference(self):
        self.assertEqual(stats.cycle_slowness([1.0, 1.0, 4.0], 2.0), 1.0)
        self.assertEqual(stats.cycle_slowness([], 2.0), 1.0)


if __name__ == "__main__":
    unittest.main()
